package graft.sources

/** The Hudi METADATA TABLE's `files` partition (q368) — the format's
  * own answer to the planning bottleneck at 100 TB: file LISTING.
  * `.hoodie/metadata` is itself a small merge-on-read Hudi table
  * whose `files` partition carries, per data-table partition, a map
  * of file name -> (size, isDeleted); planners read THAT instead of
  * listing the storage (on object stores a LIST over millions of
  * files dominates query planning; the MDT makes it one log replay).
  *
  * Spec source (public): the Hudi tech spec's metadata table layout —
  * HoodieMetadataRecord{key, type, filesystemMetadata:
  * map<HoodieMetadataFileInfo{size, isDeleted}>}, records carried in
  * log blocks under `.hoodie/metadata/files/`, one deltacommit on the
  * MDT's own timeline per data-table instant (same instant time).
  * This module writes the log-block form the spec allows (the HFile
  * base-file form is an optimization of the same records) through
  * the engine's own [[HudiLog]] writer and [[AvroWrite]] datum
  * encoder, and replays it with [[HudiLog.parse]]/[[AvroGeneric]].
  *
  * Laws this enables (q368): MDT-planned file set ≡ listing-planned
  * set; a file on disk but absent from the MDT (the orphan a failed
  * write leaves) is INVISIBLE to MDT planning; CLEAN appends
  * tombstones so the MDT never resurrects reclaimed files; append ≡
  * rebuild byte-exact on the log. Totality as everywhere: any
  * malformed byte or dangling reference yields None.
  */
object HudiMdt {

  import AvroGeneric.{V, VBool, VLong, VMap, VRecord, VString}

  /** Reduced-but-shaped HoodieMetadataRecord: key (the data-table
    * partition path), type (2 = FILES), filesystemMetadata map.
    */
  val FilesSchema: String =
    """{"type":"record","name":"HoodieMetadataRecord","fields":[{"name":"key","type":"string"},{"name":"type","type":"int"},{"name":"filesystemMetadata","type":{"type":"map","values":{"type":"record","name":"HoodieMetadataFileInfo","fields":[{"name":"size","type":"long"},{"name":"isDeleted","type":"boolean"}]}}}]}"""

  private lazy val schema = AvroGeneric.parseSchema(FilesSchema).get

  /** The single files-partition log file (one slice, blocks appended
    * per instant) and the MDT's own timeline prefix.
    */
  val LogPath = ".hoodie/metadata/files/.files-0000_00000000000000.log.1_0-0-0"
  private def mdtCommit(instant: String) =
    s".hoodie/metadata/.hoodie/$instant.deltacommit"

  private val MdtTimelineRe =
    "^\\.hoodie/metadata/\\.hoodie/(\\d+)\\.deltacommit$".r
  private val DataTimelineRe =
    "^\\.hoodie/(\\d+)\\.(commit|deltacommit|replacecommit|clean)$".r
  private val BaseNameRe = "^([^_/.]+)_[^_/]+_(\\d+)\\.parquet$".r

  /** File ids replaced by one replacecommit body (clustering):
    * None when the body does not name them.
    */
  private def replacedFids(body: Array[Byte]): Option[Seq[String]] = {
    import Json.{JArray, JObject, JString}
    Json.parse(new String(body,
      java.nio.charset.StandardCharsets.UTF_8)) match {
      case Some(o: JObject) =>
        o.get("partitionToReplaceFileIds") match {
          case Some(parts: JObject) =>
            val per = parts.fields.map {
              case (_, JArray(xs)) =>
                val fids = xs.collect { case JString(f) => f }
                if (fids.length == xs.length) Some(fids) else None
              case _ => None
            }
            if (per.exists(_.isEmpty)) None
            else Some(per.flatMap(_.get))
          case _ => None
        }
      case _ => None
    }
  }

  /** Encode one files record for `partition`. */
  def filesRecord(partition: String,
                  entries: Seq[(String, Long, Boolean)]): Array[Byte] = {
    val v: V = VRecord(Vector(
      "key" -> VString(partition),
      "type" -> VLong(2L),
      "filesystemMetadata" -> VMap(entries.sortBy(_._1).toVector.map {
        case (name, size, deleted) =>
          name -> VRecord(Vector(
            "size" -> VLong(size),
            "isDeleted" -> VBool(deleted)))
      })))
    AvroWrite.encode(v, schema)
  }

  private def blockFor(instant: String,
                       perPart: Seq[(String, Seq[(String, Long, Boolean)])])
      : Array[Byte] =
    HudiLog.writeBlock(HudiLog.TypeAvroData,
      Seq(HudiLog.HdrInstantTime -> instant,
        HudiLog.HdrSchema -> FilesSchema),
      HudiLog.dataContent(perPart.sortBy(_._1).map { case (p, es) =>
        filesRecord(p, es)
      }))

  /** The (partition, filename, size, isDeleted) rows one DATA
    * instant contributes: commit/deltacommit write stats become live
    * entries sized from the actual bytes; a clean's deletion
    * inventory becomes tombstones. None on malformed JSON or a stats
    * path with no bytes (a sync must never record a size it cannot
    * prove).
    */
  private def instantEntries(files: Map[String, Array[Byte]],
                             instant: String, action: String)
      : Option[Seq[(String, String, Long, Boolean)]] = {
    import Json.{JArray, JObject, JString}
    val body = files.get(s".hoodie/$instant.$action") match {
      case Some(b) =>
        Json.parse(new String(b,
          java.nio.charset.StandardCharsets.UTF_8))
      case None => None
    }
    body match {
      case Some(o: JObject) if action == "clean" =>
        o.get("deleted").collect { case JArray(xs) =>
          xs.collect { case JString(p) => p }
        }.map(_.flatMap { p =>
          val slash = p.indexOf('/')
          if (slash <= 0) None
          else Some((p.take(slash), p.drop(slash + 1), 0L, true))
        })
      case Some(o: JObject) =>
        o.get("partitionToWriteStats").collect {
          case parts: JObject =>
            val rows = parts.fields.flatMap { case (part, statsJ) =>
              statsJ match {
                case JArray(stats) => stats.map {
                  case st: JObject =>
                    for {
                      p <- st.get("path").collect {
                        case JString(x) => x }
                      bytes <- files.get(p)
                      slash = p.indexOf('/')
                      if slash > 0 && p.take(slash) == part
                    } yield (part, p.drop(slash + 1),
                      bytes.length.toLong, false)
                  case _ => Some(null)
                }
                case _ => Seq(Some(null))
              }
            }
            if (rows.exists(r => r.isEmpty || r.get == null)) None
            else if (action != "replacecommit")
              Some(rows.map(_.get))
            else {
              // clustering: the replaced groups' EVERY tracked file
              // (bases and logs alike) goes dark — tombstone them
              replacedFids(
                files(s".hoodie/$instant.$action")).map { fids =>
                val tombs = files.keys.toSeq.sorted.flatMap { p =>
                  val slash = p.indexOf('/')
                  if (slash <= 0 || p.startsWith(".hoodie/")) None
                  else {
                    val name = p.drop(slash + 1)
                    val fid = name match {
                      case BaseNameRe(f, _) => f
                      case _ =>
                        val core = name.stripPrefix(".")
                        val us = core.indexOf('_')
                        if (name.startsWith(".") && us > 0)
                          core.take(us)
                        else null
                    }
                    if (fid != null && fids.contains(fid))
                      Some((p.take(slash), name, 0L, true))
                    else None
                  }
                }
                rows.map(_.get) ++ tombs
              }
            }
        }.flatten
      case _ => None
    }
  }

  /** Bootstrap the metadata table from the data timeline: one MDT
    * deltacommit (and one appended log block) per completed data
    * instant, ascending. Returns the MDT file map
    * (log + MDT timeline); None on any malformed instant.
    */
  def sync(files: Map[String, Array[Byte]])
      : Option[Map[String, Array[Byte]]] = {
    val instants = files.keys.toSeq.collect {
      case DataTimelineRe(i, a) => (i, a)
    }.sorted
    val log = new java.io.ByteArrayOutputStream()
    val out = Map.newBuilder[String, Array[Byte]]
    var ok = true
    instants.foreach { case (instant, action) =>
      instantEntries(files, instant, action) match {
        case Some(rows) =>
          val perPart = rows.groupBy(_._1).toSeq.map { case (p, rs) =>
            p -> rs.map(r => (r._2, r._3, r._4))
          }
          val b = blockFor(instant, perPart)
          log.write(b, 0, b.length)
          out += mdtCommit(instant) -> "{}".getBytes("UTF-8")
        case None => ok = false
      }
    }
    if (!ok || instants.isEmpty) None
    else Some((out += (LogPath -> log.toByteArray)).result())
  }

  /** Append one instant's rows to an EXISTING metadata table (the
    * per-commit sync path — a clean's tombstones, a new commit's
    * files). Returns only the changed/new MDT files. None if the MDT
    * log is absent (nothing to append to).
    */
  def appendInstant(mdt: Map[String, Array[Byte]], instant: String,
                    rows: Seq[(String, String, Long, Boolean)])
      : Option[Map[String, Array[Byte]]] =
    mdt.get(LogPath).map { old =>
      val perPart = rows.groupBy(_._1).toSeq.map { case (p, rs) =>
        p -> rs.map(r => (r._2, r._3, r._4))
      }
      val b = blockFor(instant, perPart)
      Map(LogPath -> (old ++ b),
        mdtCommit(instant) -> "{}".getBytes("UTF-8"))
    }

  /** Sync a CLEAN into the MDT: tombstones for its deletions. */
  def appendClean(mdt: Map[String, Array[Byte]], instant: String,
                  deleted: Seq[String])
      : Option[Map[String, Array[Byte]]] = {
    val rows = deleted.flatMap { p =>
      val slash = p.indexOf('/')
      if (slash <= 0) None
      else Some((p.take(slash), p.drop(slash + 1), 0L, true))
    }
    if (rows.length != deleted.length) None
    else appendInstant(mdt, instant, rows)
  }

  /** Replay the files partition: completed MDT instants ascending,
    * per-(partition, filename) last-wins, tombstones removing. The
    * LIVE listing: partition -> (filename, size), names sorted. None
    * on any malformed block or a record shape the schema forbids.
    */
  def listing(files: Map[String, Array[Byte]])
      : Option[Map[String, Seq[(String, Long)]]] = {
    val completed = files.keys.collect {
      case MdtTimelineRe(i) => i }.toSet
    for {
      logBytes <- files.get(LogPath)
      blocks <- HudiLog.parse(logBytes)
      state <- {
        val m = scala.collection.mutable.LinkedHashMap
          .empty[(String, String), (Long, Boolean)]
        var ok = true
        blocks.sortBy(_.instant).foreach { b =>
          if (completed(b.instant) &&
            b.blockType == HudiLog.TypeAvroData) {
            b.records.foreach { r =>
              val row = for {
                part <- r.field("key").flatMap(_.asString)
                fsm <- r.field("filesystemMetadata")
                entries <- fsm match {
                  case AvroGeneric.VMap(es) => Some(es)
                  case _ => None
                }
              } yield entries.foreach { case (name, info) =>
                (info.field("size").flatMap(_.asLong),
                  info.field("isDeleted")) match {
                  case (Some(sz), Some(VBool(del))) =>
                    m((part, name)) = (sz, del)
                  case _ => ok = false
                }
              }
              if (row.isEmpty) ok = false
            }
          }
        }
        if (ok) Some(m) else None
      }
    } yield state.toSeq.collect {
      case ((part, name), (sz, del)) if !del => (part, name, sz)
    }.groupBy(_._1).view.mapValues(
      _.map(r => (r._2, r._3)).sortBy(_._1)).toMap
  }

  /** Plan from the MDT ALONE: latest completed base per file group,
    * computed over MDT-listed names (never a storage LIST). The
    * completed set still comes from the data timeline — planning
    * always consults the timeline; the MDT replaces the file
    * LISTING, not the instant filter.
    */
  def planFromMdt(files: Map[String, Array[Byte]])
      : Option[Seq[String]] = {
    val completed = files.keys.collect {
      case DataTimelineRe(i, a) if a != "clean" => i }.toSet
    listing(files).map { parts =>
      parts.toSeq.flatMap { case (part, fs) =>
        fs.collect {
          case (name @ BaseNameRe(fid, inst), _) if completed(inst) =>
            (fid, inst, s"$part/$name")
        }.groupBy(_._1).map { case (_, bs) => bs.maxBy(_._2)._3 }
      }.sorted
    }
  }

  // ---- column_stats partition (q374) ----------------------------------------

  /** Reduced-but-shaped column-stats record (type 3): per (file,
    * column) min/max/valueCount — what lets a planner PRUNE files
    * from the MDT alone, without opening a single footer.
    */
  val ColStatsSchema: String =
    """{"type":"record","name":"HoodieMetadataRecord","fields":[{"name":"key","type":"string"},{"name":"type","type":"int"},{"name":"columnStats","type":{"type":"record","name":"HoodieMetadataColumnStats","fields":[{"name":"fileName","type":"string"},{"name":"columnName","type":"string"},{"name":"minValue","type":"long"},{"name":"maxValue","type":"long"},{"name":"valueCount","type":"long"}]}}]}"""

  private lazy val colStatsSchema =
    AvroGeneric.parseSchema(ColStatsSchema).get

  /** The column_stats partition's log file. */
  val ColStatsLogPath =
    ".hoodie/metadata/column_stats/.col-stats-0000_00000000000000.log.1_0-0-0"

  private def colStatsRecord(partition: String, fileName: String,
                             column: String, mn: Long, mx: Long,
                             cnt: Long): Array[Byte] = {
    val v: V = VRecord(Vector(
      "key" -> VString(s"$partition/$fileName/$column"),
      "type" -> VLong(3L),
      "columnStats" -> VRecord(Vector(
        "fileName" -> VString(fileName),
        "columnName" -> VString(column),
        "minValue" -> VLong(mn),
        "maxValue" -> VLong(mx),
        "valueCount" -> VLong(cnt)))))
    AvroWrite.encode(v, colStatsSchema)
  }

  /** Bootstrap the column_stats partition: per completed data
    * instant, one log block carrying min/max/count for every LONG
    * column of every parquet file that instant added (decoded
    * through the engine's own reader — the stats are PROVEN, not
    * copied). Shares the MDT timeline with [[sync]]. None on any
    * malformed instant or undecodable column.
    */
  def syncColumnStats(files: Map[String, Array[Byte]],
                      cols: Seq[String])
      : Option[Map[String, Array[Byte]]] = {
    val instants = files.keys.toSeq.collect {
      case DataTimelineRe(i, a) => (i, a)
    }.sorted
    val log = new java.io.ByteArrayOutputStream()
    val out = Map.newBuilder[String, Array[Byte]]
    var ok = true
    instants.foreach { case (instant, action) =>
      instantEntries(files, instant, action) match {
        case Some(rows) =>
          val recs = rows.filter(r => !r._4 &&
            r._2.endsWith(".parquet")).flatMap {
            case (part, name, _, _) =>
              cols.map { c =>
                files.get(s"$part/$name")
                  .flatMap(Parquet.columnLongs(_, c)) match {
                  case Some(vs) if vs.nonEmpty =>
                    Some(colStatsRecord(part, name, c, vs.min,
                      vs.max, vs.length.toLong))
                  case _ => None
                }
              }
          }
          if (recs.exists(_.isEmpty)) ok = false
          else if (recs.nonEmpty) {
            val b = HudiLog.writeBlock(HudiLog.TypeAvroData,
              Seq(HudiLog.HdrInstantTime -> instant,
                HudiLog.HdrSchema -> ColStatsSchema),
              HudiLog.dataContent(recs.map(_.get)))
            log.write(b, 0, b.length)
            out += mdtCommit(instant) -> "{}".getBytes("UTF-8")
          }
        case None => ok = false
      }
    }
    if (!ok || instants.isEmpty) None
    else Some((out += (ColStatsLogPath -> log.toByteArray)).result())
  }

  /** Replay the column_stats partition: (partition/fileName,
    * column) -> (min, max, valueCount), last-wins per key over
    * completed MDT instants.
    */
  def colStatsListing(files: Map[String, Array[Byte]])
      : Option[Map[(String, String), (Long, Long, Long)]] = {
    val completed = files.keys.collect {
      case MdtTimelineRe(i) => i }.toSet
    for {
      logBytes <- files.get(ColStatsLogPath)
      blocks <- HudiLog.parse(logBytes)
      state <- {
        val m = scala.collection.mutable.LinkedHashMap
          .empty[(String, String), (Long, Long, Long)]
        var ok = true
        blocks.sortBy(_.instant).foreach { b =>
          if (completed(b.instant) &&
            b.blockType == HudiLog.TypeAvroData) {
            b.records.foreach { r =>
              val row = for {
                cs <- r.field("columnStats")
                fn <- cs.field("fileName").flatMap(_.asString)
                cn <- cs.field("columnName").flatMap(_.asString)
                mn <- cs.field("minValue").flatMap(_.asLong)
                mx <- cs.field("maxValue").flatMap(_.asLong)
                cnt <- cs.field("valueCount").flatMap(_.asLong)
                key <- r.field("key").flatMap(_.asString)
                slash = key.indexOf('/')
                if slash > 0
              } yield m((s"${key.take(slash)}/$fn", cn)) = (mn, mx, cnt)
              if (row.isEmpty) ok = false
            }
          }
        }
        if (ok) Some(m.toMap) else None
      }
    } yield state
  }

  /** MDT-only PRUNED plan: the files-partition plan filtered by
    * column_stats — keep a file when its [min, max] intersects
    * [lo, hi], and keep it CONSERVATIVELY when it has no stats for
    * the column (absent stats must never cause a wrong skip).
    */
  def prunePlan(files: Map[String, Array[Byte]], column: String,
                lo: Long, hi: Long): Option[Seq[String]] =
    for {
      plan <- planFromMdt(files)
      stats <- colStatsListing(files)
    } yield plan.filter { p =>
      stats.get((p, column)) match {
        case Some((mn, mx, _)) => mx >= lo && mn <= hi
        case None => true // conservative: no stats, must read
      }
    }

  // ---- record_index partition (q391) ----------------------------------------

  /** Reduced-but-shaped record-index record (type 5): record key ->
    * HoodieRecordIndexInfo{partitionPath, fileId, instantTime} — the
    * location that lets an UPSERT tag incoming records against
    * existing file groups from the MDT alone, instead of reading a
    * bloom filter from every base file or running a full join. This
    * is the reference's per-row existence probe
    * (`/root/reference/database_utils.py:128-145`, the J5 dedup gate)
    * as an index lookup instead of a scan. Deleted keys ride
    * [[HudiLog.TypeDelete]] blocks, the spec's own tombstone carrier.
    */
  val RecordIndexSchema: String =
    """{"type":"record","name":"HoodieMetadataRecord","fields":[{"name":"key","type":"string"},{"name":"type","type":"int"},{"name":"recordIndexMetadata","type":{"type":"record","name":"HoodieRecordIndexInfo","fields":[{"name":"partitionPath","type":"string"},{"name":"fileId","type":"string"},{"name":"instantTime","type":"string"}]}}]}"""

  private lazy val recordIndexSchema =
    AvroGeneric.parseSchema(RecordIndexSchema).get

  /** The record_index partition's log file. */
  val RecordIndexLogPath =
    ".hoodie/metadata/record_index/.record-index-0000_00000000000000.log.1_0-0-0"

  private val RliLogNameRe = "^\\.([^_/.]+)_(\\d+)\\.log\\..*$".r

  /** Encode one record-index upsert. */
  def recordIndexRecord(key: String, partition: String,
                        fileId: String, instant: String): Array[Byte] = {
    val v: V = VRecord(Vector(
      "key" -> VString(key),
      "type" -> VLong(5L),
      "recordIndexMetadata" -> VRecord(Vector(
        "partitionPath" -> VString(partition),
        "fileId" -> VString(fileId),
        "instantTime" -> VString(instant)))))
    AvroWrite.encode(v, recordIndexSchema)
  }

  /** The (upserts, deletes) one data instant contributes to the
    * record index. A base-file write stat contributes every rec_id ->
    * (partition, fileId) of the file it names (keys read from the
    * actual bytes — PROVEN, never copied); a log-file stat
    * contributes the records of the blocks BELONGING to that instant
    * (updates keep their file group; delete blocks tombstone keys); a
    * clean changes no record membership. None on malformed stats,
    * missing bytes, or an undecodable block — a sync must never
    * index a location it cannot prove.
    */
  private def instantRecordChanges(files: Map[String, Array[Byte]],
                                   instant: String, action: String)
      : Option[(Seq[(Long, String, String)], Seq[Long])] = {
    if (action == "clean") return Some((Nil, Nil))
    import Json.{JArray, JObject, JString}
    val ups = Seq.newBuilder[(Long, String, String)]
    val dels = Seq.newBuilder[Long]
    var ok = true
    val parsed = files.get(s".hoodie/$instant.$action")
      .flatMap(b => Json.parse(new String(b,
        java.nio.charset.StandardCharsets.UTF_8)))
    parsed match {
      case Some(o: JObject) =>
        o.get("partitionToWriteStats") match {
          case Some(parts: JObject) =>
            parts.fields.foreach { case (part, statsJ) =>
              statsJ match {
                case JArray(stats) => stats.foreach {
                  case st: JObject =>
                    st.get("path").collect { case JString(x) => x }
                      match {
                      case Some(p)
                        if p.take(p.indexOf('/') max 0) == part =>
                        val name = p.drop(part.length + 1)
                        name match {
                          case BaseNameRe(fid, _) =>
                            files.get(p)
                              .flatMap(Parquet.columnLongs(_, "rec_id"))
                              match {
                              case Some(ks) => ks.foreach(k =>
                                ups += ((k, part, fid)))
                              case None => ok = false
                            }
                          case RliLogNameRe(fid, _) =>
                            files.get(p).flatMap(HudiLog.parse) match {
                              case Some(blocks) =>
                                blocks.filter(_.instant == instant)
                                  .foreach { b =>
                                    if (b.blockType ==
                                      HudiLog.TypeAvroData) {
                                      b.records.foreach { r =>
                                        r.field("rec_id")
                                          .flatMap(_.asLong) match {
                                          case Some(k) =>
                                            ups += ((k, part, fid))
                                          case None => ok = false
                                        }
                                      }
                                    } else if (b.blockType ==
                                      HudiLog.TypeDelete) {
                                      b.deleteKeys.foreach { k =>
                                        scala.util.Try(k.toLong)
                                          .toOption match {
                                          case Some(kk) => dels += kk
                                          case None => ok = false
                                        }
                                      }
                                    }
                                  }
                              case None => ok = false
                            }
                          case _ => ok = false
                        }
                      case _ => ok = false
                    }
                  case _ => ok = false
                }
                case _ => ok = false
              }
            }
          case _ => ok = false
        }
      case _ => ok = false
    }
    if (ok) Some((ups.result(), dels.result())) else None
  }

  private def rliBlocks(instant: String,
                        ups: Seq[(Long, String, String)],
                        dels: Seq[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (ups.nonEmpty) {
      val b = HudiLog.writeBlock(HudiLog.TypeAvroData,
        Seq(HudiLog.HdrInstantTime -> instant,
          HudiLog.HdrSchema -> RecordIndexSchema),
        HudiLog.dataContent(ups.sortBy(_._1).map { case (k, p, f) =>
          recordIndexRecord(k.toString, p, f, instant)
        }))
      out.write(b, 0, b.length)
    }
    if (dels.nonEmpty) {
      val b = HudiLog.writeBlock(HudiLog.TypeDelete,
        Seq(HudiLog.HdrInstantTime -> instant),
        HudiLog.deleteContent(dels.sorted.map(_.toString)))
      out.write(b, 0, b.length)
    }
    out.toByteArray
  }

  /** Bootstrap the record_index partition from the data timeline:
    * per completed data instant ascending, one upsert block (and one
    * delete block when the instant tombstones keys) through the own
    * HudiLog writer, sharing the MDT timeline with [[sync]]. None on
    * any malformed instant.
    */
  def syncRecordIndex(files: Map[String, Array[Byte]])
      : Option[Map[String, Array[Byte]]] = {
    val instants = files.keys.toSeq.collect {
      case DataTimelineRe(i, a) => (i, a)
    }.sorted
    val log = new java.io.ByteArrayOutputStream()
    val out = Map.newBuilder[String, Array[Byte]]
    var ok = true
    instants.foreach { case (instant, action) =>
      instantRecordChanges(files, instant, action) match {
        case Some((ups, dels)) =>
          val b = rliBlocks(instant, ups, dels)
          log.write(b, 0, b.length)
          out += mdtCommit(instant) -> "{}".getBytes("UTF-8")
        case None => ok = false
      }
    }
    if (!ok || instants.isEmpty) None
    else Some(
      (out += (RecordIndexLogPath -> log.toByteArray)).result())
  }

  /** Append ONE data instant to an existing record index (the
    * per-commit sync path). Changes are derived by the same rule as
    * [[syncRecordIndex]], so append ≡ rebuild byte-exact on the log.
    * None if the RLI log is absent or the instant is malformed.
    */
  def appendRecordIndex(mdt: Map[String, Array[Byte]],
                        files: Map[String, Array[Byte]],
                        instant: String, action: String)
      : Option[Map[String, Array[Byte]]] =
    for {
      old <- mdt.get(RecordIndexLogPath)
      changes <- instantRecordChanges(files, instant, action)
    } yield Map(
      RecordIndexLogPath ->
        (old ++ rliBlocks(instant, changes._1, changes._2)),
      mdtCommit(instant) -> "{}".getBytes("UTF-8"))

  /** Replay the record index: completed MDT instants ascending,
    * last-wins per key, delete blocks removing. The LIVE location
    * map: rec_id -> (partitionPath, fileId). None on any malformed
    * block or a record shape the schema forbids.
    */
  def recordIndexListing(files: Map[String, Array[Byte]])
      : Option[Map[Long, (String, String)]] = {
    val completed = files.keys.collect {
      case MdtTimelineRe(i) => i }.toSet
    for {
      logBytes <- files.get(RecordIndexLogPath)
      blocks <- HudiLog.parse(logBytes)
      state <- {
        val m = scala.collection.mutable.LinkedHashMap
          .empty[Long, (String, String)]
        var ok = true
        blocks.sortBy(_.instant).foreach { b =>
          if (completed(b.instant)) {
            if (b.blockType == HudiLog.TypeAvroData) {
              b.records.foreach { r =>
                val row = for {
                  key <- r.field("key").flatMap(_.asString)
                  k <- scala.util.Try(key.toLong).toOption
                  info <- r.field("recordIndexMetadata")
                  part <- info.field("partitionPath")
                    .flatMap(_.asString)
                  fid <- info.field("fileId").flatMap(_.asString)
                } yield m(k) = (part, fid)
                if (row.isEmpty) ok = false
              }
            } else if (b.blockType == HudiLog.TypeDelete) {
              b.deleteKeys.foreach { k =>
                scala.util.Try(k.toLong).toOption match {
                  case Some(kk) => m.remove(kk)
                  case None => ok = false
                }
              }
            }
          }
        }
        if (ok) Some(m.toMap) else None
      }
    } yield state
  }

  // ---- bloom_filters partition (q397) ----------------------------------------

  /** Reduced-but-shaped bloom-filter record (type 4): key =
    * "partition/fileName", the filter a split-block bloom bitset
    * (the parquet SBBF arithmetic — XXH64 over the key's 8-byte LE
    * PLAIN encoding, eight salted bits in one 32-byte block) built
    * from the file's PROVEN keys. The record-level index (q391)
    * answers "where is key k"; the bloom partition answers the dual
    * a planner asks first at 100 TB — "which files can possibly hold
    * k" — without opening a single footer.
    */
  val BloomSchema: String =
    """{"type":"record","name":"HoodieMetadataRecord","fields":[{"name":"key","type":"string"},{"name":"type","type":"int"},{"name":"bloomFilter","type":{"type":"record","name":"HoodieMetadataBloomFilter","fields":[{"name":"type","type":"string"},{"name":"bitmap","type":"bytes"}]}}]}"""

  private lazy val bloomSchema = AvroGeneric.parseSchema(BloomSchema).get

  /** The bloom_filters partition's log file. */
  val BloomLogPath =
    ".hoodie/metadata/bloom_filters/.bloom-0000_00000000000000.log.1_0-0-0"

  private def bloomRecord(key: String,
                          bitmap: Array[Byte]): Array[Byte] = {
    val v: V = VRecord(Vector(
      "key" -> VString(key),
      "type" -> VLong(4L),
      "bloomFilter" -> VRecord(Vector(
        "type" -> VString("SBBF_V1"),
        "bitmap" -> AvroGeneric.VBytes(bitmap.length, bitmap)))))
    AvroWrite.encode(v, bloomSchema)
  }

  private def longKeyBytes(d: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((d >>> (8 * i)) & 0xff).toByte; i += 1 }
    b
  }

  /** The (upserts, tombstones) one instant contributes to the bloom
    * partition: a base-parquet write stat yields a filter over the
    * file's PROVEN rec_ids; a clean's deletions tombstone their
    * keys. Log-file stats contribute nothing (blooms cover base
    * files). None on missing bytes or an undecodable file.
    */
  private def instantBloomChanges(files: Map[String, Array[Byte]],
                                  instant: String, action: String)
      : Option[(Seq[(String, Array[Byte])], Seq[String])] =
    instantEntries(files, instant, action).flatMap { rows =>
      val dels = rows.filter(_._4).map(r => s"${r._1}/${r._2}")
      val per = rows.filter(r => !r._4 && r._2.endsWith(".parquet"))
        .map { case (part, name, _, _) =>
          files.get(s"$part/$name")
            .flatMap(Parquet.columnLongs(_, "rec_id"))
            .map { ks =>
              val bits = ParquetWrite.bloomBits(
                ks.iterator.map(longKeyBytes),
                math.max(ks.length, 1))
              s"$part/$name" -> bits
            }
        }
      if (per.exists(_.isEmpty)) None
      else Some((per.map(_.get), dels))
    }

  private def bloomBlocks(instant: String,
                          ups: Seq[(String, Array[Byte])],
                          dels: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (ups.nonEmpty) {
      val b = HudiLog.writeBlock(HudiLog.TypeAvroData,
        Seq(HudiLog.HdrInstantTime -> instant,
          HudiLog.HdrSchema -> BloomSchema),
        HudiLog.dataContent(ups.sortBy(_._1).map { case (k, bits) =>
          bloomRecord(k, bits)
        }))
      out.write(b, 0, b.length)
    }
    if (dels.nonEmpty) {
      val b = HudiLog.writeBlock(HudiLog.TypeDelete,
        Seq(HudiLog.HdrInstantTime -> instant),
        HudiLog.deleteContent(dels.sorted))
      out.write(b, 0, b.length)
    }
    out.toByteArray
  }

  /** Bootstrap the bloom_filters partition from the data timeline.
    * Shares the MDT timeline. None on any malformed instant.
    */
  def syncBloomFilters(files: Map[String, Array[Byte]])
      : Option[Map[String, Array[Byte]]] = {
    val instants = files.keys.toSeq.collect {
      case DataTimelineRe(i, a) => (i, a)
    }.sorted
    val log = new java.io.ByteArrayOutputStream()
    val out = Map.newBuilder[String, Array[Byte]]
    var ok = true
    instants.foreach { case (instant, action) =>
      instantBloomChanges(files, instant, action) match {
        case Some((ups, dels)) =>
          val b = bloomBlocks(instant, ups, dels)
          log.write(b, 0, b.length)
          out += mdtCommit(instant) -> "{}".getBytes("UTF-8")
        case None => ok = false
      }
    }
    if (!ok || instants.isEmpty) None
    else Some((out += (BloomLogPath -> log.toByteArray)).result())
  }

  /** Append ONE instant (same rule as [[syncBloomFilters]], so
    * append ≡ rebuild byte-exact). None if the log is absent.
    */
  def appendBloomFilters(mdt: Map[String, Array[Byte]],
                         files: Map[String, Array[Byte]],
                         instant: String, action: String)
      : Option[Map[String, Array[Byte]]] =
    for {
      old <- mdt.get(BloomLogPath)
      changes <- instantBloomChanges(files, instant, action)
    } yield Map(
      BloomLogPath -> (old ++ bloomBlocks(instant, changes._1,
        changes._2)),
      mdtCommit(instant) -> "{}".getBytes("UTF-8"))

  /** Replay the bloom partition: "partition/fileName" -> the parsed
    * SBBF, last-wins, tombstones removing. None on any malformed
    * block or bitmap.
    */
  def bloomListing(files: Map[String, Array[Byte]])
      : Option[Map[String, Parquet.BloomFilter]] = {
    val completed = files.keys.collect {
      case MdtTimelineRe(i) => i }.toSet
    for {
      logBytes <- files.get(BloomLogPath)
      blocks <- HudiLog.parse(logBytes)
      state <- {
        val m = scala.collection.mutable.LinkedHashMap
          .empty[String, Parquet.BloomFilter]
        var ok = true
        blocks.sortBy(_.instant).foreach { b =>
          if (completed(b.instant)) {
            if (b.blockType == HudiLog.TypeAvroData) {
              b.records.foreach { r =>
                val row = for {
                  key <- r.field("key").flatMap(_.asString)
                  bf <- r.field("bloomFilter")
                  bits <- bf.field("bitmap") match {
                    case Some(AvroGeneric.VBytes(n, arr))
                      if arr != null && arr.length == n &&
                        n > 0 && n % 32 == 0 => Some(arr)
                    case _ => None
                  }
                } yield m(key) = new Parquet.BloomFilter(bits)
                if (row.isEmpty) ok = false
              }
            } else if (b.blockType == HudiLog.TypeDelete) {
              b.deleteKeys.foreach(m.remove)
            }
          }
        }
        if (ok) Some(m.toMap) else None
      }
    } yield state
  }

  // ---- secondary_index partition (q411) --------------------------------------

  /** Reduced-but-shaped secondary-index record (type 7): composite
    * key `escape(secondaryKey)$escape(recordKey)` ->
    * HoodieSecondaryIndexInfo{isDeleted} — the Hudi 1.0 MDT
    * partition that answers a NON-key-column predicate without a
    * scan: secondary key -> record keys here, record key ->
    * (partition, fileId) through the record index (q391) — a point
    * probe in two index hops. Tombstones ride isDeleted=true
    * records (the composite key needs BOTH parts, so the plain
    * delete block cannot carry them).
    */
  val SecondaryIndexSchema: String =
    """{"type":"record","name":"HoodieMetadataRecord","fields":[{"name":"key","type":"string"},{"name":"type","type":"int"},{"name":"secondaryIndexMetadata","type":{"type":"record","name":"HoodieSecondaryIndexInfo","fields":[{"name":"isDeleted","type":"boolean"}]}}]}"""

  private lazy val secondaryIndexSchema =
    AvroGeneric.parseSchema(SecondaryIndexSchema).get

  /** The secondary_index partition's log file (index on `val`). */
  val SecondaryIndexLogPath =
    ".hoodie/metadata/secondary_index_val/.secondary-index-val-0000_00000000000000.log.1_0-0-0"

  /** Escape one composite-key part: `\` -> `\\`, `$` -> `\$` — the
    * separator must never be forgeable from part content.
    */
  def escapeKeyPart(s: String): String =
    s.replace("\\", "\\\\").replace("$", "\\$")

  /** `escape(sec)$escape(rec)`. */
  def secondaryKey(sec: String, rec: String): String =
    escapeKeyPart(sec) + "$" + escapeKeyPart(rec)

  /** Split a composite key at its UNESCAPED `$` and unescape both
    * parts. None on zero or two separators, or a dangling escape —
    * a key the encoder could not have produced.
    */
  def splitSecondaryKey(key: String): Option[(String, String)] = {
    val sec = new StringBuilder
    val rec = new StringBuilder
    var cur = sec
    var seps = 0
    var i = 0
    while (i < key.length) {
      key.charAt(i) match {
        case '\\' =>
          if (i + 1 >= key.length) return None
          val c = key.charAt(i + 1)
          if (c != '\\' && c != '$') return None
          cur.append(c); i += 2
        case '$' =>
          seps += 1
          if (seps > 1) return None
          cur = rec; i += 1
        case c => cur.append(c); i += 1
      }
    }
    if (seps == 1) Some((sec.toString, rec.toString)) else None
  }

  private def secondaryRecord(sec: String, rec: String,
                              isDeleted: Boolean): Array[Byte] = {
    val v: V = VRecord(Vector(
      "key" -> VString(secondaryKey(sec, rec)),
      "type" -> VLong(7L),
      "secondaryIndexMetadata" -> VRecord(Vector(
        "isDeleted" -> VBool(isDeleted)))))
    AvroWrite.encode(v, secondaryIndexSchema)
  }

  /** The (rec_id -> val) upserts and deleted keys one data instant
    * contributes, read from the ACTUAL bytes it wrote (base parquet
    * columns, log data/delete blocks) — proven, never copied from
    * stats. A clean or a replacecommit contributes NOTHING: neither
    * changes any (key -> secondary value) fact — clustering moves
    * locations, which is the RECORD index's business (q404), not
    * this one's. None on malformed stats or undecodable bytes.
    */
  private def instantSecondaryChanges(files: Map[String, Array[Byte]],
                                      instant: String, action: String)
      : Option[(Seq[(Long, Long)], Seq[Long])] = {
    if (action == "clean" || action == "replacecommit")
      return Some((Nil, Nil))
    import Json.{JArray, JObject, JString}
    val ups = Seq.newBuilder[(Long, Long)]
    val dels = Seq.newBuilder[Long]
    var ok = true
    files.get(s".hoodie/$instant.$action")
      .flatMap(b => Json.parse(new String(b,
        java.nio.charset.StandardCharsets.UTF_8))) match {
      case Some(o: JObject) =>
        o.get("partitionToWriteStats") match {
          case Some(parts: JObject) =>
            parts.fields.foreach { case (part, statsJ) =>
              statsJ match {
                case JArray(stats) => stats.foreach {
                  case st: JObject =>
                    st.get("path").collect { case JString(x) => x }
                      match {
                      case Some(p)
                        if p.take(p.indexOf('/') max 0) == part =>
                        val name = p.drop(part.length + 1)
                        name match {
                          case BaseNameRe(_, _) =>
                            (files.get(p)
                              .flatMap(Parquet.columnLongs(_, "rec_id")),
                              files.get(p)
                                .flatMap(Parquet.columnLongs(_, "val")))
                              match {
                              case (Some(ks), Some(vs))
                                if ks.length == vs.length =>
                                ks.indices.foreach(i =>
                                  ups += ((ks(i), vs(i))))
                              case _ => ok = false
                            }
                          case RliLogNameRe(_, _) =>
                            files.get(p).flatMap(HudiLog.parse) match {
                              case Some(blocks) =>
                                blocks.filter(_.instant == instant)
                                  .foreach { b =>
                                    if (b.blockType ==
                                      HudiLog.TypeAvroData) {
                                      b.records.foreach { r =>
                                        (r.field("rec_id")
                                          .flatMap(_.asLong),
                                          r.field("val")
                                            .flatMap(_.asLong)) match {
                                          case (Some(k), Some(v)) =>
                                            ups += ((k, v))
                                          case _ => ok = false
                                        }
                                      }
                                    } else if (b.blockType ==
                                      HudiLog.TypeDelete) {
                                      b.deleteKeys.foreach { k =>
                                        scala.util.Try(k.toLong)
                                          .toOption match {
                                          case Some(kk) => dels += kk
                                          case None => ok = false
                                        }
                                      }
                                    }
                                  }
                              case None => ok = false
                            }
                          case _ => ok = false
                        }
                      case _ => ok = false
                    }
                  case _ => ok = false
                }
                case _ => ok = false
              }
            }
          case _ => ok = false
        }
      case _ => ok = false
    }
    if (ok) Some((ups.result(), dels.result())) else None
  }

  /** One instant's secondary-index block: tombstones for mappings
    * the instant invalidated (value changed or key deleted; the
    * OLD value comes from the running pre-instant state — a sync
    * that cannot name what it invalidates must refuse, so an
    * unknown deleted key is ok=None upstream), then upserts for new
    * mappings. Unchanged (key, value) facts emit NOTHING — a
    * clustering instant's block is EMPTY by construction. Returns
    * (blockBytes, newState); None when a delete names a key the
    * state never held.
    */
  private def secondaryBlock(instant: String,
                             ups: Seq[(Long, Long)], dels: Seq[Long],
                             cur: Map[Long, Long])
      : Option[(Array[Byte], Map[Long, Long])] = {
    val tomb = Seq.newBuilder[(String, String)]
    val add = Seq.newBuilder[(String, String)]
    var st = cur
    ups.sortBy(_._1).foreach { case (k, v) =>
      cur.get(k) match {
        case Some(old) if old == v => () // unchanged fact
        case Some(old) =>
          tomb += ((old.toString, k.toString))
          add += ((v.toString, k.toString))
          st = st + (k -> v)
        case None =>
          add += ((v.toString, k.toString))
          st = st + (k -> v)
      }
    }
    var ok = true
    dels.sorted.foreach { k =>
      cur.get(k) match {
        case Some(old) =>
          tomb += ((old.toString, k.toString))
          st = st - k
        case None => ok = false
      }
    }
    if (!ok) return None
    val recs = tomb.result().map { case (s, r) =>
      secondaryRecord(s, r, isDeleted = true) } ++
      add.result().map { case (s, r) =>
        secondaryRecord(s, r, isDeleted = false) }
    val bytes =
      if (recs.isEmpty) Array.empty[Byte]
      else HudiLog.writeBlock(HudiLog.TypeAvroData,
        Seq(HudiLog.HdrInstantTime -> instant,
          HudiLog.HdrSchema -> SecondaryIndexSchema),
        HudiLog.dataContent(recs))
    Some((bytes, st))
  }

  /** Bootstrap the secondary_index_val partition from the data
    * timeline: per completed data instant ascending, the
    * invalidation-aware block through the own HudiLog writer,
    * tracking the running (key -> value) state so every tombstone
    * names the exact mapping it kills. None on any malformed
    * instant or a delete of a never-written key.
    */
  def syncSecondaryIndex(files: Map[String, Array[Byte]])
      : Option[Map[String, Array[Byte]]] = {
    val instants = files.keys.toSeq.collect {
      case DataTimelineRe(i, a) => (i, a)
    }.sorted
    val log = new java.io.ByteArrayOutputStream()
    val out = Map.newBuilder[String, Array[Byte]]
    var cur = Map.empty[Long, Long]
    var ok = true
    instants.foreach { case (instant, action) =>
      instantSecondaryChanges(files, instant, action)
        .flatMap { case (ups, dels) =>
          secondaryBlock(instant, ups, dels, cur) } match {
        case Some((b, st)) =>
          log.write(b, 0, b.length)
          cur = st
          out += mdtCommit(instant) -> "{}".getBytes("UTF-8")
        case None => ok = false
      }
    }
    if (!ok || instants.isEmpty) None
    else Some(
      (out += (SecondaryIndexLogPath -> log.toByteArray)).result())
  }

  /** Append ONE data instant (same rule as [[syncSecondaryIndex]],
    * so append ≡ rebuild byte-exact). The pre-instant state is
    * recovered from the EXISTING index — the listing inverted —
    * never from re-reading the data timeline. None if the index
    * log is absent or inconsistent.
    */
  def appendSecondaryIndex(mdt: Map[String, Array[Byte]],
                           files: Map[String, Array[Byte]],
                           instant: String, action: String)
      : Option[Map[String, Array[Byte]]] =
    for {
      old <- mdt.get(SecondaryIndexLogPath)
      listing <- secondaryIndexListing(mdt ++ files.filter(
        _._1.startsWith(".hoodie/")))
      cur <- {
        val pairs = listing.toSeq.flatMap { case (v, ks) =>
          ks.toSeq.map(k => (k, v)) }
        if (pairs.map(_._1).distinct.length == pairs.length)
          Some(pairs.toMap)
        else None // a key with two live values is not an index
      }
      changes <- instantSecondaryChanges(files, instant, action)
      (block, _) <- secondaryBlock(instant, changes._1, changes._2,
        cur)
    } yield Map(
      SecondaryIndexLogPath -> (old ++ block),
      mdtCommit(instant) -> "{}".getBytes("UTF-8"))

  /** Replay the secondary index: completed MDT instants ascending,
    * isDeleted=false adds the (secondary, record) pair, true
    * removes it. The LIVE inverted map: secondary value -> record
    * keys. None on a malformed block, an unsplittable composite
    * key, or a non-numeric part (this index is on a long column).
    */
  def secondaryIndexListing(files: Map[String, Array[Byte]])
      : Option[Map[Long, Set[Long]]] = {
    val completed = files.keys.collect {
      case MdtTimelineRe(i) => i }.toSet
    for {
      logBytes <- files.get(SecondaryIndexLogPath)
      blocks <- HudiLog.parse(logBytes)
      state <- {
        val m = scala.collection.mutable.Map
          .empty[Long, Set[Long]]
        var ok = true
        blocks.sortBy(_.instant).foreach { b =>
          if (completed(b.instant) &&
            b.blockType == HudiLog.TypeAvroData) {
            b.records.foreach { r =>
              val row = for {
                key <- r.field("key").flatMap(_.asString)
                (sp, rp) <- splitSecondaryKey(key)
                sec <- scala.util.Try(sp.toLong).toOption
                rec <- scala.util.Try(rp.toLong).toOption
                info <- r.field("secondaryIndexMetadata")
                del <- info.field("isDeleted").collect {
                  case VBool(x) => x }
              } yield {
                if (del) {
                  val left = m.getOrElse(sec, Set.empty) - rec
                  if (left.isEmpty) m.remove(sec) else m(sec) = left
                } else m(sec) = m.getOrElse(sec, Set.empty) + rec
              }
              if (row.isEmpty) ok = false
            }
          }
        }
        if (ok) Some(m.toMap) else None
      }
    } yield state
  }

  /** SECONDARY-PLANNED point lookup on `val`: the two index hops —
    * secondary listing names the record keys, the record index
    * (q391) locates each key's file group — then ONLY those groups'
    * slices are decoded (the full MOR merge rules via
    * [[HudiWrite.replay]] over the planned subset). Returns (file
    * ids read, matching (rec_id, val) rows sorted). None when any
    * hop cannot prove its answer.
    */
  def secondaryLookup(files: Map[String, Array[Byte]],
                      target: Long)
      : Option[(Seq[String], Seq[(Long, Long)])] =
    for {
      sl <- secondaryIndexListing(files)
      keys = sl.getOrElse(target, Set.empty)
      idx <- recordIndexListing(files)
      fids <- {
        val per = keys.toSeq.map(idx.get(_).map(_._2))
        if (per.exists(_.isEmpty)) None
        else Some(per.flatten.distinct.sorted)
      }
      planned = files.filter { case (p, _) =>
        p.startsWith(".hoodie/") || {
          val slash = p.indexOf('/')
          slash > 0 && {
            val name = p.drop(slash + 1)
            name match {
              case BaseNameRe(fid, _) => fids.contains(fid)
              case RliLogNameRe(fid, _) => fids.contains(fid)
              case _ => false
            }
          }
        }
      }
      states <- HudiWrite.replay(planned)
    } yield (fids, states.flatMap(_.rows)
      .filter(_._2 == target).sortBy(_._1))

  /** The same planning rule from a raw storage listing — the
    * baseline the MDT plan must reproduce (and improve on by not
    * seeing orphans).
    */
  def planFromListing(files: Map[String, Array[Byte]]): Seq[String] = {
    val completed = files.keys.collect {
      case DataTimelineRe(i, a) if a != "clean" => i }.toSet
    val replaced = files.keys.toSeq.flatMap { k =>
      if (k.startsWith(".hoodie/") && k.endsWith(".replacecommit"))
        replacedFids(files(k)).getOrElse(Nil)
      else Nil
    }.toSet
    files.keys.toSeq.filterNot(_.startsWith(".hoodie/")).flatMap { p =>
      val slash = p.indexOf('/')
      if (slash <= 0) None
      else p.drop(slash + 1) match {
        case name @ BaseNameRe(fid, inst)
          if completed(inst) && !replaced(fid) =>
          Some((p.take(slash), fid, inst, s"${p.take(slash)}/$name"))
        case _ => None
      }
    }.groupBy(r => (r._1, r._2))
      .map { case (_, bs) => bs.maxBy(_._3)._4 }.toSeq.sorted
  }
}
