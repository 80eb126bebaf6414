package graft.sources

/** Compose a Hudi copy-on-write table from first principles: data
  * file slices named `<fileId>_<token>_<instant>.parquet` through the
  * engine's own parquet writer, plus a `.hoodie/` timeline of
  * canonical-JSON commit files (python json.dumps(sort_keys) byte
  * form) and an inflight marker. Deterministic; the independent
  * Python twin (scripts/make_hudi_write_oracle.py) reproduces the
  * bundle byte for byte for q302's md5 join. The written table
  * carries the same two baits the q283 READ fixture plants: a
  * rewritten file group (last-wins required) and an inflight slice
  * with poisoned values (completed-only required).
  */
object HudiWrite {

  private def statsJson(fileId: String, path: String,
                        n: Long): String =
    s"""{"fileId": "$fileId", "numDeletes": 0, "numUpdateWrites": 0, "numWrites": $n, "path": "$path"}"""

  def commitJsonOp(op: String,
                   stats: Seq[(String, String, Long)]): String =
    s"""{"operation": "$op", "partitionToWriteStats": {"p": [${
      stats.map { case (f, p, n) => statsJson(f, p, n) }.mkString(", ")
    }]}}"""

  def commitJson(stats: Seq[(String, String, Long)]): String =
    commitJsonOp("UPSERT", stats)

  /** The q302 table bundle: fg0 at t1 rewritten at t2 (val+5), fg1
    * at t1, an INFLIGHT t3 slice of fg1 with poisoned values.
    * Returns rel_path -> bytes.
    */
  def writeTable(ids: Seq[Long]): Map[String, Array[Byte]] = {
    val fg = (0 to 1).map(x => ids.filter(d => (d / 6) % 2 == x))
    def data(p: Seq[Long], bump: Long): Array[Byte] =
      ParquetWrite.writeInt64(Seq("rec_id", "val"),
        p.map(d => Array(d, (d * 13) % 1000 + bump)))
    val t1 = "00000000000001"; val t2 = "00000000000002"
    val t3 = "00000000000003"
    def dname(fid: String, instant: String) =
      s"p/${fid}_0-0-0_$instant.parquet"
    val fg0v1 = data(fg(0), 0L)
    val fg1v1 = data(fg(1), 0L)
    val fg0v2 = data(fg(0), 5L)
    val fg1v3 = data(fg(1), 999L) // inflight poison
    Map(
      s".hoodie/$t1.commit" -> (commitJson(Seq(
        ("fg0", dname("fg0", t1), fg(0).length.toLong),
        ("fg1", dname("fg1", t1), fg(1).length.toLong)))
        .getBytes("UTF-8")),
      s".hoodie/$t2.commit" -> (commitJson(Seq(
        ("fg0", dname("fg0", t2), fg(0).length.toLong)))
        .getBytes("UTF-8")),
      s".hoodie/$t3.inflight" -> "{}".getBytes("UTF-8"),
      dname("fg0", t1) -> fg0v1,
      dname("fg1", t1) -> fg1v1,
      dname("fg0", t2) -> fg0v2,
      dname("fg1", t3) -> fg1v3)
  }

  // ---- merge-on-read write (q318) ----------------------------------------

  /** The avro record schema log data blocks carry (shared verbatim
    * with [[graft]] readers and the Python twin).
    */
  val LogRecSchema: String =
    """{"type":"record","name":"rec","fields":[{"name":"rec_id","type":"long"},{"name":"val","type":"long"}]}"""

  private lazy val logRecSchema =
    AvroGeneric.parseSchema(LogRecSchema).get

  /** One bare avro record of [[LogRecSchema]]: (rec_id, val). */
  def avroRec(recId: Long, v: Long): Array[Byte] = {
    import AvroGeneric.{VLong, VRecord}
    AvroWrite.encode(VRecord(Vector("rec_id" -> VLong(recId),
      "val" -> VLong(v))), logRecSchema)
  }

  /** The q318 MERGE-ON-READ bundle, all through the engine's own
    * writers: base parquet slices ([[ParquetWrite.writeInt64]], val =
    * (d*13) % 991) at instant 1, a log file for fg0
    * ([[HudiLog.writeBlock]]) carrying an UPDATE data block at
    * instant 2 (d%3==0 -> val+7) and a DELETE block at instant 3
    * (d%5==0), deltacommit timeline entries for both, and the q315
    * poison: fg1's log block belongs to instant 4, present only as
    * `.deltacommit.inflight`. Returns rel_path -> bytes;
    * deterministic, so the Python twin
    * (scripts/make_hudi_mor_write_oracle.py) pins every byte.
    */
  def writeMorTable(ids: Seq[Long]): Map[String, Array[Byte]] = {
    val fg = (0 to 1).map(x => ids.filter(d => (d / 6) % 2 == x))
    def v(d: Long): Long = (d * 13) % 991
    def base(p: Seq[Long]): Array[Byte] =
      ParquetWrite.writeInt64(Seq("rec_id", "val"),
        p.map(d => Array(d, v(d))))
    val t1 = "00000000000001"; val t2 = "00000000000002"
    val t3 = "00000000000003"; val t4 = "00000000000004"
    def dname(fid: String, instant: String) =
      s"p/${fid}_0-0-0_$instant.parquet"
    def lname(fid: String) = s"p/.${fid}_$t1.log.1_0-0-0"
    val H = HudiLog
    val upd = fg(0).filter(_ % 3 == 0)
    val dels = fg(0).filter(_ % 5 == 0).map(_.toString)
    val log0 = H.writeBlock(H.TypeAvroData,
      Seq(H.HdrInstantTime -> t2, H.HdrSchema -> LogRecSchema),
      H.dataContent(upd.map(d => avroRec(d, v(d) + 7)))) ++
      H.writeBlock(H.TypeDelete, Seq(H.HdrInstantTime -> t3),
        H.deleteContent(dels))
    val log1 = H.writeBlock(H.TypeAvroData,
      Seq(H.HdrInstantTime -> t4, H.HdrSchema -> LogRecSchema),
      H.dataContent(fg(1).map(d => avroRec(d, v(d) + 999))))
    Map(
      s".hoodie/$t1.commit" -> (commitJson(Seq(
        ("fg0", dname("fg0", t1), fg(0).length.toLong),
        ("fg1", dname("fg1", t1), fg(1).length.toLong)))
        .getBytes("UTF-8")),
      s".hoodie/$t2.deltacommit" -> (commitJson(Seq(
        ("fg0", lname("fg0"), upd.length.toLong))).getBytes("UTF-8")),
      s".hoodie/$t3.deltacommit" -> (commitJson(Seq(
        ("fg0", lname("fg0"), dels.length.toLong))).getBytes("UTF-8")),
      s".hoodie/$t4.deltacommit.inflight" -> "{}".getBytes("UTF-8"),
      dname("fg0", t1) -> base(fg(0)),
      dname("fg1", t1) -> base(fg(1)),
      lname("fg0") -> log0,
      lname("fg1") -> log1)
  }

  // ---- compaction write (q336) -------------------------------------------

  /** One file group's merged (completed-only, instant-ordered,
    * last-wins) state after a MOR replay: the instant of the base the
    * merge started from, the merged rows sorted by record key, and
    * how many log blocks the slice skipped (inflight instants or
    * blocks at/before the base instant).
    */
  final case class FgState(fileId: String, baseInstant: String,
                           rows: Seq[(Long, Long)], nSkipped: Long)

  private val TimelineRe =
    "^\\.hoodie/(\\d+)\\.(commit|deltacommit|replacecommit)$".r
  private val ReplaceRe = "^\\.hoodie/(\\d+)\\.replacecommit$".r
  private val BaseRe = "^p/([^_/.]+)_[^_/]+_(\\d+)\\.parquet$".r
  private val LogRe = "^p/\\.([^_/.]+)_(\\d+)\\.log\\..*$".r

  /** File groups REPLACED by completed replacecommits (clustering):
    * fileId -> replace instant. A reader must treat a replaced
    * group's slices as dark even though the bytes are still on disk
    * (clean reclaims them later). None on a replacecommit that does
    * not name its replacements — a replace that cannot say what it
    * replaced must not be trusted.
    */
  private def replacedGroups(files: Map[String, Array[Byte]])
      : Option[Map[String, String]] = {
    import Json.{JArray, JObject, JString}
    val out = Map.newBuilder[String, String]
    var ok = true
    files.keys.toSeq.sorted.foreach {
      case p @ ReplaceRe(inst) =>
        Json.parse(new String(files(p), "UTF-8")) match {
          case Some(o: JObject) =>
            o.get("partitionToReplaceFileIds") match {
              case Some(parts: JObject) => parts.fields.foreach {
                case (_, JArray(xs)) => xs.foreach {
                  case JString(fid) => out += fid -> inst
                  case _ => ok = false
                }
                case _ => ok = false
              }
              case _ => ok = false
            }
          case _ => ok = false
        }
      case _ => ()
    }
    if (ok) Some(out.result()) else None
  }

  /** Replay a whole table bundle with the q315 merge law — per file
    * group: latest COMPLETED base, then completed log blocks strictly
    * after it in instant order, avro-data records last-wins by key,
    * delete blocks by key. None on any malformed byte (totality law:
    * a damaged slice must fail the query, not half-apply).
    */
  def replay(files: Map[String, Array[Byte]]): Option[Seq[FgState]] = {
    val completed = files.keys.collect {
      case TimelineRe(i, _) => i }.toSet
    val replaced =
      replacedGroups(files).getOrElse(return None).keySet
    val fgs = files.keys.toSeq.collect {
      case p @ BaseRe(fid, inst)
        if completed(inst) && !replaced(fid) => (fid, inst, p)
    }.groupBy(_._1).toSeq.sortBy(_._1)
    var ok = true
    val out = fgs.map { case (fid, bases) =>
      val (_, baseInstant, basePath) = bases.maxBy(_._2)
      val state =
        scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      (Parquet.columnLongs(files(basePath), "rec_id"),
        Parquet.columnLongs(files(basePath), "val")) match {
        case (Some(rs), Some(vs)) if rs.length == vs.length =>
          var i = 0
          while (i < rs.length) { state(rs(i)) = vs(i); i += 1 }
        case _ => ok = false
      }
      var nSkipped = 0L
      val blocks = Seq.newBuilder[HudiLog.Block]
      files.keys.toSeq.collect {
        case p @ LogRe(f, _) if f == fid => p
      }.sorted.foreach { lp =>
        HudiLog.parse(files(lp)) match {
          case Some(bs) => blocks ++= bs
          case None => ok = false
        }
      }
      blocks.result().sortBy(_.instant).foreach { b =>
        if (!completed(b.instant) || b.instant <= baseInstant)
          nSkipped += 1
        else if (b.blockType == HudiLog.TypeAvroData) {
          b.records.foreach { r =>
            (r.field("rec_id").flatMap(_.asLong),
              r.field("val").flatMap(_.asLong)) match {
              case (Some(k), Some(v)) => state(k) = v
              case _ => ok = false
            }
          }
        } else if (b.blockType == HudiLog.TypeDelete) {
          b.deleteKeys.foreach { k =>
            scala.util.Try(k.toLong).toOption match {
              case Some(kk) => state.remove(kk)
              case None => ok = false
            }
          }
        }
      }
      FgState(fid, baseInstant, state.toSeq.sortBy(_._1), nSkipped)
    }
    if (ok) Some(out) else None
  }

  /** COMPACTION write: replay every file slice and write, per file
    * group, a fresh base parquet at `instant` carrying the merged
    * completed state (sorted by record key) through the engine's own
    * parquet writer, plus the `.commit` timeline entry (Hudi records
    * a completed compaction on a MOR table as a commit action,
    * operation COMPACT). Returns ONLY the delta files — the caller
    * overlays them on the table; a subsequent replay then starts from
    * the compacted base and skips every pre-compaction log block
    * (`b.instant <= baseInstant`), so a base-only reader becomes
    * exact. Deterministic; the Python twin
    * (scripts/make_hudi_compact_oracle.py) pins every byte.
    */
  def compact(files: Map[String, Array[Byte]],
              instant: String): Option[Map[String, Array[Byte]]] =
    replay(files).map { fgs =>
      def dname(fid: String) = s"p/${fid}_0-0-0_$instant.parquet"
      val stats = fgs.map(f =>
        (f.fileId, dname(f.fileId), f.rows.length.toLong))
      val bases = fgs.map { f =>
        dname(f.fileId) -> ParquetWrite.writeInt64(
          Seq("rec_id", "val"), f.rows.map(r => Array(r._1, r._2)))
      }
      (bases :+ (s".hoodie/$instant.commit" ->
        commitJsonOp("COMPACT", stats).getBytes("UTF-8"))).toMap
    }

  /** The CLEAN-snapshot view a metadata-only migration needs (q415):
    * per live file group, the latest completed base file's path and
    * row count — defined ONLY when the merged replay state equals
    * the base bytes EXACTLY (no completed log block strictly after
    * any live base instant): a COW table, or a MOR table after
    * compaction. With unmerged logs the base is stale — freezing it
    * into another format's snapshot would publish rows the table's
    * own readers never see (and drop last-wins updates and deletes),
    * so: None. Pending (inflight) blocks are already dark by the
    * replay law — an inflight instant must roll back, never complete
    * under a newer base — so clean ⇔ a base-only reader is exact.
    * None also on an empty table, any malformed byte, or a stale
    * fallback base (a vacuumed latest base or a truncated timeline
    * fails the merged-equality gate, never migrates a guess).
    */
  def cleanSnapshot(files: Map[String, Array[Byte]])
      : Option[Seq[(String, String, Long)]] =
    replay(files).flatMap { fgs =>
      if (fgs.isEmpty) return None
      val completed = files.keys.collect {
        case TimelineRe(i, _) => i }.toSet
      val per = fgs.map { fg =>
        val basePath = files.keys.collect {
          case p @ BaseRe(fid, inst)
            if fid == fg.fileId && completed(inst) => (inst, p)
        }.toSeq.maxBy(_._1)._2
        for {
          b <- files.get(basePath)
          rs <- Parquet.columnLongs(b, "rec_id")
          vs <- Parquet.columnLongs(b, "val")
          if rs.length == vs.length
          if rs.zip(vs).toSeq.sortBy(_._1) == fg.rows
        } yield (fg.fileId, basePath, rs.length.toLong)
      }
      if (per.exists(_.isEmpty)) None else Some(per.map(_.get))
    }

  // ---- clustering write (q398) -------------------------------------------------

  final case class ClusterResult(newFiles: Map[String, Array[Byte]],
                                 timelineName: String,
                                 timeline: Array[Byte],
                                 replacedFileIds: Seq[String],
                                 rows: Long)

  /** CLUSTERING via `replacecommit` — the lifecycle op the triple
    * compaction (q336) / clean (q361) / rollback (q382) was missing:
    * replay the merged state, SORT by record key, and rewrite it as
    * `nGroups` key-range-disjoint file groups, committing a
    * replacecommit that names BOTH the new write stats and the
    * `partitionToReplaceFileIds` the old groups die by. The replaced
    * groups' bytes stay on disk (object-store deletes are clean's
    * job) but a reader must treat them as dark from this instant —
    * the replay exclusion [[replacedGroups]] implements. The point
    * at 100 TB: small-file collapse AND key locality — every group
    * owns one key range, so a range predicate opens one group
    * instead of all of them. None on an empty table, nGroups < 1, or
    * any malformed byte.
    */
  def cluster(files: Map[String, Array[Byte]], instant: String,
              nGroups: Int): Option[ClusterResult] =
    replay(files).flatMap { fgs =>
      if (fgs.isEmpty || nGroups < 1) None
      else {
        val rows = fgs.flatMap(_.rows).sortBy(_._1)
        if (rows.isEmpty) return None
        val per = math.max(1, (rows.length + nGroups - 1) / nGroups)
        val parts = rows.grouped(per).toSeq
        val names = parts.indices.map(i =>
          s"p/cl${i}_0-0-0_$instant.parquet")
        val data = parts.map(p => ParquetWrite.writeInt64(
          Seq("rec_id", "val"), p.map(r => Array(r._1, r._2))))
        val stats = parts.indices.map(i =>
          (s"cl$i", names(i), parts(i).length.toLong))
        val replacedIds = fgs.map(_.fileId).sorted
        val body =
          s"""{"operation": "CLUSTER", "partitionToReplaceFileIds": {"p": [${
            replacedIds.map(f => s""""$f"""").mkString(", ")
          }]}, "partitionToWriteStats": {"p": [${
            stats.map { case (f, p, n) => statsJson(f, p, n) }
              .mkString(", ")
          }]}}"""
        Some(ClusterResult(names.zip(data).toMap,
          s".hoodie/$instant.replacecommit",
          body.getBytes("UTF-8"), replacedIds,
          rows.length.toLong))
      }
    }

  // ---- rollback write (q382) -------------------------------------------------

  final case class RollbackResult(deleted: Seq[String],
                                  appendedLogs: Map[String, Array[Byte]],
                                  timelineName: String,
                                  timeline: Array[Byte])

  /** ROLLBACK of a FAILED (pending) instant — the lifecycle op that
    * makes failed writes harmless, completing the maintenance
    * triple with compaction (q336) and clean (q361): base files the
    * instant wrote are DELETED; a log file whose blocks ALL belong
    * to it is deleted; a MIXED log file (append-only on object
    * stores — you cannot carve bytes out of it) instead gains a
    * rollback COMMAND block targeting the instant; the instant's
    * pending timeline markers disappear; and a `.rollback` entry
    * records the inventory. REFUSES (None) to roll back a COMPLETED
    * instant — undoing history is restore's job, and a rollback that
    * could destroy committed data is how lakes lose data — and fails
    * closed on any unparseable log. IDEMPOTENT: a second rollback of
    * the same instant deletes nothing and appends nothing.
    */
  def rollback(files: Map[String, Array[Byte]], instant: String,
               rbInstant: String): Option[RollbackResult] = {
    val completed = files.keys.collect {
      case TimelineRe(i, _) => i }.toSet
    if (completed(instant)) return None
    val deadBases = files.keys.toSeq.collect {
      case p @ BaseRe(_, inst) if inst == instant => p
    }
    var ok = true
    val deadLogs = Seq.newBuilder[String]
    val appended = Map.newBuilder[String, Array[Byte]]
    files.keys.toSeq.sorted.foreach { p =>
      if (LogRe.pattern.matcher(p).matches()) {
        HudiLog.parse(files(p)) match {
          case Some(blocks) =>
            val live = blocks.filter(b =>
              b.blockType != HudiLog.TypeCommand)
            val rolled = blocks.exists(b =>
              b.blockType == HudiLog.TypeCommand &&
                b.target == instant)
            val targeted = live.filter(_.instant == instant)
            if (targeted.nonEmpty && !rolled) {
              if (targeted.length == live.length) deadLogs += p
              else appended += p -> (files(p) ++ HudiLog.writeBlock(
                HudiLog.TypeCommand,
                Seq(HudiLog.HdrInstantTime -> rbInstant,
                  HudiLog.HdrTargetInstant -> instant),
                Array.emptyByteArray))
            }
          case None => ok = false
        }
      }
    }
    if (!ok) return None
    val markers = files.keys.toSeq.filter(_.matches(
      s"^\\.hoodie/$instant\\.([a-z]+\\.)?inflight$$"))
    val deleted = (deadBases ++ deadLogs.result() ++ markers).sorted
    val body = deleted.map(p => s""""$p"""").mkString(
      s"""{"deleted": [""", ", ",
      s"""], "operationType": "ROLLBACK", "target": "$instant"}""")
    Some(RollbackResult(deleted, appended.result(),
      s".hoodie/$rbInstant.rollback", body.getBytes("UTF-8")))
  }

  // ---- restore write (q388) ---------------------------------------------------

  final case class RestoreResult(deleted: Seq[String],
                                 timelineName: String,
                                 timeline: Array[Byte])

  /** RESTORE TO INSTANT — Hudi's table-level undo (the third
    * format's q383/q384 twin, but PHYSICAL: Hudi has no snapshot
    * graph, so restoring really deletes what newer instants wrote):
    * every base file of a COMPLETED instant newer than the target
    * dies along with that instant's timeline entry; log files whose
    * blocks ALL belong to newer instants die; mixed logs survive
    * (their newer blocks go dark because their timeline entries are
    * gone — the replay skip rule does the masking). The `.restore`
    * entry records the inventory. None for an unknown/incomplete
    * target or malformed log; restoring to the LATEST completed
    * instant deletes nothing (no-op law).
    */
  def restoreTo(files: Map[String, Array[Byte]], instant: String,
                rsInstant: String): Option[RestoreResult] = {
    val completed = files.keys.collect {
      case TimelineRe(i, _) => i }.toSet
    if (!completed(instant)) return None
    val newer = completed.filter(_ > instant)
    val deadTimeline = files.keys.toSeq.collect {
      case p @ TimelineRe(i, _) if i > instant => p
    }
    val deadBases = files.keys.toSeq.collect {
      case p @ BaseRe(_, inst) if completed(inst) && inst > instant =>
        p
    }
    var ok = true
    val deadLogs = files.keys.toSeq.filter { p =>
      LogRe.pattern.matcher(p).matches() && {
        HudiLog.parse(files(p)) match {
          case Some(blocks) =>
            val live = blocks.filter(b =>
              b.blockType != HudiLog.TypeCommand)
            live.nonEmpty && live.forall(b => newer(b.instant))
          case None => ok = false; false
        }
      }
    }
    if (!ok) return None
    val deleted = (deadBases ++ deadLogs ++ deadTimeline).sorted
    val body = deleted.map(p => s""""$p"""").mkString(
      s"""{"deleted": [""", ", ",
      s"""], "operationType": "RESTORE", "target": "$instant"}""")
    Some(RestoreResult(deleted, s".hoodie/$rsInstant.restore",
      body.getBytes("UTF-8")))
  }

  // ---- clean write (q361) --------------------------------------------------

  final case class CleanResult(deleted: Seq[String],
                               timelineName: String,
                               timeline: Array[Byte])

  /** CLEAN (KEEP_LATEST_FILE_VERSIONS = 1): per file group, delete
    * every COMPLETED base older than the latest completed base, plus
    * the log files attached to replaced slices — but a log file
    * carrying ANY block of a still-pending instant is retained (a
    * cleaner must never destroy data a rollback or late commit could
    * still need; that is rollback's decision, not clean's). Emits a
    * `.clean` timeline entry naming what it deleted. None on
    * malformed log bytes — a cleaner that cannot PROVE a file's
    * blocks are all completed must not touch it.
    */
  def clean(files: Map[String, Array[Byte]],
            instant: String): Option[CleanResult] = {
    val completed = files.keys.collect {
      case TimelineRe(i, _) => i }.toSet
    val replaced =
      replacedGroups(files).getOrElse(return None).keySet
    val bases = files.keys.toSeq.collect {
      case p @ BaseRe(fid, inst) if completed(inst) => (fid, inst, p)
    }
    val latest = bases.groupBy(_._1).map { case (fid, bs) =>
      (fid, bs.map(_._2).max)
    }
    // a REPLACED group's every slice is reclaimable (clustering made
    // it dark); otherwise only bases older than the group's latest
    val deadBases = bases.collect {
      case (fid, inst, p)
        if replaced(fid) || inst < latest(fid) => p
    }
    var ok = true
    val deadLogs = files.keys.toSeq.collect {
      case p @ LogRe(fid, baseInst)
        if replaced(fid) ||
          latest.get(fid).exists(baseInst < _) =>
        HudiLog.parse(files(p)) match {
          case Some(blocks) =>
            if (blocks.forall(b => completed(b.instant))) Some(p)
            else None // pending block: retain the whole file
          case None => ok = false; None
        }
    }.flatten
    if (!ok) None
    else {
      val deleted = (deadBases ++ deadLogs).sorted
      val body = deleted
        .map(p => s""""$p"""").mkString(
          s"""{"deleted": [""", ", ", s"""], "operationType": "CLEAN"}""")
      Some(CleanResult(deleted, s".hoodie/$instant.clean",
        body.getBytes("UTF-8")))
    }
  }
}
