package graft.sources

/** Compose an Iceberg table's METADATA tree from first principles:
  * `vN.metadata.json` (hand-built canonical JSON), the manifest-list
  * Avro container, and a data manifest. Each manifest row is a value
  * tree that [[AvroWrite.framed]] encodes against the schema string it
  * is framed with, so a row that drifts from its schema throws instead
  * of writing wrong bytes. The layout is deterministic, the
  * engine's own generic Avro reader ([[AvroGeneric.parseContainer]])
  * and JSON parser round-trip it, and the independent Python twin
  * (scripts/make_iceberg_write_oracle.py) reproduces the whole
  * bundle byte for byte for q301's md5 join.
  *
  * With [[DeltaWrite]] (q299) and the Hudi fixture shapes this
  * closes metadata WRITING for the lakehouse formats the engine
  * reads.
  */
object IcebergWrite {

  import AvroGeneric.{V, VArray, VBool, VBytes, VLong, VNull, VRecord,
    VString}

  private def rec(fields: (String, V)*): V = VRecord(fields.toVector)
  private def opt(x: Option[Long]): V = x.fold[V](VNull)(VLong(_))

  /** A manifest, manifest list or statistics file: `records` in one
    * stored block, written even when empty (the layout the Python
    * twins reproduce).
    */
  private def avroFile(schemaJson: String, records: Seq[V],
                       sync: Array[Byte]): Array[Byte] =
    AvroWrite.framed(schemaJson, "null", sync,
      Iterator.single(records))(identity)

  /** Reduced-but-valid manifest schemas (no unions — every field
    * required), shared verbatim with the Python twin.
    */
  val EntrySchema: String =
    """{"type":"record","name":"manifest_entry","fields":[{"name":"status","type":"int"},{"name":"data_file","type":{"type":"record","name":"r2","fields":[{"name":"file_path","type":"string"},{"name":"record_count","type":"long"},{"name":"file_size_in_bytes","type":"long"}]}}]}"""
  val ListSchema: String =
    """{"type":"record","name":"manifest_file","fields":[{"name":"manifest_path","type":"string"},{"name":"manifest_length","type":"long"},{"name":"added_files_count","type":"int"},{"name":"added_rows_count","type":"long"}]}"""

  def manifestFileRow(path: String, length: Long, files: Long,
                      rows: Long): V =
    rec("manifest_path" -> VString(path),
      "manifest_length" -> VLong(length),
      "added_files_count" -> VLong(files),
      "added_rows_count" -> VLong(rows))

  // ---- partitioned write (q317): the q271 read shapes, write side ------

  /** The FULL v2 manifest-file schema (unions, field summaries) the
    * q271 pruning read decodes — shared verbatim with the Python twin
    * and the q271 fixture generator.
    */
  val ListSchemaV2: String =
    """{"type":"record","name":"manifest_file","fields":[{"name":"manifest_path","type":"string"},{"name":"manifest_length","type":"long"},{"name":"partition_spec_id","type":"int"},{"name":"content","type":"int"},{"name":"sequence_number","type":"long"},{"name":"min_sequence_number","type":"long"},{"name":"added_snapshot_id","type":"long"},{"name":"added_files_count","type":"int"},{"name":"existing_files_count","type":"int"},{"name":"deleted_files_count","type":"int"},{"name":"added_rows_count","type":"long"},{"name":"existing_rows_count","type":"long"},{"name":"deleted_rows_count","type":"long"},{"name":"partitions","type":["null",{"type":"array","items":{"type":"record","name":"field_summary","fields":[{"name":"contains_null","type":"boolean"},{"name":"contains_nan","type":["null","boolean"]},{"name":"lower_bound","type":["null","bytes"]},{"name":"upper_bound","type":["null","bytes"]}]}}]},{"name":"key_metadata","type":["null","bytes"]}]}"""

  /** The FULL v2 manifest-entry schema with a REAL partition record
    * (r102{part int}) and per-file bounds maps (k126_v127).
    */
  val EntrySchemaV2: String =
    """{"type":"record","name":"manifest_entry","fields":[{"name":"status","type":"int"},{"name":"snapshot_id","type":["null","long"]},{"name":"sequence_number","type":["null","long"]},{"name":"file_sequence_number","type":["null","long"]},{"name":"data_file","type":{"type":"record","name":"r2","fields":[{"name":"content","type":"int"},{"name":"file_path","type":"string"},{"name":"file_format","type":"string"},{"name":"partition","type":{"type":"record","name":"r102","fields":[{"name":"part","type":"int"}]}},{"name":"record_count","type":"long"},{"name":"file_size_in_bytes","type":"long"},{"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}]},{"name":"upper_bounds","type":["null",{"type":"array","items":"k126_v127"}]},{"name":"sort_order_id","type":["null","int"]}]}}]}"""

  /** One v2 manifest entry: status ADDED, data_file with partition
    * record and rec_id (field id 1) bounds in Iceberg single-value
    * serialization (8-byte LE long).
    */
  def entryV2(part: Int, path: String, rc: Long, fsz: Long,
              lo: Long, hi: Long): V = {
    // bounds map {1 (rec_id): LE64}, as the k126_v127 array
    def bound(v: Long): V = VArray(Vector(
      rec("key" -> VLong(1), "value" -> VBytes(8, Bytes.toLe64(v)))))
    rec("status" -> VLong(1), // ADDED
      "snapshot_id" -> VLong(99),
      "sequence_number" -> VLong(1),
      "file_sequence_number" -> VLong(1),
      "data_file" -> rec(
        "content" -> VLong(0), // DATA
        "file_path" -> VString(path),
        "file_format" -> VString("PARQUET"),
        "partition" -> rec("part" -> VLong(part)),
        "record_count" -> VLong(rc),
        "file_size_in_bytes" -> VLong(fsz),
        "lower_bounds" -> bound(lo),
        "upper_bounds" -> bound(hi),
        "sort_order_id" -> VLong(0)))
  }

  /** One v2 manifest_file row with the [part, part] field summary
    * (4-byte LE int single-value serialization) the pruning read
    * selects on.
    */
  def manifestFileRowV2(path: String, length: Long, part: Int,
                        files: Long, rows: Long): V = {
    val bound = VBytes(4, Bytes.toLe32(part))
    rec("manifest_path" -> VString(path),
      "manifest_length" -> VLong(length),
      "partition_spec_id" -> VLong(0),
      "content" -> VLong(0), // data
      "sequence_number" -> VLong(1),
      "min_sequence_number" -> VLong(1),
      "added_snapshot_id" -> VLong(99),
      "added_files_count" -> VLong(files),
      "existing_files_count" -> VLong(0),
      "deleted_files_count" -> VLong(0),
      "added_rows_count" -> VLong(rows),
      "existing_rows_count" -> VLong(0),
      "deleted_rows_count" -> VLong(0),
      "partitions" -> VArray(Vector(rec(
        "contains_null" -> VBool(false),
        "contains_nan" -> VBool(false),
        "lower_bound" -> bound,
        "upper_bound" -> bound))),
      "key_metadata" -> VNull)
  }

  /** The q317 PARTITIONED metadata tree: partition spec `part =
    * (doc_id/6) % 3` (identity transform in the metadata.json), ONE
    * MANIFEST PER PARTITION whose manifest-list row carries the exact
    * [part, part] bounds summary, and per-part quartile-split file
    * entries with disjoint rec_id bounds (the q275 file-skip shape).
    * rows: (doc_id, n_chars), record_count 1 per doc, file size
    * 1 + n_chars % 9. Returns rel_path -> bytes; deterministic, so
    * the Python twin (scripts/make_iceberg_part_write_oracle.py)
    * pins every byte.
    */
  def writePartitionedTable(id: String,
                            rows: Seq[(Long, Long)])
      : Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    val out = Map.newBuilder[String, Array[Byte]]
    val mrows = Seq.newBuilder[V]
    for (x <- 0 to 2) {
      // toIndexedSeq: quartile grouping below indexes positionally
      val part = rows.filter { case (d, _) => (d / 6) % 3 == x }
        .toIndexedSeq
      val n = part.length
      val entries = (0 to 3).flatMap { qtr =>
        val grp = part.indices.filter(i => i * 4 / n == qtr)
          .map(part)
        if (grp.isEmpty) None
        else Some(entryV2(x, s"part-$x/f-$x-$qtr.parquet",
          grp.length.toLong, grp.map(r => 1L + r._2 % 9).sum,
          grp.map(_._1).min, grp.map(_._1).max))
      }
      val m = avroFile(EntrySchemaV2, entries, sync)
      out += (s"m-$x.avro" -> m)
      mrows += manifestFileRowV2(s"m-$x.avro", m.length.toLong, x,
        entries.length.toLong, n.toLong)
    }
    val list = avroFile(ListSchemaV2, mrows.result(), sync)
    out += ("snap-1.avro" -> list)
    val meta = ("""{"format-version": 2, "table-uuid": """" + id +
      """", "partition-specs": [{"spec-id": 0, "fields": [{"field-id": 1000, "name": "part", "source-id": 3, "transform": "identity"}]}], "current-snapshot-id": 1, "snapshots": [{"snapshot-id": 1, "sequence-number": 1, "timestamp-ms": 1700000000000, "manifest-list": "snap-1.avro"}]}""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out += ("v1.metadata.json" -> meta)
    out.result()
  }

  // ---- partition spec evolution write (q362) -------------------------------

  /** Manifest-list schema whose rows carry partition_spec_id — the
    * field a spec-aware reader routes pruning on (q289's law).
    */
  val ListSchemaEvo: String =
    """{"type":"record","name":"manifest_file","fields":[{"name":"manifest_path","type":"string"},{"name":"manifest_length","type":"long"},{"name":"partition_spec_id","type":"int"}]}"""

  /** Spec-0 entries: UNPARTITIONED (empty partition record — nothing
    * to prune by, a reader must take every file).
    */
  val EntrySchemaEvo0: String =
    """{"type":"record","name":"manifest_entry","fields":[{"name":"status","type":"int"},{"name":"data_file","type":{"type":"record","name":"r2","fields":[{"name":"file_path","type":"string"},{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},{"name":"record_count","type":"long"},{"name":"file_size_in_bytes","type":"long"}]}}]}"""

  /** Spec-1 entries: one identity partition field p2. */
  val EntrySchemaEvo1: String =
    """{"type":"record","name":"manifest_entry","fields":[{"name":"status","type":"int"},{"name":"data_file","type":{"type":"record","name":"r2","fields":[{"name":"file_path","type":"string"},{"name":"partition","type":{"type":"record","name":"r103","fields":[{"name":"p2","type":"int"}]}},{"name":"record_count","type":"long"},{"name":"file_size_in_bytes","type":"long"}]}}]}"""

  def manifestFileRowEvo(path: String, length: Long, specId: Int): V =
    rec("manifest_path" -> VString(path),
      "manifest_length" -> VLong(length),
      "partition_spec_id" -> VLong(specId))

  /** `p2` None: the spec-0 entry's empty partition record. */
  def entryEvo(path: String, rc: Long, fsz: Long, p2: Option[Int]): V =
    rec("status" -> VLong(1), // ADDED
      "data_file" -> rec(
        "file_path" -> VString(path),
        "partition" -> VRecord(p2.map(v => "p2" -> (VLong(v): V)).toVector),
        "record_count" -> VLong(rc),
        "file_size_in_bytes" -> VLong(fsz)))

  /** The q362 table: generation 0 ((d/6) % 4 != 1) lands at snapshot
    * 1 under UNPARTITIONED spec 0 in two files split by (d/6) % 2;
    * the table then EVOLVES (spec 1 = identity on p2 = d % 3) and
    * generation 1 lands at snapshot 2 in three p2 files. Snapshot 2's
    * manifest list carries BOTH manifests, each under its OWN
    * spec-id; metadata.json records both specs, default-spec-id 1.
    * Data files through the own parquet writer, val = (d*7) % 1000.
    */
  def writeSpecEvoTable(id: String,
                        ids: Seq[Long]): Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    def v(d: Long): Long = (d * 7) % 1000
    def dataFile(p: Seq[Long]): Array[Byte] =
      ParquetWrite.writeInt64(Seq("rec_id", "val"),
        p.map(d => Array(d, v(d))))
    val out = Map.newBuilder[String, Array[Byte]]
    val gen0 = ids.filter(d => (d / 6) % 4 != 1)
    val gen1 = ids.filter(d => (d / 6) % 4 == 1)
    // spec-0 manifest: two unpartitioned files
    val e0 = (0 to 1).map { g =>
      val p = gen0.filter(d => (d / 6) % 2 == g)
      val bytes = dataFile(p)
      out += (s"f-old-$g.parquet" -> bytes)
      entryEvo(s"f-old-$g.parquet", p.length.toLong,
        bytes.length.toLong, None)
    }
    val m0 = avroFile(EntrySchemaEvo0, e0, sync)
    out += ("m-spec0.avro" -> m0)
    // spec-1 manifest: three p2 files
    val e1 = (0 to 2).map { b =>
      val p = gen1.filter(_ % 3 == b)
      val bytes = dataFile(p)
      out += (s"f-new-$b.parquet" -> bytes)
      entryEvo(s"f-new-$b.parquet", p.length.toLong,
        bytes.length.toLong, Some(b))
    }
    val m1 = avroFile(EntrySchemaEvo1, e1, sync)
    out += ("m-spec1.avro" -> m1)
    val list = avroFile(ListSchemaEvo, Seq(
      manifestFileRowEvo("m-spec0.avro", m0.length.toLong, 0),
      manifestFileRowEvo("m-spec1.avro", m1.length.toLong, 1)), sync)
    out += ("snap-2.avro" -> list)
    val meta = ("""{"format-version": 2, "table-uuid": """" + id +
      """", "default-spec-id": 1, "partition-specs": [{"spec-id": 0, "fields": []}, {"spec-id": 1, "fields": [{"field-id": 1000, "name": "p2", "source-id": 1, "transform": "identity"}]}], "current-snapshot-id": 2, "snapshots": [{"snapshot-id": 2, "sequence-number": 2, "timestamp-ms": 1700000001000, "manifest-list": "snap-2.avro"}]}""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out += ("v2.metadata.json" -> meta)
    out.result()
  }

  // ---- partition statistics files (q394) -------------------------------------

  /** The spec's partition-statistics file schema, reduced to the
    * q362 table's unified partition tuple: partition{p2 nullable} ‖
    * spec_id ‖ data_record_count ‖ data_file_count ‖
    * total_data_file_size_in_bytes — the planning aggregate that
    * prices a partition prune BEFORE touching a single manifest at
    * 100 TB.
    */
  val PartStatsSchema: String =
    """{"type":"record","name":"partition_statistics","fields":[{"name":"partition","type":{"type":"record","name":"r_part","fields":[{"name":"p2","type":["null","int"]}]}},{"name":"spec_id","type":"int"},{"name":"data_record_count","type":"long"},{"name":"data_file_count","type":"long"},{"name":"total_data_file_size_in_bytes","type":"long"}]}"""

  final case class PartStat(p2: Option[Int], specId: Int,
                            records: Long, files: Long, bytes: Long)

  def partStatRecord(ps: PartStat): V =
    rec("partition" -> rec("p2" -> opt(ps.p2.map(_.toLong))),
      "spec_id" -> VLong(ps.specId),
      "data_record_count" -> VLong(ps.records),
      "data_file_count" -> VLong(ps.files),
      "total_data_file_size_in_bytes" -> VLong(ps.bytes))

  /** Per-partition aggregation of ONE evo-shape manifest (the
    * incremental unit: what an appended manifest contributes).
    */
  def manifestPartitionStats(files: Map[String, Array[Byte]],
                             manifestPath: String,
                             specId: Int): Option[Seq[PartStat]] =
    files.get(manifestPath).flatMap(AvroGeneric.parseContainer)
      .flatMap { m =>
        val es = m.records.map { e =>
          for {
            st <- e.field("status").flatMap(_.asLong)
            df <- e.field("data_file")
            rc <- df.field("record_count").flatMap(_.asLong)
            fsz <- df.field("file_size_in_bytes").flatMap(_.asLong)
            part <- df.field("partition")
          } yield {
            val p2 = part.field("p2") match {
              case Some(AvroGeneric.VLong(x)) => Some(x.toInt)
              case _ => None
            }
            (st, p2, rc, fsz)
          }
        }
        if (es.exists(_.isEmpty)) None
        else Some(es.map(_.get).filter(_._1 != 2L)
          .groupBy(_._2).toSeq.map { case (p2, rows) =>
            PartStat(p2, specId, rows.map(_._3).sum,
              rows.length.toLong, rows.map(_._4).sum)
          })
      }

  /** MANIFEST-WALK partition stats of one snapshot — the baseline a
    * stats file must reproduce exactly. Routes each manifest through
    * its OWN spec id (q362's evolution discipline). None on any
    * malformed byte.
    */
  def computePartitionStats(files: Map[String, Array[Byte]],
                            metaName: String,
                            sid: Long): Option[Seq[PartStat]] =
    for {
      mo <- parseMetaObj(files, metaName)
      snaps <- parseSnaps(mo)
      snap <- snaps.find(_.sid == sid)
      listBytes <- files.get(snap.listPath)
      list <- AvroGeneric.parseContainer(listBytes)
      mrows <- {
        val rs = list.records.map { r =>
          for {
            mp <- r.field("manifest_path").flatMap(_.asString)
            spec <- r.field("partition_spec_id").flatMap(_.asLong)
          } yield (mp, spec.toInt)
        }
        if (rs.exists(_.isEmpty)) None else Some(rs.map(_.get))
      }
      per <- {
        val ps = mrows.map { case (mp, spec) =>
          manifestPartitionStats(files, mp, spec)
        }
        if (ps.exists(_.isEmpty)) None else Some(ps.flatMap(_.get))
      }
    } yield mergePartitionStats(Nil, per)

  /** Key-wise merge — the incremental-maintenance law's operator:
    * merge(stats(prev), contribution(added manifests)) must equal a
    * full rebuild (the q363 union discipline).
    */
  def mergePartitionStats(prev: Seq[PartStat],
                          added: Seq[PartStat]): Seq[PartStat] =
    (prev ++ added).groupBy(p => (p.specId, p.p2)).toSeq
      .map { case ((spec, p2), rows) =>
        PartStat(p2, spec, rows.map(_.records).sum,
          rows.map(_.files).sum, rows.map(_.bytes).sum)
      }.sortBy(p => (p.specId, p.p2.getOrElse(-1)))

  /** Write the partition-statistics FILE for the current snapshot
    * and REGISTER it in table metadata (`partition-statistics`:
    * snapshot-id + statistics-path + file-size-in-bytes, the spec's
    * shape). Returns (statsPath, statsBytes, newMetadataBytes).
    */
  def writePartitionStats(files: Map[String, Array[Byte]],
                          metaName: String)
      : Option[(String, Array[Byte], Array[Byte])] =
    for {
      mo <- parseMetaObj(files, metaName)
      sid <- mo.get("current-snapshot-id")
        .collect { case Json.JLong(x) => x }
      uuid <- mo.get("table-uuid")
        .collect { case Json.JString(x) => x }
      stats <- computePartitionStats(files, metaName, sid)
    } yield {
      val sync = AvroWrite.syncMarker(uuid)
      val body = avroFile(PartStatsSchema,
        stats.map(partStatRecord), sync)
      val path = s"partition-stats-$sid.avro"
      val metaStr = new String(files(metaName),
        java.nio.charset.StandardCharsets.UTF_8)
      val reg = s"""{"file-size-in-bytes": ${body.length}, "snapshot-id": $sid, "statistics-path": "$path"}"""
      val newMeta = metaStr.replaceFirst("\\{",
        s"""{"partition-statistics": [$reg], """)
      (path, body,
        newMeta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  /** Read the REGISTERED partition-statistics file for the current
    * snapshot: the metadata entry names path + size; a size mismatch
    * or malformed container fails CLOSED (planning from an unproven
    * aggregate is how pruning goes wrong silently).
    */
  def readPartitionStats(files: Map[String, Array[Byte]],
                         metaName: String): Option[Seq[PartStat]] = {
    import Json.{JArray, JLong, JObject, JString}
    for {
      mo <- parseMetaObj(files, metaName)
      sid <- mo.get("current-snapshot-id").collect {
        case JLong(x) => x }
      entries <- mo.get("partition-statistics").collect {
        case JArray(xs) => xs }
      entry <- entries.collectFirst {
        case o: JObject if o.get("snapshot-id")
          .contains(JLong(sid)) => o
      }
      path <- entry.get("statistics-path").collect {
        case JString(x) => x }
      size <- entry.get("file-size-in-bytes").collect {
        case JLong(x) => x }
      b <- files.get(path)
      if b.length.toLong == size
      c <- AvroGeneric.parseContainer(b)
      rows <- {
        val rs = c.records.map { r =>
          for {
            spec <- r.field("spec_id").flatMap(_.asLong)
            rc <- r.field("data_record_count").flatMap(_.asLong)
            fc <- r.field("data_file_count").flatMap(_.asLong)
            bs <- r.field("total_data_file_size_in_bytes")
              .flatMap(_.asLong)
            part <- r.field("partition")
          } yield PartStat(part.field("p2") match {
            case Some(AvroGeneric.VLong(x)) => Some(x.toInt)
            case _ => None
          }, spec.toInt, rc, fc, bs)
        }
        if (rs.exists(_.isEmpty)) None else Some(rs.map(_.get))
      }
    } yield rows
  }

  /** The q394 table: the q362 evolved-spec shapes extended with a
    * THIRD snapshot — gen 3 rows arrive as an appended spec-1
    * manifest (three more p2 files, val bumped +3), so snapshot 3's
    * list carries m0 (spec 0), m1 (spec 1), m2 (spec 1, ADDED by
    * s3) and the incremental law has a real append to fold in.
    */
  def writeSpecEvoTableV3(id: String,
                          ids: Seq[Long]): Map[String, Array[Byte]] = {
    val base = writeSpecEvoTable(id, ids)
    val sync = AvroWrite.syncMarker(id)
    def v(d: Long): Long = (d * 7) % 1000 + 3
    val gen3 = ids.filter(d => (d / 6) % 4 == 3)
    val out = Map.newBuilder[String, Array[Byte]]
    val e2 = (0 to 2).map { b =>
      val p = gen3.filter(_ % 3 == b)
      val bytes = ParquetWrite.writeInt64(Seq("rec_id", "val"),
        p.map(d => Array(d, v(d))))
      out += (s"f-add-$b.parquet" -> bytes)
      entryEvo(s"f-add-$b.parquet", p.length.toLong,
        bytes.length.toLong, Some(b))
    }
    val m2 = avroFile(EntrySchemaEvo1, e2, sync)
    out += ("m-spec1-add.avro" -> m2)
    val m0 = base("m-spec0.avro"); val m1 = base("m-spec1.avro")
    val list3 = avroFile(ListSchemaEvo, Seq(
      manifestFileRowEvo("m-spec0.avro", m0.length.toLong, 0),
      manifestFileRowEvo("m-spec1.avro", m1.length.toLong, 1),
      manifestFileRowEvo("m-spec1-add.avro", m2.length.toLong, 1)),
      sync)
    out += ("snap-3.avro" -> list3)
    val meta = ("""{"format-version": 2, "table-uuid": """" + id +
      """", "default-spec-id": 1, "partition-specs": [{"spec-id": 0, "fields": []}, {"spec-id": 1, "fields": [{"field-id": 1000, "name": "p2", "source-id": 1, "transform": "identity"}]}], "current-snapshot-id": 3, "snapshots": [{"snapshot-id": 2, "sequence-number": 2, "timestamp-ms": 1700000001000, "manifest-list": "snap-2.avro"}, {"snapshot-id": 3, "sequence-number": 3, "timestamp-ms": 1700000002000, "manifest-list": "snap-3.avro"}]}""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out += ("v3.metadata.json" -> meta)
    base ++ out.result()
  }

  // ---- row-level delete write (q319): the q262 read shapes ---------------

  /** The MoR manifest-file schema (content routes data vs deletes);
    * shared verbatim with the q262 fixture generator and the q319
    * Python twin.
    */
  val ListSchemaMor: String =
    """{"type":"record","name":"manifest_file","fields":[{"name":"manifest_path","type":"string"},{"name":"manifest_length","type":"long"},{"name":"partition_spec_id","type":"int"},{"name":"content","type":"int"},{"name":"sequence_number","type":"long"},{"name":"min_sequence_number","type":"long"},{"name":"added_snapshot_id","type":"long"},{"name":"added_files_count","type":"int"},{"name":"existing_files_count","type":"int"},{"name":"deleted_files_count","type":"int"},{"name":"added_rows_count","type":"long"},{"name":"existing_rows_count","type":"long"},{"name":"deleted_rows_count","type":"long"},{"name":"key_metadata","type":["null","bytes"]}]}"""

  /** The MoR manifest-entry schema: data_file.content routes
    * data / position-deletes / equality-deletes, equality_ids names
    * the equality columns, sequence_number explicit (no inheritance).
    */
  val EntrySchemaMor: String =
    """{"type":"record","name":"manifest_entry","fields":[{"name":"status","type":"int"},{"name":"snapshot_id","type":["null","long"]},{"name":"sequence_number","type":["null","long"]},{"name":"file_sequence_number","type":["null","long"]},{"name":"data_file","type":{"type":"record","name":"r2","fields":[{"name":"content","type":"int"},{"name":"file_path","type":"string"},{"name":"file_format","type":"string"},{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},{"name":"record_count","type":"long"},{"name":"file_size_in_bytes","type":"long"},{"name":"equality_ids","type":["null",{"type":"array","items":"int"}]},{"name":"sort_order_id","type":["null","int"]}]}}]}"""

  /** One MoR manifest entry (explicit sequence number; content 0
    * data, 1 position deletes, 2 equality deletes with `eqIds`).
    */
  def entryMor(status: Int, seq: Long, content: Int, path: String,
               rc: Long, fsz: Long,
               eqIds: Seq[Int] = Nil,
               format: String = "PARQUET"): V =
    rec("status" -> VLong(status),
      "snapshot_id" -> VLong(99),
      "sequence_number" -> VLong(seq),
      "file_sequence_number" -> VLong(seq),
      "data_file" -> rec(
        "content" -> VLong(content),
        "file_path" -> VString(path),
        "file_format" -> VString(format),
        "partition" -> rec(),
        "record_count" -> VLong(rc),
        "file_size_in_bytes" -> VLong(fsz),
        "equality_ids" ->
          (if (eqIds.isEmpty) VNull
           else VArray(eqIds.map(i => VLong(i): V).toVector)),
        "sort_order_id" -> VLong(0)))

  /** One MoR manifest_file row (content 0 data / 1 deletes). */
  def manifestFileRowMor(path: String, length: Long, content: Int,
                         seq: Long, af: Long, df: Long, ar: Long,
                         dr: Long): V =
    rec("manifest_path" -> VString(path),
      "manifest_length" -> VLong(length),
      "partition_spec_id" -> VLong(0),
      "content" -> VLong(content),
      "sequence_number" -> VLong(seq),
      "min_sequence_number" -> VLong(1),
      "added_snapshot_id" -> VLong(99),
      "added_files_count" -> VLong(af),
      "existing_files_count" -> VLong(0),
      "deleted_files_count" -> VLong(df),
      "added_rows_count" -> VLong(ar),
      "existing_rows_count" -> VLong(0),
      "deleted_rows_count" -> VLong(dr),
      "key_metadata" -> VNull)

  /** The q319 MERGE-ON-READ bundle with ROW-LEVEL DELETES, all
    * through the engine's own writers: data files P0-P2 split by
    * (d/6) % 3 (own parquet writer, val = (d*17) % 983) at sequence
    * 1; a POSITION delete file (file_path + pos parquet through the
    * generalized writer) at seq 1 killing P0 rows with d%11==1 —
    * position deletes apply at seq >= data seq; an EQUALITY delete
    * file (rec_id, equality_ids [1]) at seq 2 killing d%7==3 —
    * applies STRICTLY greater; and the seq-1 equality POISON
    * (d%7==5) that a sloppy >=-reader applies and fails. Delete
    * files ship in their own content=1 manifest. Returns rel_path ->
    * bytes; deterministic, Python-twin pinned
    * (scripts/make_iceberg_mor_write_oracle.py).
    */
  def writeMorTable(id: String,
                    ids: Seq[Long]): Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    val parts = (0 to 2).map(x =>
      ids.filter(d => (d / 6) % 3 == x).toIndexedSeq)
    val names = (0 to 2).map(x => s"part-0000$x.parquet")
    def v(d: Long): Long = (d * 17) % 983
    val data = parts.map(p => ParquetWrite.writeInt64(
      Seq("rec_id", "val"), p.map(d => Array(d, v(d)))))
    // position delete: P0 rows with d%11==1, (file_path, pos) parquet
    val pd0Pos = parts(0).zipWithIndex.collect {
      case (d, i) if d % 11 == 1 => i.toLong
    }
    val W = ParquetWrite
    val pd0 = W.writeFile(
      Seq(W.Leaf("file_path", 0, 6, convertedType = 0),
        W.Leaf("pos", 0, 2)),
      Seq(W.LeafData(Array.fill(pd0Pos.length)(0), null,
        bins = Array.fill(pd0Pos.length)(
          names(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))),
        W.LeafData(Array.fill(pd0Pos.length)(0), null,
          longs = pd0Pos.toArray)))
    // equality deletes on rec_id (field id 1)
    val ed1Ids = ids.filter(_ % 7 == 3) // seq 2: strictly greater
    val ed0Ids = ids.filter(_ % 7 == 5) // seq 1: POISON (equal)
    def eqFile(xs: Seq[Long]): Array[Byte] =
      ParquetWrite.writeInt64(Seq("rec_id"), xs.map(Array(_)))
    val ed1 = eqFile(ed1Ids)
    val ed0 = eqFile(ed0Ids)
    val dataManifest = avroFile(EntrySchemaMor,
      (0 to 2).map(x => entryMor(1, 1L, 0, names(x),
        parts(x).length.toLong, data(x).length.toLong)), sync)
    val delManifest = avroFile(EntrySchemaMor, Seq(
      entryMor(1, 1L, 1, "pd-0.parquet", pd0Pos.length.toLong,
        pd0.length.toLong),
      entryMor(1, 2L, 2, "ed-1.parquet", ed1Ids.length.toLong,
        ed1.length.toLong, eqIds = Seq(1)),
      entryMor(1, 1L, 2, "ed-0.parquet", ed0Ids.length.toLong,
        ed0.length.toLong, eqIds = Seq(1))), sync)
    val list = avroFile(ListSchemaMor, Seq(
      manifestFileRowMor("md.avro", dataManifest.length.toLong, 0, 1L,
        3L, 0L, ids.length.toLong, 0L),
      manifestFileRowMor("dm.avro", delManifest.length.toLong, 1, 2L,
        3L, 0L,
        (pd0Pos.length + ed1Ids.length + ed0Ids.length).toLong, 0L)),
      sync)
    val meta = ("""{"current-snapshot-id": 1, "format-version": 2, "last-sequence-number": 2, "snapshots": [{"manifest-list": "snap-1.avro", "sequence-number": 2, "snapshot-id": 1, "timestamp-ms": 1700000000000}], "table-uuid": """" +
      id + """"}""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Map("v1.metadata.json" -> meta, "snap-1.avro" -> list,
      "md.avro" -> dataManifest, "dm.avro" -> delManifest,
      "pd-0.parquet" -> pd0, "ed-1.parquet" -> ed1,
      "ed-0.parquet" -> ed0,
      names(0) -> data(0), names(1) -> data(1), names(2) -> data(2))
  }

  /** The q301 metadata tree: three ADDED files split by (d/6) % 3
    * with relational record counts, one manifest, one list, one
    * metadata.json. Returns rel_path -> bytes.
    */
  def writeTable(id: String,
                 ids: Seq[Long]): Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    val parts = (0 to 2).map(x => ids.filter(d => (d / 6) % 3 == x))
    val entries = parts.zipWithIndex.map { case (p, x) =>
      entrySt(1, s"data/f-$x.parquet", p.length.toLong,
        p.map(d => 1L + d % 9).sum)
    }
    val manifest = avroFile(EntrySchema, entries, sync)
    val list = avroFile(ListSchema, Seq(manifestFileRow(
      "m1.avro", manifest.length.toLong, 3L,
      ids.length.toLong)), sync)
    val meta = ("""{"format-version": 2, "table-uuid": """" + id +
      """", "current-snapshot-id": 1, "snapshots": [{"snapshot-id": 1, "sequence-number": 1, "timestamp-ms": 1700000000000, "manifest-list": "snap-1.avro"}]}""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Map("v1.metadata.json" -> meta, "snap-1.avro" -> list,
      "m1.avro" -> manifest)
  }

  // ---- snapshot history + expire write (q338) ----------------------------

  /** One manifest entry with an explicit status (1 ADDED,
    * 2 DELETED) — the reduced EntrySchema shape.
    */
  def entrySt(status: Int, path: String, rc: Long, fsz: Long): V =
    rec("status" -> VLong(status),
      "data_file" -> rec(
        "file_path" -> VString(path),
        "record_count" -> VLong(rc),
        "file_size_in_bytes" -> VLong(fsz)))

  private def snapshotJson(sid: Long, seq: Long, ts: Long,
                           list: String): String =
    s"""{"manifest-list": "$list", "sequence-number": $seq, "snapshot-id": $sid, "timestamp-ms": $ts}"""

  private def metadataJson(id: String, current: Long,
                           snaps: Seq[String]): String =
    s"""{"current-snapshot-id": $current, "format-version": 2, "snapshots": [${
      snaps.mkString(", ")
    }], "table-uuid": "$id"}"""

  /** A TWO-SNAPSHOT history with the q286 compaction bait: snapshot
    * 1 ADDs three data files (own parquet writer, val = (d*19) %
    * 977); snapshot 2 — the CURRENT one — compacts, its replace
    * manifest marking the three old files DELETED and adding one
    * compacted file carrying every row. An any-reference reachability
    * walk keeps the three old files; the live-reference law deletes
    * them. Returns rel_path -> bytes, canonical-JSON metadata.
    */
  def writeHistoryTable(id: String,
                        ids: Seq[Long]): Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    val parts = (0 to 2).map(x => ids.filter(d => (d / 6) % 3 == x))
    def v(d: Long): Long = (d * 19) % 977
    val data = parts.map(p => ParquetWrite.writeInt64(
      Seq("rec_id", "val"), p.map(d => Array(d, v(d)))))
    val names = (0 to 2).map(x => s"data/f-$x.parquet")
    val sorted = ids.sorted
    val compacted = ParquetWrite.writeInt64(Seq("rec_id", "val"),
      sorted.map(d => Array(d, v(d))))
    val ma = avroFile(EntrySchema, (0 to 2).map(x =>
      entrySt(1, names(x), parts(x).length.toLong,
        data(x).length.toLong)), sync)
    val mb = avroFile(EntrySchema,
      (0 to 2).map(x => entrySt(2, names(x), parts(x).length.toLong,
        data(x).length.toLong)) :+
        entrySt(1, "data/c-0.parquet", sorted.length.toLong,
          compacted.length.toLong), sync)
    val l1 = avroFile(ListSchema, Seq(manifestFileRow("ma.avro",
      ma.length.toLong, 3L, ids.length.toLong)), sync)
    val l2 = avroFile(ListSchema, Seq(manifestFileRow("mb.avro",
      mb.length.toLong, 1L, sorted.length.toLong)), sync)
    val meta = metadataJson(id, 2L, Seq(
      snapshotJson(1L, 1L, 1700000000000L, "snap-1.avro"),
      snapshotJson(2L, 2L, 1700000001000L, "snap-2.avro")))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Map("v3.metadata.json" -> meta,
      "snap-1.avro" -> l1, "snap-2.avro" -> l2,
      "ma.avro" -> ma, "mb.avro" -> mb,
      names(0) -> data(0), names(1) -> data(1), names(2) -> data(2),
      "data/c-0.parquet" -> compacted)
  }

  // ---- snapshot refs: branches, tags, write-audit-publish (q367) ----------

  /** One snapshot reference (table-spec v2 `refs` map): a branch or
    * tag name -> snapshot id, with the spec's optional
    * max-ref-age-ms retention knob (tags/branches other than main
    * age out of expire_snapshots protection).
    */
  final case class Ref(snapshotId: Long, refType: String,
                       maxRefAgeMs: Option[Long] = None)

  private def refJson(r: Ref): String = {
    val age = r.maxRefAgeMs
      .map(a => s""""max-ref-age-ms": $a, """).getOrElse("")
    s"""{$age"snapshot-id": ${r.snapshotId}, "type": "${r.refType}"}"""
  }

  private def refsJson(refs: Seq[(String, Ref)]): String =
    refs.sortBy(_._1).map { case (n, r) => s""""$n": ${refJson(r)}""" }
      .mkString("{", ", ", "}")

  /** Canonical metadata JSON with a `refs` map; byte-identical to
    * [[metadataJson]] when there are no refs (pre-q367 tables keep
    * their pinned bytes).
    */
  private def metadataJsonRefs(id: String, current: Long,
                               snaps: Seq[String],
                               refs: Seq[(String, Ref)]): String =
    if (refs.isEmpty) metadataJson(id, current, snaps)
    else s"""{"current-snapshot-id": $current, "format-version": 2, "refs": ${
      refsJson(refs)
    }, "snapshots": [${snaps.mkString(", ")}], "table-uuid": "$id"}"""

  /** Parse the `refs` map (empty when absent — every pre-refs table). */
  def parseRefs(mo: Json.JObject): Seq[(String, Ref)] = {
    import Json.{JLong, JObject, JString}
    mo.get("refs") match {
      case Some(ro: JObject) =>
        ro.fields.flatMap { case (name, rv) =>
          rv match {
            case r: JObject =>
              for {
                sid <- r.get("snapshot-id").collect { case JLong(x) => x }
                tpe <- r.get("type").collect { case JString(x) => x }
              } yield name -> Ref(sid, tpe,
                r.get("max-ref-age-ms").collect { case JLong(x) => x })
            case _ => None
          }
        }
      case _ => Nil
    }
  }

  private final case class SnapRow(sid: Long, seq: Long, ts: Long,
                                   listPath: String,
                                   op: String = "append")

  private def parseSnaps(mo: Json.JObject): Option[Seq[SnapRow]] = {
    import Json.{JArray, JLong, JObject, JString}
    mo.get("snapshots").collect { case JArray(xs) => xs }.flatMap {
      snapsJ =>
        val parsed = snapsJ.flatMap {
          case so: JObject =>
            for {
              sid <- so.get("snapshot-id").collect { case JLong(x) => x }
              seq <- so.get("sequence-number").collect {
                case JLong(x) => x }
              ts <- so.get("timestamp-ms").collect { case JLong(x) => x }
              lp <- so.get("manifest-list").collect {
                case JString(x) => x }
            } yield SnapRow(sid, seq, ts, lp,
              so.get("operation").collect {
                case JString(x) => x }.getOrElse("append"))
          case _ => None
        }
        if (parsed.length == snapsJ.length) Some(parsed) else None
    }
  }

  private def parseMetaObj(files: Map[String, Array[Byte]],
                           metaName: String): Option[Json.JObject] =
    files.get(metaName).flatMap(b => Json.parse(
      new String(b, java.nio.charset.StandardCharsets.UTF_8)))
      .collect { case o: Json.JObject => o }

  /** Resolve a ref name to its snapshot id: the `refs` map, with
    * "main" falling back to current-snapshot-id on ref-less tables.
    */
  def resolveRef(files: Map[String, Array[Byte]], metaName: String,
                 refName: String): Option[Long] = {
    import Json.JLong
    parseMetaObj(files, metaName).flatMap { mo =>
      parseRefs(mo).collectFirst {
        case (n, r) if n == refName => r.snapshotId
      }.orElse {
        if (refName == "main")
          mo.get("current-snapshot-id").collect { case JLong(x) => x }
        else None
      }
    }
  }

  /** Scan the (rec_id, val) rows LIVE in one snapshot: list ->
    * manifests -> non-DELETED entries -> own parquet reader. None on
    * any malformed byte or missing file.
    */
  def scanSnapshot(files: Map[String, Array[Byte]], metaName: String,
                   sid: Long): Option[Seq[(Long, Long)]] =
    for {
      mo <- parseMetaObj(files, metaName)
      snaps <- parseSnaps(mo)
      snap <- snaps.find(_.sid == sid)
      listBytes <- files.get(snap.listPath)
      list <- AvroGeneric.parseContainer(listBytes)
      mps = list.records.flatMap(
        _.field("manifest_path").flatMap(_.asString))
      rows <- {
        val per = mps.map { mp =>
          for {
            mb <- files.get(mp)
            m <- AvroGeneric.parseContainer(mb)
            es <- Some(m.records.flatMap { e =>
              for {
                st <- e.field("status").flatMap(_.asLong)
                df <- e.field("data_file")
                p <- df.field("file_path").flatMap(_.asString)
              } yield (st, p)
            })
            live = es.filter(_._1 != 2L).map(_._2)
            read <- {
              val rs = live.map { p =>
                for {
                  db <- files.get(p)
                  ids <- Parquet.columnLongs(db, "rec_id")
                  vs <- Parquet.columnLongs(db, "val")
                  if ids.length == vs.length
                } yield ids.zip(vs).toSeq
              }
              if (rs.exists(_.isEmpty)) None
              else Some(rs.flatMap(_.get))
            }
          } yield read
        }
        if (per.exists(_.isEmpty)) None
        else Some(per.flatMap(_.get))
      }
    } yield rows

  /** Rows live at a ref, by name (tag time travel / branch scan). */
  def scanRef(files: Map[String, Array[Byte]], metaName: String,
              refName: String): Option[Seq[(Long, Long)]] =
    resolveRef(files, metaName, refName)
      .flatMap(scanSnapshot(files, metaName, _))

  /** A one-snapshot table carrying a refs map: main (branch) and a
    * retention-bounded tag at snapshot 1. Real parquet rows
    * (rec_id, val = vf(d)).
    */
  def writeRefsTable(id: String, ids: Seq[Long], vf: Long => Long,
                     tagName: String,
                     tagMaxAgeMs: Long): Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    val sorted = ids.sorted
    val data = ParquetWrite.writeInt64(Seq("rec_id", "val"),
      sorted.map(d => Array(d, vf(d))))
    val m1 = avroFile(EntrySchema, Seq(entrySt(1,
      "data/f-0.parquet", sorted.length.toLong, data.length.toLong)),
      sync)
    val l1 = avroFile(ListSchema, Seq(manifestFileRow("m1.avro",
      m1.length.toLong, 1L, sorted.length.toLong)), sync)
    val meta = metadataJsonRefs(id, 1L,
      Seq(snapshotJson(1L, 1L, 1700000000000L, "snap-1.avro")),
      Seq("main" -> Ref(1L, "branch"),
        tagName -> Ref(1L, "tag", Some(tagMaxAgeMs))))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Map("v1.metadata.json" -> meta, "snap-1.avro" -> l1,
      "m1.avro" -> m1, "data/f-0.parquet" -> data)
  }

  final case class StageResult(newMetaName: String,
                               newFiles: Map[String, Array[Byte]],
                               stagedSid: Long)

  /** WRITE-AUDIT-PUBLISH, stage step: commit an append as a NEW
    * snapshot reachable only from `branch` — main / current stay
    * untouched (the WAP law), so a failed audit costs nothing but an
    * expire. The staged list carries the current list's manifests
    * forward plus one new manifest for the appended rows.
    */
  def stageBranch(files: Map[String, Array[Byte]], metaName: String,
                  branch: String, rows: Seq[(Long, Long)],
                  newTs: Long): Option[StageResult] =
    for {
      mo <- parseMetaObj(files, metaName)
      uuid <- mo.get("table-uuid").collect {
        case Json.JString(x) => x }
      current <- mo.get("current-snapshot-id").collect {
        case Json.JLong(x) => x }
      snaps <- parseSnaps(mo)
      cur <- snaps.find(_.sid == current)
      listBytes <- files.get(cur.listPath)
      list <- AvroGeneric.parseContainer(listBytes)
      carried <- {
        val rs = list.records.map { r =>
          for {
            p <- r.field("manifest_path").flatMap(_.asString)
            len <- r.field("manifest_length").flatMap(_.asLong)
            nf <- r.field("added_files_count").flatMap(_.asLong)
            nr <- r.field("added_rows_count").flatMap(_.asLong)
          } yield manifestFileRow(p, len, nf, nr)
        }
        if (rs.exists(_.isEmpty)) None else Some(rs.map(_.get))
      }
    } yield {
      val sync = AvroWrite.syncMarker(uuid)
      val newSid = snaps.map(_.sid).max + 1
      val newSeq = snaps.map(_.seq).max + 1
      val sorted = rows.sortBy(_._1)
      val data = ParquetWrite.writeInt64(Seq("rec_id", "val"),
        sorted.map { case (i, v) => Array(i, v) })
      val dataName = s"data/b-$newSid.parquet"
      val m2 = avroFile(EntrySchema, Seq(entrySt(1, dataName,
        sorted.length.toLong, data.length.toLong)), sync)
      val m2Name = s"m-b$newSid.avro"
      val l2 = avroFile(ListSchema, carried :+ manifestFileRow(
        m2Name, m2.length.toLong, 1L, sorted.length.toLong), sync)
      val refs = parseRefs(mo).filterNot(_._1 == branch) :+
        (branch -> Ref(newSid, "branch"))
      val VN = "^v(\\d+)\\.metadata\\.json$".r
      val nextV = metaName match {
        case VN(n) => n.toInt + 1; case _ => 2
      }
      val newMeta = metadataJsonRefs(uuid, current,
        snaps.map(sn => snapshotJson(sn.sid, sn.seq, sn.ts,
          sn.listPath)) :+
          snapshotJson(newSid, newSeq, newTs, s"snap-$newSid.avro"),
        refs).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      StageResult(s"v$nextV.metadata.json",
        Map(s"v$nextV.metadata.json" -> newMeta,
          s"snap-$newSid.avro" -> l2, m2Name -> m2,
          dataName -> data), newSid)
    }

  /** WRITE-AUDIT-PUBLISH, publish step: fast-forward main (and
    * current-snapshot-id) to the audited branch's snapshot — pure
    * metadata, the branch ref stays. None if the branch is unknown.
    */
  def fastForward(files: Map[String, Array[Byte]], metaName: String,
                  branch: String)
      : Option[(String, Array[Byte])] =
    for {
      mo <- parseMetaObj(files, metaName)
      uuid <- mo.get("table-uuid").collect {
        case Json.JString(x) => x }
      snaps <- parseSnaps(mo)
      refs <- Some(parseRefs(mo))
      target <- refs.collectFirst {
        case (n, r) if n == branch => r.snapshotId }
      if snaps.exists(_.sid == target)
    } yield {
      val newRefs = refs.map {
        case ("main", r) => "main" -> r.copy(snapshotId = target)
        case other => other
      }
      val VN = "^v(\\d+)\\.metadata\\.json$".r
      val nextV = metaName match {
        case VN(n) => n.toInt + 1; case _ => 2
      }
      val newMeta = metadataJsonRefs(uuid, target,
        snaps.map(sn => snapshotJson(sn.sid, sn.seq, sn.ts,
          sn.listPath)), newRefs)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      (s"v$nextV.metadata.json", newMeta)
    }

  // ---- incremental append scan (q369) --------------------------------------

  /** Snapshot JSON carrying the summary `operation` (append /
    * replace / overwrite) incremental consumption dispatches on.
    */
  private def snapshotJsonOp(sid: Long, seq: Long, ts: Long,
                             list: String, op: String): String =
    s"""{"manifest-list": "$list", "operation": "$op", "sequence-number": $seq, "snapshot-id": $sid, "timestamp-ms": $ts}"""

  final case class Incremental(rows: Seq[(Long, Long)],
                               appendsConsumed: Int,
                               replacesSkipped: Int)

  /** CHANGES-BETWEEN-SNAPSHOTS — the incremental-consumption
    * primitive a downstream feed runs instead of repeated full
    * scans: for every snapshot with sequence number in (from, to],
    * read ONLY the manifests that snapshot added (its list minus its
    * predecessor's — never the carried-forward ones, q259's EXISTING
    * discipline) and take the ADDED entries' rows. Snapshots whose
    * operation is not `append` (compactions/replaces) contribute
    * ZERO rows — they move bytes, not data. None on unknown
    * snapshot ids or any malformed byte.
    */
  def incrementalScan(files: Map[String, Array[Byte]],
                      metaName: String, fromSid: Long,
                      toSid: Long): Option[Incremental] =
    for {
      mo <- parseMetaObj(files, metaName)
      snaps <- parseSnaps(mo)
      from <- snaps.find(_.sid == fromSid)
      to <- snaps.find(_.sid == toSid)
      if from.seq <= to.seq
      ordered = snaps.sortBy(_.seq)
      listPaths <- {
        val ls = ordered.map { sn =>
          files.get(sn.listPath)
            .flatMap(AvroGeneric.parseContainer)
            .map(l => sn -> l.records.flatMap(
              _.field("manifest_path").flatMap(_.asString)))
        }
        if (ls.exists(_.isEmpty)) None else Some(ls.map(_.get))
      }
      result <- {
        val inRange = listPaths.filter { case (sn, _) =>
          sn.seq > from.seq && sn.seq <= to.seq }
        var appends = 0
        var replaces = 0
        val rows = Seq.newBuilder[(Long, Long)]
        var ok = true
        inRange.foreach { case (sn, mps) =>
          if (sn.op != "append") replaces += 1
          else {
            appends += 1
            val prev = listPaths.takeWhile(_._1.seq < sn.seq)
              .lastOption.map(_._2.toSet).getOrElse(Set.empty)
            val added = mps.filterNot(prev)
            added.foreach { mp =>
              val mrows = for {
                mb <- files.get(mp)
                m <- AvroGeneric.parseContainer(mb)
                es <- Some(m.records.flatMap { e =>
                  for {
                    st <- e.field("status").flatMap(_.asLong)
                    df <- e.field("data_file")
                    p <- df.field("file_path").flatMap(_.asString)
                  } yield (st, p)
                })
                read <- {
                  val rs = es.filter(_._1 == 1L).map { case (_, p) =>
                    for {
                      db <- files.get(p)
                      ids <- Parquet.columnLongs(db, "rec_id")
                      vs <- Parquet.columnLongs(db, "val")
                      if ids.length == vs.length
                    } yield ids.zip(vs).toSeq
                  }
                  if (rs.exists(_.isEmpty)) None
                  else Some(rs.flatMap(_.get))
                }
              } yield read
              mrows match {
                case Some(rws) => rows ++= rws
                case None => ok = false
              }
            }
          }
        }
        if (ok) Some(Incremental(rows.result(), appends, replaces))
        else None
      }
    } yield result

  /** A four-snapshot history exercising every incremental-scan rule:
    * s1 appends A (gen0), s2 appends B (gen1) with m1 carried
    * forward, s3 REPLACES A+B with the compacted C (operation
    * `replace`), s4 appends D (the rest) with m3 carried forward.
    * Real parquet throughout (val = vf(d)).
    */
  def writeIncrTable(id: String, ids: Seq[Long],
                     vf: Long => Long): Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    def gen(d: Long): Long = (d / 6) % 4
    val a = ids.filter(gen(_) == 0).sorted
    val b = ids.filter(gen(_) == 1).sorted
    val ab = (a ++ b).sorted
    val dd = ids.filter(d => gen(d) >= 2).sorted
    def pq(xs: Seq[Long]): Array[Byte] =
      ParquetWrite.writeInt64(Seq("rec_id", "val"),
        xs.map(d => Array(d, vf(d))))
    val (fa, fb, fc, fd) = (pq(a), pq(b), pq(ab), pq(dd))
    val m1 = avroFile(EntrySchema, Seq(entrySt(1, "data/a.parquet",
      a.length.toLong, fa.length.toLong)), sync)
    val m2 = avroFile(EntrySchema, Seq(entrySt(1, "data/b.parquet",
      b.length.toLong, fb.length.toLong)), sync)
    val m3 = avroFile(EntrySchema, Seq(
      entrySt(2, "data/a.parquet", a.length.toLong, fa.length.toLong),
      entrySt(2, "data/b.parquet", b.length.toLong, fb.length.toLong),
      entrySt(1, "data/c.parquet", ab.length.toLong,
        fc.length.toLong)), sync)
    val m4 = avroFile(EntrySchema, Seq(entrySt(1, "data/d.parquet",
      dd.length.toLong, fd.length.toLong)), sync)
    def mrow(p: String, m: Array[Byte], nf: Long, nr: Long) =
      manifestFileRow(p, m.length.toLong, nf, nr)
    val l1 = avroFile(ListSchema, Seq(
      mrow("m1.avro", m1, 1L, a.length.toLong)), sync)
    val l2 = avroFile(ListSchema, Seq(
      mrow("m1.avro", m1, 1L, a.length.toLong),
      mrow("m2.avro", m2, 1L, b.length.toLong)), sync)
    val l3 = avroFile(ListSchema, Seq(
      mrow("m3.avro", m3, 1L, ab.length.toLong)), sync)
    val l4 = avroFile(ListSchema, Seq(
      mrow("m3.avro", m3, 1L, ab.length.toLong),
      mrow("m4.avro", m4, 1L, dd.length.toLong)), sync)
    val t0 = 1700000000000L
    val meta = s"""{"current-snapshot-id": 4, "format-version": 2, "snapshots": [${
      Seq(snapshotJsonOp(1L, 1L, t0, "snap-1.avro", "append"),
        snapshotJsonOp(2L, 2L, t0 + 1000, "snap-2.avro", "append"),
        snapshotJsonOp(3L, 3L, t0 + 2000, "snap-3.avro", "replace"),
        snapshotJsonOp(4L, 4L, t0 + 3000, "snap-4.avro", "append"))
        .mkString(", ")
    }], "table-uuid": "$id"}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Map("v1.metadata.json" -> meta,
      "snap-1.avro" -> l1, "snap-2.avro" -> l2,
      "snap-3.avro" -> l3, "snap-4.avro" -> l4,
      "m1.avro" -> m1, "m2.avro" -> m2, "m3.avro" -> m3,
      "m4.avro" -> m4,
      "data/a.parquet" -> fa, "data/b.parquet" -> fb,
      "data/c.parquet" -> fc, "data/d.parquet" -> fd)
  }

  // ---- v3 row lineage (q392) -----------------------------------------------

  /** Lineage manifest-entry shape (v3): data_file carries a NULLABLE
    * first_row_id — null on a freshly ADDED file (readers assign by
    * inheritance from the manifest), explicit on carried
    * EXISTING/DELETED entries (ids must survive metadata rewrites).
    */
  val EntrySchemaLin: String =
    """{"type":"record","name":"manifest_entry","fields":[{"name":"status","type":"int"},{"name":"sequence_number","type":"long"},{"name":"data_file","type":{"type":"record","name":"r2","fields":[{"name":"content","type":"int"},{"name":"file_path","type":"string"},{"name":"file_format","type":"string"},{"name":"record_count","type":"long"},{"name":"file_size_in_bytes","type":"long"},{"name":"first_row_id","type":["null","long"]}]}}]}"""

  /** Lineage manifest-list shape (v3): each manifest carries the
    * first_row_id block its ADDED files assign from (null for delete
    * manifests — they claim no ids).
    */
  val ListSchemaLin: String =
    """{"type":"record","name":"manifest_file","fields":[{"name":"manifest_path","type":"string"},{"name":"manifest_length","type":"long"},{"name":"content","type":"int"},{"name":"sequence_number","type":"long"},{"name":"added_rows_count","type":"long"},{"name":"first_row_id","type":["null","long"]}]}"""

  def entryLin(status: Int, seq: Long, content: Int, path: String,
               rc: Long, fsz: Long, firstRowId: Option[Long],
               format: String = "PARQUET"): V =
    rec("status" -> VLong(status),
      "sequence_number" -> VLong(seq),
      "data_file" -> rec(
        "content" -> VLong(content),
        "file_path" -> VString(path),
        "file_format" -> VString(format),
        "record_count" -> VLong(rc),
        "file_size_in_bytes" -> VLong(fsz),
        "first_row_id" -> opt(firstRowId)))

  def manifestFileRowLin(path: String, length: Long, content: Int,
                         seq: Long, rows: Long,
                         firstRowId: Option[Long]): V =
    rec("manifest_path" -> VString(path),
      "manifest_length" -> VLong(length),
      "content" -> VLong(content),
      "sequence_number" -> VLong(seq),
      "added_rows_count" -> VLong(rows),
      "first_row_id" -> opt(firstRowId))

  private def snapshotJsonLin(sid: Long, seq: Long, ts: Long,
                              list: String, op: String,
                              firstRowId: Long): String =
    s"""{"first-row-id": $firstRowId, "manifest-list": "$list", "operation": "$op", "sequence-number": $seq, "snapshot-id": $sid, "timestamp-ms": $ts}"""

  /** The v3 ROW-LINEAGE history (q392): s1 appends A (gen 0, row ids
    * 0..|A|), s2 appends B (ids |A|..), s3 REPLACES A+B with the
    * compacted C — which MATERIALIZES `_row_id` (the spec's rewrite
    * rule: a rewriting writer must carry row ids physically, because
    * a single first_row_id cannot represent an interleaved merge),
    * while the replace still claims a fresh id block (ids are never
    * reused, even by rewrites) — s4 appends D from the advanced
    * next-row-id, and s5 adds a deletion vector on C (d%5==0 of the
    * old generations die by POSITION; survivors keep their
    * materialized ids untouched). Table metadata carries
    * `next-row-id`; each snapshot carries `first-row-id`.
    */
  def writeLineageTable(id: String, ids: Seq[Long],
                        vf: Long => Long): Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    def gen(d: Long): Long = (d / 6) % 4
    val a = ids.filter(gen(_) == 0).sorted
    val b = ids.filter(gen(_) == 1).sorted
    val dd = ids.filter(gen(_) >= 2).sorted
    val na = a.length.toLong; val nb = b.length.toLong
    val nd = dd.length.toLong
    def pq(xs: Seq[Long]): Array[Byte] =
      ParquetWrite.writeInt64(Seq("rec_id", "val"),
        xs.map(d => Array(d, vf(d))))
    val (fa, fb, fd) = (pq(a), pq(b), pq(dd))
    // materialized row ids: position within A, then |A| + position
    // within B — exactly what inheritance assigned at s1/s2
    val ridOf = (a.zipWithIndex.map { case (d, i) => d -> i.toLong } ++
      b.zipWithIndex.map { case (d, i) => d -> (na + i) }).toMap
    val c = (a ++ b).sorted
    val fc = ParquetWrite.writeInt64(Seq("_row_id", "rec_id", "val"),
      c.map(d => Array(ridOf(d), d, vf(d))))
    val dvPos = c.zipWithIndex.collect {
      case (d, i) if d % 5 == 0 => i.toLong }
    val dvBitmap = DeletionVectorsWrite.serializeBitmap(dvPos)
    val puffin = Puffin.write(Seq(Puffin.Blob(
      "deletion-vector-v1", Seq(2147483546), 5L, 5L, dvBitmap,
      Map("referenced-data-file" -> "data/c.parquet",
        "cardinality" -> dvPos.length.toString))),
      Map("created-by" -> "graft"))
    val mA = avroFile(EntrySchemaLin, Seq(entryLin(1, 1L, 0,
      "data/a.parquet", na, fa.length.toLong, None)), sync)
    val mB = avroFile(EntrySchemaLin, Seq(entryLin(1, 2L, 0,
      "data/b.parquet", nb, fb.length.toLong, None)), sync)
    val mC = avroFile(EntrySchemaLin, Seq(
      // DELETED entries carry their ids EXPLICITLY — preserved, the
      // q259 EXISTING-discipline applied to lineage
      entryLin(2, 3L, 0, "data/a.parquet", na, fa.length.toLong,
        Some(0L)),
      entryLin(2, 3L, 0, "data/b.parquet", nb, fb.length.toLong,
        Some(na)),
      entryLin(1, 3L, 0, "data/c.parquet", na + nb,
        fc.length.toLong, None)), sync)
    val mD = avroFile(EntrySchemaLin, Seq(entryLin(1, 4L, 0,
      "data/d.parquet", nd, fd.length.toLong, None)), sync)
    val mV = avroFile(EntrySchemaLin, Seq(entryLin(1, 5L, 1,
      "dv-5.puffin", dvPos.length.toLong, puffin.length.toLong,
      None, format = "PUFFIN")), sync)
    def row(p: String, m: Array[Byte], content: Int, seq: Long,
            rows: Long, fri: Option[Long]) =
      manifestFileRowLin(p, m.length.toLong, content, seq, rows, fri)
    val rA = row("m-a.avro", mA, 0, 1L, na, Some(0L))
    val rB = row("m-b.avro", mB, 0, 2L, nb, Some(na))
    val rC = row("m-c.avro", mC, 0, 3L, na + nb, Some(na + nb))
    val rD = row("m-d.avro", mD, 0, 4L, nd, Some(2L * (na + nb)))
    val rV = row("m-v.avro", mV, 1, 5L, dvPos.length.toLong, None)
    val l1 = avroFile(ListSchemaLin, Seq(rA), sync)
    val l2 = avroFile(ListSchemaLin, Seq(rA, rB), sync)
    val l3 = avroFile(ListSchemaLin, Seq(rC), sync)
    val l4 = avroFile(ListSchemaLin, Seq(rC, rD), sync)
    val l5 = avroFile(ListSchemaLin, Seq(rC, rD, rV), sync)
    val t0 = 1700000000000L
    val nextRow = 2L * (na + nb) + nd
    val meta = s"""{"current-snapshot-id": 5, "format-version": 3, "next-row-id": $nextRow, "snapshots": [${
      Seq(snapshotJsonLin(1L, 1L, t0, "snap-1.avro", "append", 0L),
        snapshotJsonLin(2L, 2L, t0 + 1000, "snap-2.avro", "append",
          na),
        snapshotJsonLin(3L, 3L, t0 + 2000, "snap-3.avro", "replace",
          na + nb),
        snapshotJsonLin(4L, 4L, t0 + 3000, "snap-4.avro", "append",
          2L * (na + nb)),
        snapshotJsonLin(5L, 5L, t0 + 4000, "snap-5.avro", "delete",
          nextRow)).mkString(", ")
    }], "table-uuid": "$id"}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Map("v1.metadata.json" -> meta,
      "snap-1.avro" -> l1, "snap-2.avro" -> l2, "snap-3.avro" -> l3,
      "snap-4.avro" -> l4, "snap-5.avro" -> l5,
      "m-a.avro" -> mA, "m-b.avro" -> mB, "m-c.avro" -> mC,
      "m-d.avro" -> mD, "m-v.avro" -> mV,
      "dv-5.puffin" -> puffin,
      "data/a.parquet" -> fa, "data/b.parquet" -> fb,
      "data/c.parquet" -> fc, "data/d.parquet" -> fd)
  }

  /** The table's `next-row-id` (v3). */
  def nextRowId(files: Map[String, Array[Byte]],
                metaName: String): Option[Long] =
    parseMetaObj(files, metaName).flatMap(_.get("next-row-id")
      .collect { case Json.JLong(x) => x })

  /** LINEAGE-CARRYING SCAN: every live row with its stable `_row_id`
    * — (row_id, rec_id, val). Assignment per the v3 rules: an ADDED
    * data file with null first_row_id inherits the manifest's
    * first_row_id plus the record counts of the ADDED files before
    * it; an explicit first_row_id (carried entries) is used as-is; a
    * file with a MATERIALIZED `_row_id` column reads it (rewrites);
    * row_id = first_row_id + position otherwise. Deletion vectors
    * kill by POSITION without disturbing surviving ids. Fails CLOSED
    * (None) when an id cannot be assigned (both manifest and entry
    * first_row_id null, no materialized column) or any row id would
    * be duplicated — lineage that cannot be proven unique is not
    * lineage.
    */
  def lineageScan(files: Map[String, Array[Byte]], metaName: String,
                  sid: Long): Option[Seq[(Long, Long, Long)]] =
    for {
      mo <- parseMetaObj(files, metaName)
      snaps <- parseSnaps(mo)
      snap <- snaps.find(_.sid == sid)
      listBytes <- files.get(snap.listPath)
      list <- AvroGeneric.parseContainer(listBytes)
      mrows <- {
        val rs = list.records.map { r =>
          for {
            mp <- r.field("manifest_path").flatMap(_.asString)
            content <- r.field("content").flatMap(_.asLong)
            seq <- r.field("sequence_number").flatMap(_.asLong)
          } yield (mp, content.toInt, seq,
            r.field("first_row_id").flatMap(_.asLong))
        }
        if (rs.exists(_.isEmpty)) None else Some(rs.map(_.get))
      }
      entries <- {
        val per = mrows.map { case (mp, content, _, mfri) =>
          files.get(mp).flatMap(AvroGeneric.parseContainer).flatMap {
            m =>
              val es = m.records.map { e =>
                for {
                  st <- e.field("status").flatMap(_.asLong)
                  seq <- e.field("sequence_number").flatMap(_.asLong)
                  df <- e.field("data_file")
                  ct <- df.field("content").flatMap(_.asLong)
                  p <- df.field("file_path").flatMap(_.asString)
                  fmt <- df.field("file_format").flatMap(_.asString)
                  rc <- df.field("record_count").flatMap(_.asLong)
                } yield (st, seq, ct.toInt, p, fmt, rc,
                  df.field("first_row_id").flatMap(_.asLong))
              }
              if (es.exists(_.isEmpty)) None
              else {
                // inheritance: ADDED files with null first_row_id
                // assign from the manifest block in entry order
                var run = mfri
                val assigned = es.map(_.get).map { e =>
                  val fri = e._7.orElse {
                    if (e._1 == 1L && e._3 == 0) {
                      val r = run
                      run = run.map(_ + e._6)
                      r
                    } else None
                  }
                  (e._1, e._2, e._3, e._4, e._5, e._6, fri)
                }
                Some((content, assigned))
              }
          }
        }
        if (per.exists(_.isEmpty)) None else Some(per.map(_.get))
      }
      dead <- {
        val pds = entries.filter(_._1 == 1).flatMap(_._2)
          .filter(e => e._1 != 2L && e._3 == 1).map { e =>
            deadPositions(files, e._4, e._5).map(e._2 -> _)
          }
        if (pds.exists(_.isEmpty)) None else Some(pds.map(_.get))
      }
      rows <- {
        val per = entries.filter(_._1 == 0).flatMap(_._2)
          .filter(e => e._1 != 2L && e._3 == 0).map {
            case (_, dseq, _, p, _, _, fri) =>
              for {
                db <- files.get(p)
                rs <- Parquet.columnLongs(db, "rec_id")
                vs <- Parquet.columnLongs(db, "val")
                if rs.length == vs.length
                rids <- Parquet.columnLongs(db, "_row_id") match {
                  case Some(m) if m.length == rs.length =>
                    Some(m.toSeq) // materialized ids win (rewrites)
                  case Some(_) => None
                  case None => fri.map(f =>
                    rs.indices.map(i => f + i.toLong))
                }
              } yield {
                val killed = dead.collect {
                  case (pseq, m) if pseq >= dseq =>
                    m.getOrElse(p, Set.empty[Long])
                }.foldLeft(Set.empty[Long])(_ ++ _)
                rs.indices.collect {
                  case i if !killed.contains(i.toLong) =>
                    (rids(i), rs(i), vs(i))
                }.toSeq
              }
          }
        if (per.exists(_.isEmpty)) None else Some(per.flatMap(_.get))
      }
      if rows.map(_._1).distinct.length == rows.length // ids UNIQUE
    } yield rows.sortBy(_._1)

  // ---- Delta -> Iceberg migration (q390) ---------------------------------------

  /** MIGRATE a Delta table to Iceberg WITHOUT copying data — the
    * snapshot-table procedure every lake migration leans on at
    * 100 TB (rewriting the data would move the lake; rewriting only
    * METADATA is hours, not months): replay the Delta log to its
    * live (path, size) set and write an Iceberg manifest + list +
    * metadata whose entries reference the SAME parquet files. The
    * declared sizes carry over 1:1 (a size mismatch would poison
    * Iceberg's planning), record counts come from the engine's own
    * parquet reader — PROVEN, not assumed. None on a malformed log
    * or a live file whose bytes are missing (you cannot migrate what
    * vacuum already reclaimed).
    */
  def migrateFromDelta(delta: Map[String, Array[Byte]],
                       id: String): Option[Map[String, Array[Byte]]] = {
    val maxV = delta.keys.collect {
      case m if m.startsWith("_delta_log/") && m.endsWith(".json") =>
        m.stripPrefix("_delta_log/").stripSuffix(".json").toLong
    }.maxOption.getOrElse(return None)
    for {
      live <- DeltaWrite.replayLiveSized(delta, maxV)
      counted <- {
        val per = live.toSeq.sortBy(_._1).map { case (p, sz) =>
          for {
            b <- delta.get(p)
            if b.length.toLong == sz
            rs <- Parquet.columnLongs(b, "rec_id")
          } yield (p, sz, rs.length.toLong)
        }
        if (per.exists(_.isEmpty)) None else Some(per.map(_.get))
      }
    } yield {
      val sync = AvroWrite.syncMarker(id)
      val manifest = avroFile(EntrySchema, counted.map {
        case (p, sz, rc) => entrySt(1, p, rc, sz)
      }, sync)
      val list = avroFile(ListSchema, Seq(manifestFileRow(
        "m-migrated.avro", manifest.length.toLong,
        counted.length.toLong, counted.map(_._3).sum)), sync)
      val meta = metadataJson(id, 1L, Seq(
        snapshotJson(1L, 1L, 1700000000000L, "snap-1.avro")))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Map("v1.metadata.json" -> meta, "snap-1.avro" -> list,
        "m-migrated.avro" -> manifest)
    }
  }

  /** Metadata-only Hudi→Iceberg migration (q415) — the last edge of
    * the migration triangle (q390 Delta→Iceberg, q396
    * Iceberg→Delta): freeze a CLEAN Hudi snapshot
    * ([[HudiWrite.cleanSnapshot]] — COW, or MOR after compaction;
    * unmerged logs refuse) as an Iceberg v1-metadata snapshot
    * pointing at the SAME base parquet bytes. Every live base is
    * re-opened by the engine's own parquet reader at migrate time,
    * so the manifest's record counts are proven and a vacuumed or
    * timeline-tampered source refuses rather than migrating a
    * guess. Deterministic in (table, id): a second migration is
    * byte-identical.
    */
  def migrateFromHudi(hudi: Map[String, Array[Byte]],
                      id: String): Option[Map[String, Array[Byte]]] =
    HudiWrite.cleanSnapshot(hudi).map { groups =>
      val sync = AvroWrite.syncMarker(id)
      val sorted = groups.sortBy(_._2)
      val manifest = avroFile(EntrySchema, sorted.map {
        case (_, p, rc) => entrySt(1, p, rc, hudi(p).length.toLong)
      }, sync)
      val list = avroFile(ListSchema, Seq(manifestFileRow(
        "m-migrated.avro", manifest.length.toLong,
        sorted.length.toLong, sorted.map(_._3).sum)), sync)
      val meta = metadataJson(id, 1L, Seq(
        snapshotJson(1L, 1L, 1700000000000L, "snap-1.avro")))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Map("v1.metadata.json" -> meta, "snap-1.avro" -> list,
        "m-migrated.avro" -> manifest)
    }

  // ---- bucket transform partitioning (q402) -------------------------------------

  /** Murmur3_x86_32 (public algorithm; the Iceberg spec's Appendix B
    * names it for every bucket transform) over a byte array, seed 0.
    * The spec's own test vectors pin it: hashLong(34) = 2017239379,
    * hashBytes("iceberg") = 1210000089.
    */
  def murmur3(b: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h = 0
    var i = 0
    val n4 = (b.length / 4) * 4
    while (i < n4) {
      var k = Bytes.le32(b, i)
      k *= c1
      k = Integer.rotateLeft(k, 15)
      k *= c2
      h ^= k
      h = Integer.rotateLeft(h, 13)
      h = h * 5 + 0xe6546b64
      i += 4
    }
    var k = 0
    var j = b.length - 1
    while (j >= n4) {
      k = (k << 8) | (b(j) & 0xff)
      j -= 1
    }
    if (k != 0 || b.length != n4) {
      k *= c1
      k = Integer.rotateLeft(k, 15)
      k *= c2
      h ^= k
    }
    h ^= b.length
    h ^= h >>> 16
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^= h >>> 16
    h
  }

  /** The spec's bucket[N] transform for a long: murmur3 over the
    * 8-byte LITTLE-ENDIAN value, then (hash & Int.MaxValue) % N —
    * int values hash as longs, so bucket(34: int) == bucket(34L).
    */
  def bucketLong(v: Long, n: Int): Int = {
    require(n >= 1)
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    (murmur3(b) & Int.MaxValue) % n
  }

  /** The q402 table: ONE snapshot whose spec is bucket[nBuckets] on
    * rec_id — every key routes to bucket(key), one file per bucket
    // (written even when empty — the layout is deterministic), the
    * manifest entries carrying the bucket value in their partition
    * record (the EntrySchemaEvo1 shape, field `p2` standing for the
    * bucket ordinal).
    */
  def writeBucketTable(id: String, ids: Seq[Long], vf: Long => Long,
                       nBuckets: Int): Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    val out = Map.newBuilder[String, Array[Byte]]
    val entries = (0 until nBuckets).map { bkt =>
      val p = ids.filter(bucketLong(_, nBuckets) == bkt).sorted
      val bytes = ParquetWrite.writeInt64(Seq("rec_id", "val"),
        p.map(d => Array(d, vf(d))))
      out += (s"data/b-$bkt.parquet" -> bytes)
      entryEvo(s"data/b-$bkt.parquet", p.length.toLong,
        bytes.length.toLong, Some(bkt))
    }
    val m = avroFile(EntrySchemaEvo1, entries, sync)
    out += ("m-bucket.avro" -> m)
    val list = avroFile(ListSchemaEvo, Seq(
      manifestFileRowEvo("m-bucket.avro", m.length.toLong, 0)), sync)
    out += ("snap-1.avro" -> list)
    val meta = (s"""{"format-version": 2, "table-uuid": "$id", """ +
      s""""default-spec-id": 0, "partition-specs": [{"spec-id": 0, """ +
      s""""fields": [{"field-id": 1000, "name": "rec_id_bucket", """ +
      s""""source-id": 1, "transform": "bucket[$nBuckets]"}]}], """ +
      """"current-snapshot-id": 1, "snapshots": [{"snapshot-id": 1, """ +
      """"sequence-number": 1, "timestamp-ms": 1700000000000, """ +
      """"manifest-list": "snap-1.avro"}]}""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out += ("v1.metadata.json" -> meta)
    out.result()
  }

  /** Parse the bucket width from the current default spec's
    * `bucket[N]` transform on source field 1. None when the spec is
    * not a single bucket transform — a pruner must never GUESS the
    * transform.
    */
  def parseBucketSpec(files: Map[String, Array[Byte]],
                      metaName: String): Option[Int] = {
    import Json.{JArray, JLong, JObject, JString}
    for {
      mo <- parseMetaObj(files, metaName)
      specId <- mo.get("default-spec-id").collect {
        case JLong(x) => x }
      specs <- mo.get("partition-specs").collect {
        case JArray(xs) => xs }
      spec <- specs.collectFirst {
        case o: JObject if o.get("spec-id")
          .contains(JLong(specId)) => o
      }
      fields <- spec.get("fields").collect { case JArray(xs) => xs }
      if fields.length == 1
      f <- fields.headOption.collect { case o: JObject => o }
      if f.get("source-id").contains(JLong(1L))
      tr <- f.get("transform").collect { case JString(x) => x }
      n <- {
        val m = "^bucket\\[(\\d+)\\]$".r
        tr match { case m(x) => x.toIntOption; case _ => None }
      }
    } yield n
  }

  /** BUCKET-PRUNED point lookup: the transform routes the key to ONE
    * bucket, the manifest's partition values name each file's
    * bucket, and only the matching file is read. Returns (the pruned
    * file, that key's rows) — with the buckets-partition law this IS
    * the exact answer. None on a spec the pruner cannot prove or any
    * malformed byte.
    */
  def bucketLookup(files: Map[String, Array[Byte]], metaName: String,
                   key: Long): Option[(String, Seq[(Long, Long)])] =
    for {
      n <- parseBucketSpec(files, metaName)
      mo <- parseMetaObj(files, metaName)
      snaps <- parseSnaps(mo)
      sid <- mo.get("current-snapshot-id").collect {
        case Json.JLong(x) => x }
      snap <- snaps.find(_.sid == sid)
      listBytes <- files.get(snap.listPath)
      list <- AvroGeneric.parseContainer(listBytes)
      mps = list.records.flatMap(
        _.field("manifest_path").flatMap(_.asString))
      target = bucketLong(key, n)
      hit <- {
        val per = mps.map { mp =>
          files.get(mp).flatMap(AvroGeneric.parseContainer)
            .flatMap { m =>
              val es = m.records.map { e =>
                for {
                  df <- e.field("data_file")
                  p <- df.field("file_path").flatMap(_.asString)
                  part <- df.field("partition")
                  bkt <- part.field("p2").flatMap(_.asLong)
                } yield (p, bkt.toInt)
              }
              if (es.exists(_.isEmpty)) None else Some(es.map(_.get))
            }
        }
        if (per.exists(_.isEmpty)) None
        else {
          val hits = per.flatMap(_.get).filter(_._2 == target)
          if (hits.length == 1) Some(hits.head._1) else None
        }
      }
      fb <- files.get(hit)
      rs <- Parquet.columnLongs(fb, "rec_id")
      vs <- Parquet.columnLongs(fb, "val")
      if rs.length == vs.length
    } yield (hit, rs.indices.collect {
      case i if rs(i) == key => (rs(i), vs(i)) })

  // ---- truncate transform partitioning (q405) -----------------------------------

  /** The spec's truncate[W] transform for a long: v - (v mod W) with
    * FLOORED mod (truncate[10](-1) = -10, the spec's own vector) —
    * order-preserving, so RANGE predicates prune (bucket[N] serves
    * point lookups; truncate serves ranges — the transform pair).
    */
  def truncateLong(v: Long, w: Int): Long = {
    require(w >= 1)
    v - (((v % w) + w) % w)
  }

  /** The q405 table: ONE snapshot partitioned by truncate[w] on
    * rec_id — one file per OCCUPIED truncation bucket, the manifest
    * carrying each file's bucket value (the EntrySchemaEvo1 shape).
    */
  def writeTruncTable(id: String, ids: Seq[Long], vf: Long => Long,
                      w: Int): Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    val out = Map.newBuilder[String, Array[Byte]]
    val buckets = ids.groupBy(truncateLong(_, w)).toSeq.sortBy(_._1)
    val entries = buckets.map { case (b, p0) =>
      val p = p0.sorted
      val bytes = ParquetWrite.writeInt64(Seq("rec_id", "val"),
        p.map(d => Array(d, vf(d))))
      out += (s"data/t-$b.parquet" -> bytes)
      entryEvo(s"data/t-$b.parquet", p.length.toLong,
        bytes.length.toLong, Some(b.toInt))
    }
    val m = avroFile(EntrySchemaEvo1, entries, sync)
    out += ("m-trunc.avro" -> m)
    val list = avroFile(ListSchemaEvo, Seq(
      manifestFileRowEvo("m-trunc.avro", m.length.toLong, 0)), sync)
    out += ("snap-1.avro" -> list)
    val meta = (s"""{"format-version": 2, "table-uuid": "$id", """ +
      s""""default-spec-id": 0, "partition-specs": [{"spec-id": 0, """ +
      s""""fields": [{"field-id": 1000, "name": "rec_id_trunc", """ +
      s""""source-id": 1, "transform": "truncate[$w]"}]}], """ +
      """"current-snapshot-id": 1, "snapshots": [{"snapshot-id": 1, """ +
      """"sequence-number": 1, "timestamp-ms": 1700000000000, """ +
      """"manifest-list": "snap-1.avro"}]}""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out += ("v1.metadata.json" -> meta)
    out.result()
  }

  /** Parse the width from the default spec's `truncate[W]` transform
    * on source field 1; None otherwise (never guess a transform).
    */
  def parseTruncSpec(files: Map[String, Array[Byte]],
                     metaName: String): Option[Int] = {
    import Json.{JArray, JLong, JObject, JString}
    for {
      mo <- parseMetaObj(files, metaName)
      specId <- mo.get("default-spec-id").collect {
        case JLong(x) => x }
      specs <- mo.get("partition-specs").collect {
        case JArray(xs) => xs }
      spec <- specs.collectFirst {
        case o: JObject if o.get("spec-id")
          .contains(JLong(specId)) => o
      }
      fields <- spec.get("fields").collect { case JArray(xs) => xs }
      if fields.length == 1
      f <- fields.headOption.collect { case o: JObject => o }
      if f.get("source-id").contains(JLong(1L))
      tr <- f.get("transform").collect { case JString(x) => x }
      n <- {
        val m = "^truncate\\[(\\d+)\\]$".r
        tr match { case m(x) => x.toIntOption; case _ => None }
      }
    } yield n
  }

  /** TRUNCATE-PRUNED range scan: keep only files whose bucket lies
    * in [truncate(lo), truncate(hi)] (order preservation makes the
    * prune sound by construction), read them, filter to [lo, hi].
    * Returns (files kept, in-range rows sorted). None on a spec the
    * pruner cannot prove or any malformed byte.
    */
  def truncRangeScan(files: Map[String, Array[Byte]],
                     metaName: String, lo: Long, hi: Long)
      : Option[(Int, Seq[(Long, Long)])] =
    for {
      w <- parseTruncSpec(files, metaName)
      mo <- parseMetaObj(files, metaName)
      snaps <- parseSnaps(mo)
      sid <- mo.get("current-snapshot-id").collect {
        case Json.JLong(x) => x }
      snap <- snaps.find(_.sid == sid)
      listBytes <- files.get(snap.listPath)
      list <- AvroGeneric.parseContainer(listBytes)
      mps = list.records.flatMap(
        _.field("manifest_path").flatMap(_.asString))
      entries <- {
        val per = mps.map { mp =>
          files.get(mp).flatMap(AvroGeneric.parseContainer)
            .flatMap { m =>
              val es = m.records.map { e =>
                for {
                  df <- e.field("data_file")
                  p <- df.field("file_path").flatMap(_.asString)
                  part <- df.field("partition")
                  b <- part.field("p2").flatMap(_.asLong)
                } yield (p, b)
              }
              if (es.exists(_.isEmpty)) None else Some(es.map(_.get))
            }
        }
        if (per.exists(_.isEmpty)) None else Some(per.flatMap(_.get))
      }
      kept = entries.filter { case (_, b) =>
        b >= truncateLong(lo, w) && b <= truncateLong(hi, w) }
      rows <- {
        val per = kept.map { case (p, _) =>
          for {
            fb <- files.get(p)
            rs <- Parquet.columnLongs(fb, "rec_id")
            vs <- Parquet.columnLongs(fb, "val")
            if rs.length == vs.length
          } yield rs.indices.collect {
            case i if rs(i) >= lo && rs(i) <= hi => (rs(i), vs(i))
          }
        }
        if (per.exists(_.isEmpty)) None
        else Some(per.flatMap(_.get).sortBy(_._1))
      }
    } yield (kept.length, rows)

  // ---- temporal partition transforms (q410) -------------------------------------

  /** The spec's temporal transforms for a timestamp in MICROSECONDS
    * since epoch (Appendix A): epoch-relative ordinals — `hour` and
    * `day` by FLOORED division, `month` and `year` through the
    * proleptic Gregorian calendar (month = (year-1970)*12 + month0),
    * so negative dates floor: 1969-12-31T23:59:59 is hour -1, day
    * -1, month -1, year -1 (the historic off-by-one on pre-epoch
    * year/month was fixed in the spec — flooring is normative). All
    * four are order-preserving on the source timestamp, which makes
    * the truncate range-pruning law (q405) carry over unchanged.
    * Vectors pinned in IcebergMaintSpec (2017-12-01T10:12:55.038194
    * -> year 47 / month 575 / day 17501 / hour 420034).
    */
  def hourTransform(micros: Long): Int =
    Math.floorDiv(micros, 3600000000L).toInt

  def dayTransform(micros: Long): Int =
    Math.floorDiv(micros, 86400000000L).toInt

  def monthTransform(micros: Long): Int = {
    val d = java.time.LocalDate.ofEpochDay(
      Math.floorDiv(micros, 86400000000L))
    (d.getYear - 1970) * 12 + (d.getMonthValue - 1)
  }

  def yearTransform(micros: Long): Int =
    java.time.LocalDate.ofEpochDay(
      Math.floorDiv(micros, 86400000000L)).getYear - 1970

  /** Dispatch a temporal transform BY NAME — the four the spec
    * defines and nothing else (a pruner must never guess).
    */
  def temporalTransform(name: String, micros: Long): Option[Int] =
    name match {
      case "year" => Some(yearTransform(micros))
      case "month" => Some(monthTransform(micros))
      case "day" => Some(dayTransform(micros))
      case "hour" => Some(hourTransform(micros))
      case _ => None
    }

  /** The q410 table: ONE snapshot partitioned by a TEMPORAL
    * transform on the ts column (source field 2, micros) — one file
    * per OCCUPIED ordinal, the manifest carrying each file's ordinal
    * in its partition record (the EntrySchemaEvo1 shape; ordinals
    * can be NEGATIVE — pre-1970 rows — and zigzag encoding carries
    * them exactly). None on a transform name the spec does not
    * define.
    */
  def writeTemporalTable(id: String, rows: Seq[(Long, Long, Long)],
                         transform: String)
      : Option[Map[String, Array[Byte]]] = {
    if (temporalTransform(transform, 0L).isEmpty) return None
    val sync = AvroWrite.syncMarker(id)
    val out = Map.newBuilder[String, Array[Byte]]
    val buckets = rows
      .groupBy(r => temporalTransform(transform, r._2).get)
      .toSeq.sortBy(_._1)
    val entries = buckets.map { case (ord, p0) =>
      val p = p0.sortBy(r => (r._2, r._1))
      val bytes = ParquetWrite.writeInt64(Seq("rec_id", "ts", "val"),
        p.map(r => Array(r._1, r._2, r._3)))
      out += (s"data/$transform-$ord.parquet" -> bytes)
      entryEvo(s"data/$transform-$ord.parquet", p.length.toLong,
        bytes.length.toLong, Some(ord))
    }
    val m = avroFile(EntrySchemaEvo1, entries, sync)
    out += ("m-temporal.avro" -> m)
    val list = avroFile(ListSchemaEvo, Seq(
      manifestFileRowEvo("m-temporal.avro", m.length.toLong, 0)),
      sync)
    out += ("snap-1.avro" -> list)
    val meta = (s"""{"format-version": 2, "table-uuid": "$id", """ +
      s""""default-spec-id": 0, "partition-specs": [{"spec-id": 0, """ +
      s""""fields": [{"field-id": 1000, "name": "ts_$transform", """ +
      s""""source-id": 2, "transform": "$transform"}]}], """ +
      """"current-snapshot-id": 1, "snapshots": [{"snapshot-id": 1, """ +
      """"sequence-number": 1, "timestamp-ms": 1700000000000, """ +
      """"manifest-list": "snap-1.avro"}]}""")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out += ("v1.metadata.json" -> meta)
    Some(out.result())
  }

  /** Parse the temporal transform name from the default spec's
    * single field on source field 2. None when the spec is not one
    * of the four temporal transforms — never guess.
    */
  def parseTemporalSpec(files: Map[String, Array[Byte]],
                        metaName: String): Option[String] = {
    import Json.{JArray, JLong, JObject, JString}
    for {
      mo <- parseMetaObj(files, metaName)
      specId <- mo.get("default-spec-id").collect {
        case JLong(x) => x }
      specs <- mo.get("partition-specs").collect {
        case JArray(xs) => xs }
      spec <- specs.collectFirst {
        case o: JObject if o.get("spec-id")
          .contains(JLong(specId)) => o
      }
      fields <- spec.get("fields").collect { case JArray(xs) => xs }
      if fields.length == 1
      f <- fields.headOption.collect { case o: JObject => o }
      if f.get("source-id").contains(JLong(2L))
      tr <- f.get("transform").collect { case JString(x) => x }
      if temporalTransform(tr, 0L).isDefined
    } yield tr
  }

  /** TEMPORAL-PRUNED time-range scan: keep only files whose ordinal
    * lies in [T(lo), T(hi)] — order preservation makes the prune
    * sound by construction for all four transforms — read them,
    * filter to ts in [lo, hi]. Returns (files kept, in-range rows
    * sorted by ts). None on a spec the pruner cannot prove or any
    * malformed byte.
    */
  def temporalRangeScan(files: Map[String, Array[Byte]],
                        metaName: String, lo: Long, hi: Long)
      : Option[(Int, Seq[(Long, Long, Long)])] =
    for {
      tr <- parseTemporalSpec(files, metaName)
      mo <- parseMetaObj(files, metaName)
      snaps <- parseSnaps(mo)
      sid <- mo.get("current-snapshot-id").collect {
        case Json.JLong(x) => x }
      snap <- snaps.find(_.sid == sid)
      listBytes <- files.get(snap.listPath)
      list <- AvroGeneric.parseContainer(listBytes)
      mps = list.records.flatMap(
        _.field("manifest_path").flatMap(_.asString))
      entries <- {
        val per = mps.map { mp =>
          files.get(mp).flatMap(AvroGeneric.parseContainer)
            .flatMap { m =>
              val es = m.records.map { e =>
                for {
                  df <- e.field("data_file")
                  p <- df.field("file_path").flatMap(_.asString)
                  part <- df.field("partition")
                  b <- part.field("p2").flatMap(_.asLong)
                } yield (p, b)
              }
              if (es.exists(_.isEmpty)) None else Some(es.map(_.get))
            }
        }
        if (per.exists(_.isEmpty)) None else Some(per.flatMap(_.get))
      }
      loOrd <- temporalTransform(tr, lo)
      hiOrd <- temporalTransform(tr, hi)
      kept = entries.filter { case (_, b) =>
        b >= loOrd.toLong && b <= hiOrd.toLong }
      rows <- {
        val per = kept.map { case (p, _) =>
          for {
            fb <- files.get(p)
            rs <- Parquet.columnLongs(fb, "rec_id")
            ts <- Parquet.columnLongs(fb, "ts")
            vs <- Parquet.columnLongs(fb, "val")
            if rs.length == ts.length && rs.length == vs.length
          } yield rs.indices.collect {
            case i if ts(i) >= lo && ts(i) <= hi =>
              (rs(i), ts(i), vs(i))
          }
        }
        if (per.exists(_.isEmpty)) None
        else Some(per.flatMap(_.get).sortBy(r => (r._2, r._1)))
      }
    } yield (kept.length, rows)

  // ---- v3 default values (q399) ------------------------------------------------

  /** One schema field as the v3 spec carries it: id, name,
    * required, plus the two defaults — `initial-default` (the value
    * rows written BEFORE the field existed must surface) and
    * `write-default` (what a writer materializes when the writer
    * omits the column).
    */
  final case class SchemaField(id: Int, name: String,
                               required: Boolean,
                               initialDefault: Option[Long],
                               writeDefault: Option[Long])

  private def fieldJson(f: SchemaField): String = {
    val init = f.initialDefault
      .map(v => s""""initial-default": $v, """).getOrElse("")
    val wd = f.writeDefault
      .map(v => s""""write-default": $v, """).getOrElse("")
    s"""{"id": ${f.id}, $init"name": "${f.name}", "required": ${f.required}, "type": "long", $wd"write-order": null}"""
  }

  /** Parse the CURRENT schema's fields from table metadata. */
  def parseSchema(files: Map[String, Array[Byte]],
                  metaName: String): Option[Seq[SchemaField]] = {
    import Json.{JArray, JBool, JLong, JObject, JString}
    for {
      mo <- parseMetaObj(files, metaName)
      cur <- mo.get("current-schema-id").collect {
        case JLong(x) => x }
      schemas <- mo.get("schemas").collect { case JArray(xs) => xs }
      schema <- schemas.collectFirst {
        case o: JObject if o.get("schema-id")
          .contains(JLong(cur)) => o
      }
      fieldsJ <- schema.get("fields").collect {
        case JArray(xs) => xs }
      fields <- {
        val fs = fieldsJ.map {
          case f: JObject =>
            for {
              id <- f.get("id").collect { case JLong(x) => x }
              name <- f.get("name").collect { case JString(x) => x }
              req <- f.get("required").collect { case JBool(x) => x }
            } yield SchemaField(id.toInt, name, req,
              f.get("initial-default").collect { case JLong(x) => x },
              f.get("write-default").collect { case JLong(x) => x })
          case _ => None
        }
        if (fs.exists(_.isEmpty)) None else Some(fs.map(_.get))
      }
    } yield fields
  }

  /** The q399 table: schema 0 is (rec_id, val); the table EVOLVES to
    * schema 1 adding REQUIRED `score` with initial-default 7 and
    * write-default 9, and OPTIONAL `tag` with no defaults. Snapshot
    * 1's file A was written under schema 0 (two columns on disk);
    * snapshot 2's file B carries real scores ((d*3) % 50) and no
    * tag; snapshot 3's file C was written by a writer that OMITTED
    * score, so the writer MATERIALIZED the write-default 9 into the
    * file (defaults are written, never left to reader guesswork,
    * for post-evolution files).
    */
  def writeDefaultsTable(id: String, ids: Seq[Long],
                         vf: Long => Long): Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    def gen(d: Long): Long = (d / 6) % 3
    val a = ids.filter(gen(_) == 0).sorted
    val b = ids.filter(gen(_) == 1).sorted
    val c = ids.filter(gen(_) == 2).sorted
    val fa = ParquetWrite.writeInt64(Seq("rec_id", "val"),
      a.map(d => Array(d, vf(d))))
    val fb = ParquetWrite.writeInt64(Seq("rec_id", "val", "score"),
      b.map(d => Array(d, vf(d), (d * 3) % 50)))
    val fc = ParquetWrite.writeInt64(Seq("rec_id", "val", "score"),
      c.map(d => Array(d, vf(d), 9L))) // write-default MATERIALIZED
    val mA = avroFile(EntrySchema, Seq(entrySt(1, "data/a.parquet",
      a.length.toLong, fa.length.toLong)), sync)
    val mB = avroFile(EntrySchema, Seq(entrySt(1, "data/b.parquet",
      b.length.toLong, fb.length.toLong)), sync)
    val mC = avroFile(EntrySchema, Seq(entrySt(1, "data/c.parquet",
      c.length.toLong, fc.length.toLong)), sync)
    val l3 = avroFile(ListSchema, Seq(
      manifestFileRow("m-a.avro", mA.length.toLong, 1L,
        a.length.toLong),
      manifestFileRow("m-b.avro", mB.length.toLong, 1L,
        b.length.toLong),
      manifestFileRow("m-c.avro", mC.length.toLong, 1L,
        c.length.toLong)), sync)
    val s0 = Seq(
      SchemaField(1, "rec_id", required = true, None, None),
      SchemaField(2, "val", required = true, None, None))
    val s1 = s0 ++ Seq(
      SchemaField(3, "score", required = true, Some(7L), Some(9L)),
      SchemaField(4, "tag", required = false, None, None))
    val meta = s"""{"current-schema-id": 1, "current-snapshot-id": 3, "format-version": 3, "schemas": [{"fields": [${
      s0.map(fieldJson).mkString(", ")
    }], "schema-id": 0}, {"fields": [${
      s1.map(fieldJson).mkString(", ")
    }], "schema-id": 1}], "snapshots": [${
      snapshotJson(3L, 3L, 1700000000000L, "snap-3.avro")
    }], "table-uuid": "$id"}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Map("v1.metadata.json" -> meta, "snap-3.avro" -> l3,
      "m-a.avro" -> mA, "m-b.avro" -> mB, "m-c.avro" -> mC,
      "data/a.parquet" -> fa, "data/b.parquet" -> fb,
      "data/c.parquet" -> fc)
  }

  /** Scan with DEFAULT MATERIALIZATION (the v3 rule): a live file
    * missing a current-schema column surfaces `initial-default` for
    * every row; an optional missing column without a default
    * surfaces null (None). Fails CLOSED when a REQUIRED column is
    * missing from a file and the schema gives no initial-default —
    * inventing a value (or zero-filling) is how evolved tables go
    * silently wrong. Returns (rec_id, val, score, tagOrNull).
    */
  def scanWithDefaults(files: Map[String, Array[Byte]],
                       metaName: String, sid: Long)
      : Option[Seq[(Long, Long, Long, Option[Long])]] =
    for {
      fields <- parseSchema(files, metaName)
      score <- fields.find(_.name == "score")
      tag <- fields.find(_.name == "tag")
      mo <- parseMetaObj(files, metaName)
      snaps <- parseSnaps(mo)
      snap <- snaps.find(_.sid == sid)
      listBytes <- files.get(snap.listPath)
      list <- AvroGeneric.parseContainer(listBytes)
      mps = list.records.flatMap(
        _.field("manifest_path").flatMap(_.asString))
      rows <- {
        val per = mps.flatMap { mp =>
          files.get(mp).flatMap(AvroGeneric.parseContainer) match {
            case None => Seq(None)
            case Some(m) => m.records.map { e =>
              if (e.field("status").flatMap(_.asLong).contains(2L))
                Some(Vector.empty) // deleted entry: skip, not fail
              else for {
                st <- e.field("status").flatMap(_.asLong)
                df <- e.field("data_file")
                p <- df.field("file_path").flatMap(_.asString)
                fb <- files.get(p)
                rs <- Parquet.columnLongs(fb, "rec_id")
                vs <- Parquet.columnLongs(fb, "val")
                if rs.length == vs.length
                scores <- Parquet.columnLongs(fb, "score") match {
                  case Some(ss) if ss.length == rs.length =>
                    Some(ss.toSeq)
                  case Some(_) => None
                  case None =>
                    // missing column: initial-default, else CLOSED
                    // (this scan surfaces score non-null, so a
                    // defaultless miss is unservable either way —
                    // never invent a value)
                    score.initialDefault
                      .map(v => Seq.fill(rs.length)(v))
                }
                tags <- Parquet.columnLongs(fb, "tag") match {
                  case Some(ts) if ts.length == rs.length =>
                    Some(ts.toSeq.map(Option(_)))
                  case Some(_) => None
                  case None => tag.initialDefault match {
                    case Some(v) =>
                      Some(Seq.fill(rs.length)(Some(v)))
                    case None if !tag.required =>
                      Some(Seq.fill(rs.length)(
                        Option.empty[Long])) // optional -> null
                    case None => None
                  }
                }
              } yield rs.indices.map(i =>
                (rs(i), vs(i), scores(i), tags(i)))
            }
          }
        }
        if (per.exists(_.isEmpty)) None
        else Some(per.flatMap(_.get))
      }
    } yield rows.sortBy(_._1)

  // ---- Iceberg -> Delta REVERSE migration (q396) ------------------------------

  /** MIGRATE an Iceberg snapshot table to Delta WITHOUT copying
    * data — q390's edge reversed, closing migration into a
    * round-trip (migrate∘migrate must preserve the scan EXACTLY,
    * which is what proves the metadata mapping lossless): walk the
    * CURRENT snapshot's manifests, take the live (status != DELETED)
    * data entries, and emit a Delta commit 0 re-declaring the SAME
    * parquet files by path with the manifest-declared sizes. Fails
    * CLOSED on: a live file whose bytes are missing or whose length
    * disagrees with the declared size (an expired/vacuumed source
    * cannot be migrated); any DELETE-content entry (deletion vectors
    * / position deletes must be materialized first — migrating them
    * silently would resurrect dead rows); a malformed byte anywhere.
    */
  def migrateToDelta(iceberg: Map[String, Array[Byte]],
                     metaName: String,
                     id: String): Option[Map[String, Array[Byte]]] =
    for {
      mo <- parseMetaObj(iceberg, metaName)
      sid <- mo.get("current-snapshot-id").collect {
        case Json.JLong(x) => x }
      snaps <- parseSnaps(mo)
      snap <- snaps.find(_.sid == sid)
      listBytes <- iceberg.get(snap.listPath)
      list <- AvroGeneric.parseContainer(listBytes)
      mps <- {
        val rs = list.records.map(
          _.field("manifest_path").flatMap(_.asString))
        if (rs.exists(_.isEmpty)) None else Some(rs.map(_.get))
      }
      live <- {
        val per = mps.map { mp =>
          iceberg.get(mp).flatMap(AvroGeneric.parseContainer)
            .flatMap { m =>
              val es = m.records.map { e =>
                for {
                  st <- e.field("status").flatMap(_.asLong)
                  // delete-content entries (DVs, position deletes)
                  // must be REFUSED, never silently dropped
                  if !e.field("data_file").flatMap(_.field("content"))
                    .flatMap(_.asLong).exists(_ != 0L)
                  df = e.field("data_file")
                  p <- df.flatMap(_.field("file_path"))
                    .flatMap(_.asString)
                    .orElse(e.field("file_path").flatMap(_.asString))
                  rc <- df.flatMap(_.field("record_count"))
                    .flatMap(_.asLong)
                    .orElse(e.field("record_count")
                      .flatMap(_.asLong))
                  sz <- df.flatMap(_.field("file_size_in_bytes"))
                    .flatMap(_.asLong)
                    .orElse(e.field("file_size_in_bytes")
                      .flatMap(_.asLong))
                } yield (st, p, rc, sz)
              }
              if (es.exists(_.isEmpty)) None else Some(es.map(_.get))
            }
        }
        if (per.exists(_.isEmpty)) None
        else Some(per.flatMap(_.get).filter(_._1 != 2L))
      }
      // vacuum/expire gate: every live file's bytes must exist at
      // the declared size
      if live.forall { case (_, p, _, sz) =>
        iceberg.get(p).exists(_.length.toLong == sz) }
    } yield {
      val adds = live.map { case (_, p, _, sz) =>
        DeltaWrite.addAction(p, sz) }.sorted
      val c0 = (Seq(DeltaWrite.protocolAction,
        DeltaWrite.metaDataAction(id)) ++ adds).mkString("\n") + "\n"
      Map("_delta_log/00000000000000000000.json" ->
        c0.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  // ---- rollback to snapshot (q384) -------------------------------------------

  /** ROLLBACK TO SNAPSHOT — q383's Iceberg twin, and pure METADATA
    * here: the successor metadata file points current (and main) at
    * an older snapshot while HISTORY IS PRESERVED — every snapshot
    * stays in the list, so the rolled-past ones remain time-
    * travelable and expire_snapshots (with its ref rules) remains
    * the only thing that deletes. None for an unknown snapshot id.
    */
  def rollbackTo(files: Map[String, Array[Byte]], metaName: String,
                 sid: Long): Option[(String, Array[Byte])] =
    for {
      mo <- parseMetaObj(files, metaName)
      uuid <- mo.get("table-uuid").collect {
        case Json.JString(x) => x }
      snaps <- parseSnaps(mo)
      if snaps.exists(_.sid == sid)
    } yield {
      val refs = parseRefs(mo).map {
        case ("main", r) => "main" -> r.copy(snapshotId = sid)
        case other => other
      }
      val VN = "^v(\\d+)\\.metadata\\.json$".r
      val nextV = metaName match {
        case VN(n) => n.toInt + 1; case _ => 2
      }
      val newMeta = metadataJsonRefs(uuid, sid,
        snaps.map(sn => snapshotJsonOp(sn.sid, sn.seq, sn.ts,
          sn.listPath, sn.op)), refs)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      (s"v$nextV.metadata.json", newMeta)
    }

  // ---- changelog scan (q375): incremental INSERTS + DELETES -----------------

  final case class Change(changeType: String, sid: Long,
                          recId: Long, value: Long)

  /** A four-snapshot MoR history for the changelog: s1 appends A
    * (gen 0), s2 appends B (gen 1), s3 is a row-level DELETE — a v2
    * POSITION-delete file killing A's rows with d%5==0 (operation
    * `delete`, content-1 manifest) — and s4 appends D (the rest).
    * Real parquet throughout (val = vf(d)).
    */
  def writeChangelogTable(id: String, ids: Seq[Long],
                          vf: Long => Long): Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    def gen(d: Long): Long = (d / 6) % 4
    val a = ids.filter(gen(_) == 0).sorted
    val b = ids.filter(gen(_) == 1).sorted
    val dd = ids.filter(gen(_) >= 2).sorted
    def pq(xs: Seq[Long]): Array[Byte] =
      ParquetWrite.writeInt64(Seq("rec_id", "val"),
        xs.map(d => Array(d, vf(d))))
    val (fa, fb, fd) = (pq(a), pq(b), pq(dd))
    val W = ParquetWrite
    val pdPos = a.zipWithIndex.collect {
      case (d, i) if d % 5 == 0 => i.toLong
    }
    val pd = W.writeFile(
      Seq(W.Leaf("file_path", 0, 6, convertedType = 0),
        W.Leaf("pos", 0, 2)),
      Seq(W.LeafData(Array.fill(pdPos.length)(0), null,
        bins = Array.fill(pdPos.length)("data/a.parquet"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))),
        W.LeafData(Array.fill(pdPos.length)(0), null,
          longs = pdPos.toArray)))
    val mA = avroFile(EntrySchemaMor, Seq(entryMor(1, 1L, 0,
      "data/a.parquet", a.length.toLong, fa.length.toLong)), sync)
    val mB = avroFile(EntrySchemaMor, Seq(entryMor(1, 2L, 0,
      "data/b.parquet", b.length.toLong, fb.length.toLong)), sync)
    val mD = avroFile(EntrySchemaMor, Seq(entryMor(1, 3L, 1,
      "pd-3.parquet", pdPos.length.toLong, pd.length.toLong)), sync)
    val mE = avroFile(EntrySchemaMor, Seq(entryMor(1, 4L, 0,
      "data/d.parquet", dd.length.toLong, fd.length.toLong)), sync)
    def row(p: String, m: Array[Byte], content: Int, seq: Long,
            rows: Long) =
      manifestFileRowMor(p, m.length.toLong, content, seq, 1L, 0L,
        rows, 0L)
    val l1 = avroFile(ListSchemaMor, Seq(
      row("m-a.avro", mA, 0, 1L, a.length.toLong)), sync)
    val l2 = avroFile(ListSchemaMor, Seq(
      row("m-a.avro", mA, 0, 1L, a.length.toLong),
      row("m-b.avro", mB, 0, 2L, b.length.toLong)), sync)
    val l3 = avroFile(ListSchemaMor, Seq(
      row("m-a.avro", mA, 0, 1L, a.length.toLong),
      row("m-b.avro", mB, 0, 2L, b.length.toLong),
      row("m-d.avro", mD, 1, 3L, pdPos.length.toLong)), sync)
    val l4 = avroFile(ListSchemaMor, Seq(
      row("m-a.avro", mA, 0, 1L, a.length.toLong),
      row("m-b.avro", mB, 0, 2L, b.length.toLong),
      row("m-d.avro", mD, 1, 3L, pdPos.length.toLong),
      row("m-e.avro", mE, 0, 4L, dd.length.toLong)), sync)
    val t0 = 1700000000000L
    val meta = s"""{"current-snapshot-id": 4, "format-version": 2, "snapshots": [${
      Seq(snapshotJsonOp(1L, 1L, t0, "snap-1.avro", "append"),
        snapshotJsonOp(2L, 2L, t0 + 1000, "snap-2.avro", "append"),
        snapshotJsonOp(3L, 3L, t0 + 2000, "snap-3.avro", "delete"),
        snapshotJsonOp(4L, 4L, t0 + 3000, "snap-4.avro", "append"))
        .mkString(", ")
    }], "table-uuid": "$id"}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Map("v1.metadata.json" -> meta,
      "snap-1.avro" -> l1, "snap-2.avro" -> l2,
      "snap-3.avro" -> l3, "snap-4.avro" -> l4,
      "m-a.avro" -> mA, "m-b.avro" -> mB, "m-d.avro" -> mD,
      "m-e.avro" -> mE, "pd-3.parquet" -> pd,
      "data/a.parquet" -> fa, "data/b.parquet" -> fb,
      "data/d.parquet" -> fd)
  }

  /** q387's fixture: the EXACT deletions of [[writeChangelogTable]]
    * (A's d%5==0 rows at snapshot 3) expressed as a v3 DELETION
    * VECTOR instead of a v2 position-delete parquet — one puffin
    * file whose `deletion-vector-v1` blob carries the roaring
    * bitmap of dead positions and names its target + cardinality in
    * blob properties, referenced by a content-1 manifest entry with
    * file_format PUFFIN. Everything else byte-identical in shape, so
    * the two delete REPRESENTATIONS must scan and changelog
    * identically — q387's referee.
    */
  def writeDvChangelogTable(id: String, ids: Seq[Long],
                            vf: Long => Long)
      : Map[String, Array[Byte]] = {
    val base = writeChangelogTable(id, ids, vf)
    val sync = AvroWrite.syncMarker(id)
    def gen(d: Long): Long = (d / 6) % 4
    val a = ids.filter(gen(_) == 0).sorted
    val pdPos = a.zipWithIndex.collect {
      case (d, i) if d % 5 == 0 => i.toLong
    }
    val dvBitmap = DeletionVectorsWrite.serializeBitmap(pdPos)
    val puffin = Puffin.write(Seq(Puffin.Blob(
      "deletion-vector-v1", Seq(2147483546), 3L, 3L, dvBitmap,
      Map("referenced-data-file" -> "data/a.parquet",
        "cardinality" -> pdPos.length.toString))),
      Map("created-by" -> "graft"))
    val mD = avroFile(EntrySchemaMor, Seq(entryMor(1, 3L, 1,
      "dv-3.puffin", pdPos.length.toLong, puffin.length.toLong,
      format = "PUFFIN")), sync)
    // splice the DV manifest over the parquet-delete one: same name,
    // same list rows (lengths patched)
    def row(p: String, m: Array[Byte], content: Int, seq: Long,
            rows: Long) =
      manifestFileRowMor(p, m.length.toLong, content, seq, 1L, 0L,
        rows, 0L)
    val b = ids.filter(gen(_) == 1).sorted
    val dd = ids.filter(d => gen(d) >= 2).sorted
    val mA = base("m-a.avro"); val mB = base("m-b.avro")
    val mE = base("m-e.avro")
    val l3 = avroFile(ListSchemaMor, Seq(
      row("m-a.avro", mA, 0, 1L, a.length.toLong),
      row("m-b.avro", mB, 0, 2L, b.length.toLong),
      row("m-d.avro", mD, 1, 3L, pdPos.length.toLong)), sync)
    val l4 = avroFile(ListSchemaMor, Seq(
      row("m-a.avro", mA, 0, 1L, a.length.toLong),
      row("m-b.avro", mB, 0, 2L, b.length.toLong),
      row("m-d.avro", mD, 1, 3L, pdPos.length.toLong),
      row("m-e.avro", mE, 0, 4L, dd.length.toLong)), sync)
    base - "pd-3.parquet" +
      ("m-d.avro" -> mD) + ("snap-3.avro" -> l3) +
      ("snap-4.avro" -> l4) + ("dv-3.puffin" -> puffin)
  }

  private def morEntries(files: Map[String, Array[Byte]],
                         manifest: String)
      : Option[Seq[(Long, Long, Int, String, String)]] =
    files.get(manifest).flatMap(AvroGeneric.parseContainer).flatMap {
      m =>
        val es = m.records.map { e =>
          for {
            st <- e.field("status").flatMap(_.asLong)
            seq <- e.field("sequence_number").flatMap(_.asLong)
            df <- e.field("data_file")
            content <- df.field("content").flatMap(_.asLong)
            p <- df.field("file_path").flatMap(_.asString)
            fmt <- df.field("file_format").flatMap(_.asString)
          } yield (st, seq, content.toInt, p, fmt)
        }
        if (es.exists(_.isEmpty)) None else Some(es.map(_.get))
    }

  /** Position-delete resolution: (target path -> dead positions).
    * PARQUET delete files are the v2 (file_path, pos) form through
    * the own reader; PUFFIN files are v3 DELETION VECTORS — one
    * `deletion-vector-v1` blob per target, the referenced data file
    * in blob properties and the positions a serialized roaring
    * bitmap ([[DeletionVectors.bitmap]], the same portable 64-bit
    * layout the Delta DV stack pins), with the spec's `cardinality`
    * property cross-checked against the decoded bitmap. None on any
    * malformed byte or cardinality mismatch.
    */
  private def deadPositions(files: Map[String, Array[Byte]],
                            pdPath: String, format: String)
      : Option[Map[String, Set[Long]]] =
    if (format == "PUFFIN")
      for {
        b <- files.get(pdPath)
        (blobs, _) <- Puffin.read(b)
        dvs <- {
          val per = blobs.collect {
            case (meta, data) if meta.tpe == "deletion-vector-v1" =>
              for {
                target <- meta.properties.get("referenced-data-file")
                card <- meta.properties.get("cardinality")
                  .flatMap(_.toLongOption)
                bits <- DeletionVectors.bitmap(data)
                if bits.length.toLong == card
              } yield target -> bits.toSet
          }
          if (per.isEmpty || per.exists(_.isEmpty)) None
          else Some(per.map(_.get))
        }
      } yield dvs.groupBy(_._1).view
        .mapValues(_.flatMap(_._2).toSet).toMap
    else
      for {
        b <- files.get(pdPath)
        paths <- Parquet.columnStrings(b, "file_path")
        pos <- Parquet.columnLongs(b, "pos")
        if paths.length == pos.length
      } yield paths.zip(pos).groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap

  /** MoR-aware snapshot scan: data entries (content 0) minus the
    * rows position-delete files (content 1) kill — a delete applies
    * to data at sequence <= its own (the v2 rule for position
    * deletes). None on any malformed byte.
    */
  def scanSnapshotMor(files: Map[String, Array[Byte]],
                      metaName: String,
                      sid: Long): Option[Seq[(Long, Long)]] =
    for {
      mo <- parseMetaObj(files, metaName)
      snaps <- parseSnaps(mo)
      snap <- snaps.find(_.sid == sid)
      listBytes <- files.get(snap.listPath)
      list <- AvroGeneric.parseContainer(listBytes)
      mps = list.records.flatMap(
        _.field("manifest_path").flatMap(_.asString))
      entries <- {
        val per = mps.map(morEntries(files, _))
        if (per.exists(_.isEmpty)) None
        else Some(per.flatMap(_.get).filter(_._1 != 2L))
      }
      dead <- {
        val pds = entries.filter(_._3 == 1).map {
          case (_, seq, _, p, fmt) =>
            deadPositions(files, p, fmt).map(seq -> _)
        }
        if (pds.exists(_.isEmpty)) None else Some(pds.map(_.get))
      }
      rows <- {
        val per = entries.filter(_._3 == 0).map {
          case (_, dseq, _, p, _) =>
            for {
              db <- files.get(p)
              rs <- Parquet.columnLongs(db, "rec_id")
              vs <- Parquet.columnLongs(db, "val")
              if rs.length == vs.length
            } yield {
              val killed = dead.collect {
                case (pseq, m) if pseq >= dseq =>
                  m.getOrElse(p, Set.empty[Long])
              }.foldLeft(Set.empty[Long])(_ ++ _)
              rs.zip(vs).zipWithIndex.collect {
                case (r, i) if !killed.contains(i.toLong) => r
              }.toSeq
            }
        }
        if (per.exists(_.isEmpty)) None else Some(per.flatMap(_.get))
      }
    } yield rows

  /** The CHANGELOG between two snapshots: per snapshot in (from, to]
    * by sequence, an `append` emits INSERT changes from the
    * manifests it added; a `delete`/`overwrite` emits DELETE changes
    * carrying the KILLED ROWS' VALUES, resolved by reading its
    * position-delete files against their target data files. Carried-
    * forward manifests never re-contribute. Applying the changelog
    * to scan(from) yields scan(to) — the apply law q375 pins at
    * every boundary. None on unknown ids or any malformed byte.
    */
  def changelogScan(files: Map[String, Array[Byte]],
                    metaName: String, fromSid: Long,
                    toSid: Long): Option[Seq[Change]] =
    for {
      mo <- parseMetaObj(files, metaName)
      snaps <- parseSnaps(mo)
      from <- snaps.find(_.sid == fromSid)
      to <- snaps.find(_.sid == toSid)
      if from.seq <= to.seq
      ordered = snaps.sortBy(_.seq)
      listPaths <- {
        val ls = ordered.map { sn =>
          files.get(sn.listPath)
            .flatMap(AvroGeneric.parseContainer)
            .map(l => sn -> l.records.flatMap(
              _.field("manifest_path").flatMap(_.asString)))
        }
        if (ls.exists(_.isEmpty)) None else Some(ls.map(_.get))
      }
      changes <- {
        val out = Seq.newBuilder[Change]
        var ok = true
        listPaths.filter { case (sn, _) =>
          sn.seq > from.seq && sn.seq <= to.seq
        }.foreach { case (sn, mps) =>
          val prev = listPaths.takeWhile(_._1.seq < sn.seq)
            .lastOption.map(_._2.toSet).getOrElse(Set.empty)
          mps.filterNot(prev).foreach { mp =>
            morEntries(files, mp) match {
              case Some(es) => es.filter(_._1 == 1L).foreach {
                case (_, _, 0, p, _) if sn.op == "append" =>
                  (for {
                    db <- files.get(p)
                    rs <- Parquet.columnLongs(db, "rec_id")
                    vs <- Parquet.columnLongs(db, "val")
                    if rs.length == vs.length
                  } yield rs.zip(vs)) match {
                    case Some(rws) => rws.foreach(r =>
                      out += Change("INSERT", sn.sid, r._1, r._2))
                    case None => ok = false
                  }
                case (_, _, 1, p, fmt)
                  if sn.op == "delete" || sn.op == "overwrite" =>
                  deadPositions(files, p, fmt) match {
                    case Some(dm) => dm.foreach { case (tp, poss) =>
                      (for {
                        db <- files.get(tp)
                        rs <- Parquet.columnLongs(db, "rec_id")
                        vs <- Parquet.columnLongs(db, "val")
                        if rs.length == vs.length
                      } yield rs.zip(vs)) match {
                        case Some(rws) =>
                          poss.toSeq.sorted.foreach { i =>
                            if (i < 0 || i >= rws.length) ok = false
                            else out += Change("DELETE", sn.sid,
                              rws(i.toInt)._1, rws(i.toInt)._2)
                          }
                        case None => ok = false
                      }
                    }
                    case None => ok = false
                  }
                case _ => ok = false // op/content mismatch: damage
              }
              case None => ok = false
            }
          }
        }
        if (ok) Some(out.result()) else None
      }
    } yield changes

  final case class ExpireResult(newMetaName: String,
                                newMeta: Array[Byte],
                                deleted: Seq[String], nExpired: Int,
                                deletedRows: Long, keptRows: Long) {
    def listsDeleted: Int = deleted.count(_.startsWith("snap-"))
    def manifestsDeleted: Int = deleted.count(p =>
      p.endsWith(".avro") && !p.startsWith("snap-"))
    def dataDeleted: Int = deleted.count(_.endsWith(".parquet"))
  }

  /** The expire_snapshots WRITE — the maintenance op that keeps a
    * 100 TB table's metadata and storage bounded. Walks the table
    * with the engine's own readers (Json + AvroGeneric), applies the
    * q286 law (expired = older than cutoff and not current; delete
    * lists of expired snapshots, manifests referenced by no retained
    * one, and data files LIVE in no retained one — a DELETED entry
    * does not protect a file), and WRITES the successor metadata
    * file carrying only the retained snapshots, in the same
    * canonical-JSON byte form the table writer uses. None on any
    * malformed byte.
    */
  def expireSnapshots(files: Map[String, Array[Byte]],
                      metaName: String, cutoffMs: Long,
                      nowMs: Long = -1L)
      : Option[ExpireResult] = {
    import Json.{JArray, JLong, JObject, JString}
    val now = if (nowMs < 0) cutoffMs else nowMs
    for {
      metaBytes <- files.get(metaName)
      meta <- Json.parse(
        new String(metaBytes, java.nio.charset.StandardCharsets.UTF_8))
      mo <- meta match { case o: JObject => Some(o); case _ => None }
      current <- mo.get("current-snapshot-id").collect {
        case JLong(x) => x }
      uuid <- mo.get("table-uuid").collect { case JString(x) => x }
      snapsJ <- mo.get("snapshots").collect { case JArray(xs) => xs }
      snaps <- {
        case class Snap(sid: Long, seq: Long, ts: Long,
                        listPath: String, manifests: Seq[String],
                        entries: Seq[(String, Long, Long)])
        val parsed = snapsJ.flatMap {
          case so: JObject =>
            for {
              sid <- so.get("snapshot-id").collect {
                case JLong(x) => x }
              seq <- so.get("sequence-number").collect {
                case JLong(x) => x }
              ts <- so.get("timestamp-ms").collect {
                case JLong(x) => x }
              lp <- so.get("manifest-list").collect {
                case JString(x) => x }
              listBytes <- files.get(lp)
              list <- AvroGeneric.parseContainer(listBytes)
              mps = list.records.flatMap(
                _.field("manifest_path").flatMap(_.asString))
              entries <- {
                val es = mps.map { mp =>
                  files.get(mp).flatMap(AvroGeneric.parseContainer)
                    .map(_.records.flatMap { e =>
                      for {
                        st <- e.field("status").flatMap(_.asLong)
                        df <- e.field("data_file")
                        p <- df.field("file_path").flatMap(_.asString)
                        rc <- df.field("record_count")
                          .flatMap(_.asLong)
                      } yield (p, rc, st)
                    })
                }
                if (es.exists(_.isEmpty)) None
                else Some(es.flatMap(_.get))
              }
            } yield Snap(sid, seq, ts, lp, mps, entries)
          case _ => None
        }
        if (parsed.length == snapsJ.length) Some(parsed) else None
      }
    } yield {
      // ref retention (q367): a snapshot referenced by a LIVE ref is
      // protected from expiry; a tag/branch ages out of protection
      // when max-ref-age-ms is exceeded (measured from its target
      // snapshot's commit time, the reference implementation's rule)
      // and the aged-out ref is dropped from the successor metadata.
      val tsBySid = snaps.map(sn => sn.sid -> sn.ts).toMap
      val liveRefs = parseRefs(mo).filter { case (name, r) =>
        tsBySid.contains(r.snapshotId) &&
          (name == "main" || r.maxRefAgeMs.forall(a =>
            now - tsBySid(r.snapshotId) <= a))
      }
      val refProtected = liveRefs.map(_._2.snapshotId).toSet
      val (expired, retained) =
        snaps.partition(sn => sn.ts < cutoffMs && sn.sid != current &&
          !refProtected.contains(sn.sid))
      val retManifests = retained.flatMap(_.manifests).toSet
      val retLive = retained.flatMap(_.entries)
        .filter(_._3 != 2L).map(_._1).toSet
      val deleted = (expired.map(_.listPath) ++
        expired.flatMap(_.manifests).filterNot(retManifests) ++
        expired.flatMap(_.entries).map(_._1).distinct
          .filterNot(retLive)).distinct
      val rcByPath = expired.flatMap(_.entries)
        .groupBy(_._1).view.mapValues(_.head._2).toMap
      val deletedRows = deleted.filter(rcByPath.contains)
        .map(rcByPath).sum
      val keptRows = retained.flatMap(_.entries)
        .filter(_._3 != 2L).map(_._2).sum
      // successor metadata: vN+1, retained snapshots only
      val VN = "^v(\\d+)\\.metadata\\.json$".r
      val nextV = metaName match {
        case VN(n) => n.toInt + 1
        case _ => 2
      }
      val newMeta = metadataJsonRefs(uuid, current,
        retained.sortBy(_.sid).map(sn => snapshotJson(sn.sid, sn.seq,
          sn.ts, sn.listPath)), liveRefs)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ExpireResult(s"v$nextV.metadata.json", newMeta, deleted,
        expired.length, deletedRows, keptRows)
    }
  }

  // ---- rewrite_manifests write (q347) -------------------------------------

  /** A table with the MANIFEST-SPRAWL pathology every streaming
    * committer manufactures: one manifest per data file (three
    * here), all referenced by one list — at 100 TB, planning opens
    * thousands of tiny Avro files before reading a byte of data.
    * Real parquet through the own writer (val = (d*21) % 953).
    */
  def writeSprawlTable(id: String,
                       ids: Seq[Long]): Map[String, Array[Byte]] = {
    val sync = AvroWrite.syncMarker(id)
    val parts = (0 to 2).map(x => ids.filter(d => (d / 6) % 3 == x))
    def v(d: Long): Long = (d * 21) % 953
    val data = parts.map(p => ParquetWrite.writeInt64(
      Seq("rec_id", "val"), p.map(d => Array(d, v(d)))))
    val names = (0 to 2).map(x => s"data/f-$x.parquet")
    val manifests = (0 to 2).map { x =>
      avroFile(EntrySchema, Seq(entrySt(1, names(x),
        parts(x).length.toLong, data(x).length.toLong)), sync)
    }
    val list = avroFile(ListSchema, (0 to 2).map(x =>
      manifestFileRow(s"m-$x.avro", manifests(x).length.toLong, 1L,
        parts(x).length.toLong)), sync)
    val meta = metadataJson(id, 1L, Seq(
      snapshotJson(1L, 1L, 1700000000000L, "snap-1.avro")))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Map("v3.metadata.json" -> meta, "snap-1.avro" -> list,
      "m-0.avro" -> manifests(0), "m-1.avro" -> manifests(1),
      "m-2.avro" -> manifests(2),
      names(0) -> data(0), names(1) -> data(1), names(2) -> data(2))
  }

  final case class RewriteResult(newMetaName: String,
                                 newMeta: Array[Byte],
                                 newFiles: Map[String, Array[Byte]],
                                 manifestsBefore: Int,
                                 manifestsAfter: Int, liveRows: Long)

  /** rewrite_manifests as a WRITE operation: walk the current
    * snapshot's manifests with the engine's own readers, collect the
    * LIVE entries, and write ONE merged manifest (entries at status
    * EXISTING — carried forward, not re-added: the spec's discipline
    * for metadata-only snapshots), a new manifest list, and the
    * successor metadata whose new CURRENT snapshot references only
    * the merged manifest. The old snapshot stays in history —
    * expire_snapshots (q338's law) then reclaims the sprawl, and
    * because every data file is LIVE in the merged manifest, expiry
    * must delete metadata only, never data. None on any malformed
    * byte.
    */
  def rewriteManifests(files: Map[String, Array[Byte]],
                       metaName: String, newTs: Long)
      : Option[RewriteResult] = {
    import Json.{JArray, JLong, JObject, JString}
    for {
      metaBytes <- files.get(metaName)
      meta <- Json.parse(
        new String(metaBytes, java.nio.charset.StandardCharsets.UTF_8))
      mo <- meta match { case o: JObject => Some(o); case _ => None }
      current <- mo.get("current-snapshot-id").collect {
        case JLong(x) => x }
      uuid <- mo.get("table-uuid").collect { case JString(x) => x }
      snapsJ <- mo.get("snapshots").collect { case JArray(xs) => xs }
      cur <- snapsJ.collectFirst {
        case so: JObject
          if so.get("snapshot-id").contains(JLong(current)) => so
      }
      seq <- cur.get("sequence-number").collect { case JLong(x) => x }
      lp <- cur.get("manifest-list").collect { case JString(x) => x }
      listBytes <- files.get(lp)
      list <- AvroGeneric.parseContainer(listBytes)
      mps = list.records.flatMap(
        _.field("manifest_path").flatMap(_.asString))
      entries <- {
        val es = mps.map { mp =>
          files.get(mp).flatMap(AvroGeneric.parseContainer)
            .map(_.records.flatMap { e =>
              for {
                st <- e.field("status").flatMap(_.asLong)
                df <- e.field("data_file")
                p <- df.field("file_path").flatMap(_.asString)
                rc <- df.field("record_count").flatMap(_.asLong)
                fsz <- df.field("file_size_in_bytes")
                  .flatMap(_.asLong)
              } yield (p, rc, fsz, st)
            })
        }
        if (es.exists(_.isEmpty)) None else Some(es.flatMap(_.get))
      }
    } yield {
      val live = entries.filter(_._4 != 2L).sortBy(_._1)
      val sync = AvroWrite.syncMarker(uuid)
      val merged = avroFile(EntrySchema, live.map(e =>
        entrySt(0, e._1, e._2, e._3)), sync)
      val newList = avroFile(ListSchema, Seq(manifestFileRow(
        "m-merged.avro", merged.length.toLong, live.length.toLong,
        live.map(_._2).sum)), sync)
      val newSid = current + 1
      val kept = snapsJ.collect { case so: JObject =>
        for {
          sid <- so.get("snapshot-id").collect { case JLong(x) => x }
          sq <- so.get("sequence-number").collect {
            case JLong(x) => x }
          ts <- so.get("timestamp-ms").collect { case JLong(x) => x }
          l <- so.get("manifest-list").collect { case JString(x) => x }
        } yield snapshotJson(sid, sq, ts, l)
      }.flatten
      val VN = "^v(\\d+)\\.metadata\\.json$".r
      val nextV = metaName match {
        case VN(n) => n.toInt + 1
        case _ => 2
      }
      val newMeta = metadataJson(uuid, newSid, kept :+
        snapshotJson(newSid, seq + 1, newTs, s"snap-$newSid.avro"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      RewriteResult(s"v$nextV.metadata.json", newMeta,
        Map("m-merged.avro" -> merged,
          s"snap-$newSid.avro" -> newList),
        mps.length, 1, live.map(_._2).sum)
    }
  }
}
