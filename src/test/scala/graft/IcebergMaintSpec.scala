package graft

import graft.sources.{AvroWrite, IcebergWrite}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Iceberg maintenance WRITE path (q338): the two-snapshot
  * history writer, the expire_snapshots law (live-reference, not
  * any-reference, reachability), the successor-metadata byte form,
  * and the fixed-point / preservation laws. Apache Avro (the Java
  * reference) cross-reads the history's own manifests.
  */
class IcebergMaintSpec extends AnyFunSuite {

  private val ids = (0L until 90L).toSeq
  private val cutoff = 1700000000500L

  test("expire write: inventory exact, fixed point, live rows " +
    "preserved, metadata rewritten canonically") {
    val files = IcebergWrite.writeHistoryTable("t-1", ids)
    val res = IcebergWrite
      .expireSnapshots(files, "v3.metadata.json", cutoff)
      .getOrElse(fail("expire"))
    assert(res.nExpired == 1)
    assert(res.deleted.toSet == Set("snap-1.avro", "ma.avro",
      "data/f-0.parquet", "data/f-1.parquet", "data/f-2.parquet"))
    assert(res.listsDeleted == 1 && res.manifestsDeleted == 1 &&
      res.dataDeleted == 3)
    assert(res.deletedRows == ids.length.toLong &&
      res.keptRows == ids.length.toLong)
    assert(res.newMetaName == "v4.metadata.json")
    val mj = new String(res.newMeta, "UTF-8")
    assert(mj.startsWith("""{"current-snapshot-id": 2, """))
    assert(!mj.contains("snap-1.avro") && mj.contains("snap-2.avro"))
    // fixed point: expiring the pruned table deletes nothing
    val pruned = (files -- res.deleted) + (res.newMetaName -> res.newMeta)
    val post = IcebergWrite
      .expireSnapshots(pruned, res.newMetaName, cutoff)
      .getOrElse(fail("post"))
    assert(post.nExpired == 0 && post.deleted.isEmpty &&
      post.keptRows == ids.length.toLong)
    // the surviving compacted file carries every live row
    val P = graft.sources.Parquet
    val c = pruned("data/c-0.parquet")
    assert(P.columnLongs(c, "rec_id").exists(_.toSeq == ids))
    assert(P.columnLongs(c, "val").exists(
      _.toSeq == ids.map(d => (d * 19) % 977)))
  }

  test("expire write: current snapshot is never expired even past " +
    "the cutoff; malformed tables close as None") {
    val files = IcebergWrite.writeHistoryTable("t-2", ids)
    // a cutoff beyond BOTH snapshots still retains the current one
    val res = IcebergWrite
      .expireSnapshots(files, "v3.metadata.json", 1800000000000L)
      .getOrElse(fail("expire"))
    assert(res.nExpired == 1)
    assert(!res.deleted.contains("snap-2.avro") &&
      !res.deleted.contains("data/c-0.parquet"))
    // a table missing a referenced manifest list is malformed
    assert(IcebergWrite.expireSnapshots(files - "snap-1.avro",
      "v3.metadata.json", cutoff).isEmpty)
    // junk metadata is malformed
    assert(IcebergWrite.expireSnapshots(
      files + ("v3.metadata.json" -> "{nope".getBytes("UTF-8")),
      "v3.metadata.json", cutoff).isEmpty)
    assert(IcebergWrite.expireSnapshots(files, "missing.json",
      cutoff).isEmpty)
  }

  test("rewrite_manifests: sprawl collapses 3 -> 1 at status " +
    "EXISTING, expire then reclaims metadata only, fixed point") {
    val files = IcebergWrite.writeSprawlTable("t-4", ids)
    val rw = IcebergWrite
      .rewriteManifests(files, "v3.metadata.json", 1700000001000L)
      .getOrElse(fail("rewrite"))
    assert(rw.manifestsBefore == 3 && rw.manifestsAfter == 1 &&
      rw.liveRows == ids.length.toLong)
    assert(rw.newMetaName == "v4.metadata.json")
    // the merged manifest carries every file at status EXISTING (0)
    val merged = graft.sources.AvroGeneric
      .parseContainer(rw.newFiles("m-merged.avro"))
      .getOrElse(fail("merged"))
    assert(merged.records.length == 3)
    assert(merged.records.forall(
      _.field("status").flatMap(_.asLong).contains(0L)))
    val after = files ++ rw.newFiles + (rw.newMetaName -> rw.newMeta)
    // expiry reclaims ONLY metadata — all data is live in the merge
    val ex = IcebergWrite
      .expireSnapshots(after, rw.newMetaName, 1700000000500L)
      .getOrElse(fail("expire"))
    assert(ex.deleted.toSet ==
      Set("snap-1.avro", "m-0.avro", "m-1.avro", "m-2.avro"))
    assert(ex.dataDeleted == 0 && ex.keptRows == ids.length.toLong)
    // second rewrite over the pruned table is a fixed point
    val pruned = (after -- ex.deleted) + (ex.newMetaName -> ex.newMeta)
    val rw2 = IcebergWrite
      .rewriteManifests(pruned, ex.newMetaName, 1700000002000L)
      .getOrElse(fail("rewrite 2"))
    assert(rw2.manifestsBefore == 1 && rw2.liveRows == rw.liveRows)
    // malformed: a missing manifest closes as None
    assert(IcebergWrite.rewriteManifests(files - "m-1.avro",
      "v3.metadata.json", 1L).isEmpty)
  }

  test("Apache Avro cross-reads the history writer's manifests") {
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val files = IcebergWrite.writeHistoryTable("t-3", ids)
    val rdr = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(files("mb.avro")),
      new GenericDatumReader[GenericRecord]())
    val recs = Iterator.continually(rdr)
      .takeWhile(_.hasNext).map(_.next()).toVector
    rdr.close()
    assert(recs.length == 4)
    assert(recs.map(_.get("status").toString) ==
      Vector("2", "2", "2", "1"))
    val paths = recs.map(r => r.get("data_file")
      .asInstanceOf[GenericRecord].get("file_path").toString)
    assert(paths == Vector("data/f-0.parquet", "data/f-1.parquet",
      "data/f-2.parquet", "data/c-0.parquet"))
  }

  test("writeSpecEvoTable: both specs in one list, per-manifest " +
    "spec ids, own Avro walk prunes only inside spec 1 (q362)") {
    val W = graft.sources.IcebergWrite
    val A = graft.sources.AvroGeneric
    val ids = (0L until 120L).toSeq
    val files = W.writeSpecEvoTable("t-evo", ids)
    val list = A.parseContainer(files("snap-2.avro"))
      .getOrElse(fail("list"))
    val specIds = list.records.flatMap(
      _.field("partition_spec_id").flatMap(_.asLong))
    assert(specIds.sorted == Seq(0L, 1L))
    // spec-0 entries have NO p2; spec-1 entries each carry one
    val m0 = A.parseContainer(files("m-spec0.avro")).get
    assert(m0.records.forall(_.field("data_file")
      .flatMap(_.field("partition")).flatMap(_.field("p2")).isEmpty))
    val m1 = A.parseContainer(files("m-spec1.avro")).get
    assert(m1.records.flatMap(_.field("data_file")
      .flatMap(_.field("partition")).flatMap(_.field("p2"))
      .flatMap(_.asLong)).sorted == Seq(0L, 1L, 2L))
    // every data file decodes through the own reader
    val gen0 = ids.filter(d => (d / 6) % 4 != 1)
    val rs = graft.sources.Parquet
      .columnLongs(files("f-old-0.parquet"), "rec_id").get
    assert(rs.toSeq == gen0.filter(d => (d / 6) % 2 == 0))
  }

  test("snapshot refs + WAP (q367): staging leaves main untouched, " +
    "fast-forward publishes, tag time travel by name, expire " +
    "respects ref retention then drops the aged-out tag") {
    val W = IcebergWrite
    val oldIds = Seq(2L, 8L, 14L, 20L)
    val newIds = Seq(26L, 32L)
    def v(d: Long): Long = d * 10 + 1
    def rows(xs: Seq[Long]) = xs.map(d => (d, v(d)))
    val base = W.writeRefsTable("spec-wap", oldIds, v, "v1", 5000L)
    // stage on a branch: main must still scan the OLD rows
    val st = W.stageBranch(base, "v1.metadata.json", "audit",
      rows(newIds), 1700000001000L).getOrElse(fail("stage"))
    val staged = base ++ st.newFiles
    assert(W.scanRef(staged, st.newMetaName, "main").get
      .sortBy(_._1) == rows(oldIds))
    assert(W.scanRef(staged, st.newMetaName, "audit").get
      .sortBy(_._1) == rows(oldIds ++ newIds))
    // the staged data file exists but is unreachable from main
    assert(staged.contains(s"data/b-${st.stagedSid}.parquet"))
    // publish: pure metadata, main == branch
    val (ffName, ffMeta) =
      W.fastForward(staged, st.newMetaName, "audit")
        .getOrElse(fail("publish"))
    val published = staged + (ffName -> ffMeta)
    assert(W.scanRef(published, ffName, "main").get.sortBy(_._1) ==
      rows(oldIds ++ newIds))
    // tag time travel by name still sees the pre-append table
    assert(W.scanRef(published, ffName, "v1").get.sortBy(_._1) ==
      rows(oldIds))
    // unknown branch fails closed
    assert(W.fastForward(staged, st.newMetaName, "nope").isEmpty)
    // expire with the tag LIVE: snapshot 1 is protected
    val ex1 = W.expireSnapshots(published, ffName, 1700000000500L,
      1700000002000L).getOrElse(fail("ex1"))
    assert(ex1.nExpired == 0 && ex1.deleted.isEmpty)
    // expire after the tag ages out (max-ref-age-ms = 5000):
    // snapshot 1 expires, but ONLY its list dies — the manifest and
    // data file are live in the published snapshot
    val pruned1 = (published -- ex1.deleted) +
      (ex1.newMetaName -> ex1.newMeta)
    val ex2 = W.expireSnapshots(pruned1, ex1.newMetaName,
      1700000000500L, 1700000010000L).getOrElse(fail("ex2"))
    assert(ex2.nExpired == 1 && ex2.deleted == Seq("snap-1.avro"))
    assert(ex2.dataDeleted == 0 && ex2.manifestsDeleted == 0)
    val pruned2 = (pruned1 -- ex2.deleted) +
      (ex2.newMetaName -> ex2.newMeta)
    assert(W.scanRef(pruned2, ex2.newMetaName, "v1").isEmpty,
      "aged-out tag must be dropped from the successor metadata")
    assert(W.scanRef(pruned2, ex2.newMetaName, "main").get
      .sortBy(_._1) == rows(oldIds ++ newIds))
  }

  test("incremental scan (q369): (from, to] semantics, replace " +
    "contributes zero, carried-forward manifests never re-read, " +
    "unknown snapshot ids fail closed") {
    val W = IcebergWrite
    val ids = (0L until 96L).map(_ * 6 + 5) // gen4 spread
    def v(d: Long): Long = d + 7
    val files = W.writeIncrTable("spec-incr", ids, v)
    def gen(d: Long) = (d / 6) % 4
    val meta = "v1.metadata.json"
    // full range: B (gen1) + D (gen >= 2), never A, never C
    val inc = W.incrementalScan(files, meta, 1L, 4L).get
    assert(inc.rows.sorted ==
      ids.filter(gen(_) != 0).sorted.map(d => (d, v(d))))
    assert(inc.appendsConsumed == 2 && inc.replacesSkipped == 1)
    // the replace-only window is empty
    val inc23 = W.incrementalScan(files, meta, 2L, 3L).get
    assert(inc23.rows.isEmpty && inc23.replacesSkipped == 1)
    // from == to is an empty range, not an error
    assert(W.incrementalScan(files, meta, 2L, 2L).get.rows.isEmpty)
    // unknown ids fail closed
    assert(W.incrementalScan(files, meta, 1L, 9L).isEmpty)
    assert(W.incrementalScan(files, meta, 9L, 4L).isEmpty)
    // fold law at every boundary
    (1L to 3L).foreach { i =>
      val a = W.scanSnapshot(files, meta, i).get
      val step = W.incrementalScan(files, meta, i, i + 1).get.rows
      val b = W.scanSnapshot(files, meta, i + 1).get
      assert((a ++ step).sorted == b.sorted, s"fold at $i")
    }
  }

  test("changelog scan (q375): inserts + position-delete rows with " +
    "values, delete-only window, apply law at every boundary, " +
    "fail closed on unknown ids") {
    val W = IcebergWrite
    val ids = (0L until 120L).map(_ * 6 + 4)
    def v(d: Long): Long = d * 3 + 1
    def gen(d: Long) = (d / 6) % 4
    val files = W.writeChangelogTable("spec-cdc", ids, v)
    val meta = "v1.metadata.json"
    val all = W.changelogScan(files, meta, 1L, 4L).get
    val ins = all.filter(_.changeType == "INSERT")
    val del = all.filter(_.changeType == "DELETE")
    assert(ins.map(c => (c.recId, c.value)).sorted ==
      ids.filter(gen(_) != 0).sorted.map(d => (d, v(d))))
    assert(del.map(c => (c.recId, c.value)).sorted ==
      ids.filter(d => gen(d) == 0 && d % 5 == 0).sorted
        .map(d => (d, v(d))),
      "DELETE changes must carry the killed rows' VALUES")
    assert(del.forall(_.sid == 3L))
    // delete-only window
    val win = W.changelogScan(files, meta, 2L, 3L).get
    assert(win.nonEmpty && win.forall(_.changeType == "DELETE"))
    // MoR scan respects the position deletes
    val s4 = W.scanSnapshotMor(files, meta, 4L).get
    assert(s4.sorted == ids.filter(d => gen(d) != 0 || d % 5 != 0)
      .sorted.map(d => (d, v(d))))
    // apply law at every boundary
    def applyTo(base: Seq[(Long, Long)], cs: Seq[W.Change]) = {
      val m = scala.collection.mutable.Map.empty[(Long, Long), Int]
        .withDefaultValue(0)
      base.foreach(r => m(r) += 1)
      cs.foreach(c =>
        m((c.recId, c.value)) += (if (c.changeType == "INSERT") 1
        else -1))
      m.toSeq.flatMap { case (r, n) => Seq.fill(n)(r) }.sorted
    }
    (1L to 3L).foreach { i =>
      val a = W.scanSnapshotMor(files, meta, i).get
      val step = W.changelogScan(files, meta, i, i + 1).get
      val b = W.scanSnapshotMor(files, meta, i + 1).get
      assert(applyTo(a, step) == b.sorted, s"apply law at $i")
    }
    assert(W.changelogScan(files, meta, 1L, 9L).isEmpty)
    assert(W.changelogScan(files, meta, 9L, 4L).isEmpty)
  }

  test("v3 deletion vectors (q387): the SAME deletions as a puffin " +
    "DV blob scan and changelog IDENTICALLY to the v2 position-" +
    "delete parquet; a cardinality mismatch fails closed") {
    val W = IcebergWrite
    val ids = (0L until 96L).map(_ * 6 + 1)
    def v(d: Long): Long = d * 5 + 2
    val meta = "v1.metadata.json"
    val pdT = W.writeChangelogTable("spec-pd", ids, v)
    val dvT = W.writeDvChangelogTable("spec-dv", ids, v)
    assert(dvT.contains("dv-3.puffin") && !dvT.contains("pd-3.parquet"))
    (1L to 4L).foreach { sid =>
      assert(W.scanSnapshotMor(pdT, meta, sid).get.sorted ==
        W.scanSnapshotMor(dvT, meta, sid).get.sorted, s"scan at $sid")
    }
    def key(c: W.Change) = (c.changeType, c.sid, c.recId, c.value)
    assert(W.changelogScan(pdT, meta, 1L, 4L).get.map(key).sorted ==
      W.changelogScan(dvT, meta, 1L, 4L).get.map(key).sorted)
    // the blob round-trips through the engine's own puffin reader
    val (blobs, _) = graft.sources.Puffin.read(dvT("dv-3.puffin")).get
    val (bm, data) = blobs.head
    assert(bm.tpe == "deletion-vector-v1" &&
      bm.properties("referenced-data-file") == "data/a.parquet")
    val bits = graft.sources.DeletionVectors.bitmap(data).get
    assert(bits.length.toLong == bm.properties("cardinality").toLong)
    // cardinality mismatch fails the whole scan closed
    val badPuffin = graft.sources.Puffin.write(Seq(
      graft.sources.Puffin.Blob(bm.tpe, bm.fields, bm.snapshotId,
        bm.sequenceNumber, data, bm.properties +
          ("cardinality" -> (bits.length + 1).toString))),
      Map("created-by" -> "graft"))
    // keep manifest framing consistent with the new byte length
    val tampered = dvT + ("dv-3.puffin" -> badPuffin)
    assert(W.scanSnapshotMor(tampered, meta, 4L).isEmpty,
      "cardinality mismatch must close the scan")
  }

  test("v3 row lineage (q392): inheritance assigns first_row_id + " +
    "position, compaction materializes and preserves ids, fresh " +
    "blocks never reuse, DVs kill by position leaving survivors' " +
    "ids untouched, unassignable or duplicate ids fail closed") {
    val W = IcebergWrite
    def vf(d: Long): Long = (d * 29) % 997
    val files = W.writeLineageTable("lin-spec", ids, vf)
    val meta = "v1.metadata.json"
    def gen(d: Long) = (d / 6) % 4
    val a = ids.filter(gen(_) == 0).sorted
    val b = ids.filter(gen(_) == 1).sorted
    val na = a.length.toLong
    val s1 = W.lineageScan(files, meta, 1L).getOrElse(fail("s1"))
    assert(s1 == a.zipWithIndex.map { case (d, i) =>
      (i.toLong, d, vf(d)) }, "row_id = first_row_id + position")
    val s2 = W.lineageScan(files, meta, 2L).getOrElse(fail("s2"))
    assert(s2.length == a.length + b.length)
    b.zipWithIndex.foreach { case (d, i) =>
      assert(s2.contains((na + i, d, vf(d))),
        "second append inherits the ADVANCED block")
    }
    // compaction: same (row_id, rec, val) triples via materialized
    // _row_id — ids stable across the rewrite
    val s3 = W.lineageScan(files, meta, 3L).getOrElse(fail("s3"))
    assert(s3.toSet == s2.toSet, "ids stable across compaction")
    // fresh ids for D: all >= 2(na+nb), never reusing the replaced
    val s4 = W.lineageScan(files, meta, 4L).getOrElse(fail("s4"))
    val newRids = s4.map(_._1).toSet -- s3.map(_._1).toSet
    assert(newRids.nonEmpty &&
      newRids.forall(_ >= 2L * (na + b.length)))
    assert(W.nextRowId(files, meta)
      .contains(s4.map(_._1).max + 1L))
    // DV: dead by position; survivors byte-identical triples
    val s5 = W.lineageScan(files, meta, 5L).getOrElse(fail("s5"))
    val expectDead = s3.filter(_._2 % 5 == 0).map(_._1).toSet
    assert(s4.map(_._1).toSet -- s5.map(_._1).toSet == expectDead)
    assert(s5.toSet ==
      s4.filterNot(r => expectDead(r._1)).toSet)
    // fail closed: manifest block AND entry id both null
    val badL1 = AvroWrite.container(W.ListSchemaLin, Seq(
      W.manifestFileRowLin("m-a.avro",
        files("m-a.avro").length.toLong, 0, 1L, na, None)),
      syncSeed = "lin-spec")
    assert(W.lineageScan(files + ("snap-1.avro" -> badL1), meta,
      1L).isEmpty, "unassignable ids must close")
    // duplicate ids (overlapping blocks) must close
    val badL4 = AvroWrite.container(W.ListSchemaLin, Seq(
      W.manifestFileRowLin("m-c.avro",
        files("m-c.avro").length.toLong, 0, 3L,
        na + b.length, Some(na + b.length)),
      W.manifestFileRowLin("m-d.avro",
        files("m-d.avro").length.toLong, 0, 4L,
        newRids.size.toLong, Some(0L))), syncSeed = "lin-spec")
    assert(W.lineageScan(files + ("snap-4.avro" -> badL4), meta,
      4L).isEmpty, "duplicated row ids must close")
  }

  test("partition statistics files (q394): stats file == manifest " +
    "walk at both snapshots, incremental merge == rebuild, prune " +
    "keeps exactly the proven rows with conservative nulls, size " +
    "mismatch fails closed") {
    val W = IcebergWrite
    // consecutive ids: all three p2 = d%3 buckets are NON-empty
    val files = W.writeSpecEvoTableV3("ps-spec", ids)
    val w2 = W.writePartitionStats(files, "v2.metadata.json")
      .getOrElse(fail("w2"))
    val t2 = files + (w2._1 -> w2._2) +
      ("v2.metadata.json" -> w2._3)
    val read2 = W.readPartitionStats(t2, "v2.metadata.json")
      .getOrElse(fail("read2"))
    assert(read2 ==
      W.computePartitionStats(files, "v2.metadata.json", 2L).get)
    val w3 = W.writePartitionStats(files, "v3.metadata.json")
      .getOrElse(fail("w3"))
    val t3 = files + (w3._1 -> w3._2) +
      ("v3.metadata.json" -> w3._3)
    val read3 = W.readPartitionStats(t3, "v3.metadata.json")
      .getOrElse(fail("read3"))
    val walk3 =
      W.computePartitionStats(files, "v3.metadata.json", 3L).get
    assert(read3 == walk3)
    assert(read3.length == 4, "null partition + three p2 buckets")
    // routed through each manifest's OWN spec id
    assert(read3.filter(_.p2.isEmpty).forall(_.specId == 0))
    assert(read3.filter(_.p2.isDefined).forall(_.specId == 1))
    // incremental: old stats + the appended manifest == rebuild
    val add = W.manifestPartitionStats(files, "m-spec1-add.avro", 1)
      .getOrElse(fail("add"))
    assert(W.mergePartitionStats(read2, add) == walk3)
    // counts: gen0 (g != 1) unpartitioned; p2 buckets carry gen1 +
    // gen3 rows of that residue
    def gen(d: Long) = (d / 6) % 4
    assert(read3.find(_.p2.isEmpty).get.records ==
      ids.count(gen(_) != 1).toLong)
    (0 to 2).foreach { b =>
      assert(read3.find(_.p2.contains(b)).get.records ==
        ids.count(d => (gen(d) == 1 || gen(d) == 3) &&
          d % 3 == b).toLong)
    }
    // prune p2=1: stats-kept == parquet-proven rows of kept files
    val kept = Seq("f-old-0.parquet", "f-old-1.parquet",
      "f-new-1.parquet", "f-add-1.parquet")
      .map(p => graft.sources.Parquet
        .columnLongs(files(p), "rec_id").get.length.toLong).sum
    assert(read3.filter(p => p.p2.isEmpty || p.p2.contains(1))
      .map(_.records).sum == kept)
    // fail closed: truncated stats file / missing file
    assert(W.readPartitionStats(t3 + (w3._1 -> w3._2.dropRight(1)),
      "v3.metadata.json").isEmpty, "size mismatch must close")
    assert(W.readPartitionStats(t3 - w3._1,
      "v3.metadata.json").isEmpty)
  }

  test("reverse migration (q396): Iceberg -> Delta metadata-only, " +
    "round-trip byte-identity, native-source scan equality, " +
    "vacuumed / size-tampered / delete-carrying sources refused") {
    val W = IcebergWrite
    val D = graft.sources.DeltaWrite
    val delta0 = D.writeTable("rt0", ids)
    val dataFiles = delta0.filterNot(_._1.startsWith("_delta_log/"))
    val ice1 = W.migrateFromDelta(delta0, "ice").getOrElse(fail("f"))
    val iceT1 = dataFiles ++ ice1
    val d2 = W.migrateToDelta(iceT1, "v1.metadata.json", "rt2")
      .getOrElse(fail("reverse"))
    // live state round-trips exactly
    val live0 = D.replayLiveSized(delta0, 1L).get
    val live2 = D.replayLiveSized(dataFiles ++ d2, 0L).get
    assert(live2 == live0)
    // migrate∘migrate is byte-identical under the same id
    val ice3 = W.migrateFromDelta(dataFiles ++ d2, "ice").get
    assert(ice1.keySet == ice3.keySet && ice1.forall { case (k, v) =>
      java.util.Arrays.equals(v, ice3(k)) })
    // native Iceberg source: only the compacted file is live
    val hist = W.writeHistoryTable("h", ids)
    val dh = W.migrateToDelta(hist, "v3.metadata.json", "rth")
      .getOrElse(fail("hist"))
    val dhLive = D.replayLiveSized(
      hist.filter(_._1.endsWith(".parquet")) ++ dh, 0L).get
    assert(dhLive.keySet == Set("data/c-0.parquet"))
    // refusals: vacuumed bytes, tampered size, delete-content source
    val firstLive = live0.keys.toSeq.sorted.head
    assert(W.migrateToDelta(iceT1 - firstLive, "v1.metadata.json",
      "x").isEmpty, "a vacuumed live file must refuse")
    assert(W.migrateToDelta(iceT1 + (firstLive ->
      iceT1(firstLive).dropRight(1)), "v1.metadata.json",
      "x").isEmpty, "a size mismatch must refuse")
    val dvSrc = W.writeChangelogTable("dv", ids, d => (d * 17) % 983)
    assert(W.migrateToDelta(dvSrc, "v1.metadata.json", "x").isEmpty,
      "delete-content entries must be refused, never dropped")
  }

  test("default values (q399): pre-evolution rows surface " +
    "initial-default, the omitting writer materialized " +
    "write-default into the bytes, optional defaultless reads " +
    "null, a stripped default fails the required column closed") {
    val W = IcebergWrite
    def vf(d: Long): Long = (d * 23) % 1013
    val files = W.writeDefaultsTable("dflt", ids, vf)
    val rows = W.scanWithDefaults(files, "v1.metadata.json", 3L)
      .getOrElse(fail("scan"))
    def gen(d: Long) = (d / 6) % 3
    assert(rows == ids.sorted.map { d =>
      val score = gen(d) match {
        case 0 => 7L
        case 1 => (d * 3) % 50
        case _ => 9L
      }
      (d, vf(d), score, Option.empty[Long])
    })
    // the write-default is physically in file C
    assert(graft.sources.Parquet.columnLongs(
      files("data/c.parquet"), "score").exists(_.forall(_ == 9L)))
    // file A really has no score column on disk
    assert(graft.sources.Parquet.columnLongs(
      files("data/a.parquet"), "score").isEmpty)
    val fields = W.parseSchema(files, "v1.metadata.json").get
    assert(fields.find(_.name == "score").exists(f =>
      f.required && f.initialDefault.contains(7L) &&
        f.writeDefault.contains(9L)))
    // strip the initial-default: the required column becomes
    // unservable for the pre-evolution file -> CLOSED
    val stripped = new String(files("v1.metadata.json"), "UTF-8")
      .replace("\"initial-default\": 7, ", "").getBytes("UTF-8")
    assert(W.scanWithDefaults(
      files + ("v1.metadata.json" -> stripped),
      "v1.metadata.json", 3L).isEmpty)
  }

  test("bucket transform (q402): the spec's own murmur3 vectors, " +
    "guava as an independent referee, int-as-long hashing, and the " +
    "bucket-pruned lookup equal to the exact answer") {
    val W = IcebergWrite
    // Iceberg spec Appendix B test vectors
    assert(W.murmur3("iceberg".getBytes("UTF-8")) == 1210000089)
    def le8(v: Long): Array[Byte] =
      Array.tabulate[Byte](8)(k => ((v >>> (8 * k)) & 0xff).toByte)
    assert(W.murmur3(le8(34L)) == 2017239379,
      "hashLong(34) must match the spec's vector")
    assert(W.murmur3(Array[Byte](0, 1, 2, 3)) == -188683207,
      "hashBytes(00010203) must match the spec's vector")
    // guava referee (Iceberg's impl agrees with murmur3_32 on the
    // same byte streams)
    val g = com.google.common.hash.Hashing.murmur3_32_fixed()
    for (v <- Seq(0L, 34L, -1L, 7919L, Long.MaxValue, Long.MinValue))
      assert(W.murmur3(le8(v)) == g.hashBytes(le8(v)).asInt(), s"$v")
    for (s <- Seq("iceberg", "", "graft", "ü"))
      assert(W.murmur3(s.getBytes("UTF-8")) ==
        g.hashBytes(s.getBytes("UTF-8")).asInt(), s)
    // bucket routing + the pruned lookup
    def vf(d: Long): Long = (d * 37) % 1021
    val files = W.writeBucketTable("bk", ids, vf, 4)
    assert(W.parseBucketSpec(files, "v1.metadata.json")
      .contains(4))
    ids.foreach { d =>
      val (p, rows) = W.bucketLookup(files, "v1.metadata.json", d)
        .getOrElse(fail(s"lookup $d"))
      assert(p == s"data/b-${W.bucketLong(d, 4)}.parquet")
      assert(rows == Seq((d, vf(d))))
    }
    // absent keys: the pruned file simply has no matching row
    (1000L to 1010L).foreach { d =>
      assert(W.bucketLookup(files, "v1.metadata.json", d)
        .exists(_._2.isEmpty))
    }
    // a spec the pruner cannot prove is refused, never guessed
    val alien = new String(files("v1.metadata.json"), "UTF-8")
      .replace("bucket[4]", "truncate[4]").getBytes("UTF-8")
    assert(W.bucketLookup(
      files + ("v1.metadata.json" -> alien),
      "v1.metadata.json", ids.head).isEmpty)
  }

  test("truncate transform (q405): floored-mod vectors, sound " +
    "range pruning equal to the brute filter, point ranges touch " +
    "one file, unknown transforms refused") {
    val W = IcebergWrite
    // the spec's floored-mod semantics
    assert(W.truncateLong(1L, 10) == 0L)
    assert(W.truncateLong(-1L, 10) == -10L)
    assert(W.truncateLong(1234L, 16) == 1232L)
    assert(W.truncateLong(0L, 10) == 0L)
    assert(W.truncateLong(-10L, 10) == -10L)
    def vf(d: Long): Long = (d * 41) % 1031
    val files = W.writeTruncTable("tr", ids, vf, 16)
    assert(W.parseTruncSpec(files, "v1.metadata.json").contains(16))
    // range scan == brute filter, with real pruning
    val (kept, rows) = W.truncRangeScan(files, "v1.metadata.json",
      20L, 50L).getOrElse(fail("range"))
    assert(rows == ids.filter(d => d >= 20 && d <= 50).sorted
      .map(d => (d, vf(d))))
    assert(kept == Seq(16L, 32L, 48L).count(b =>
      ids.exists(d => W.truncateLong(d, 16) == b)))
    // a point range touches at most one file
    val (k1, r1) = W.truncRangeScan(files, "v1.metadata.json",
      37L, 37L).get
    assert(k1 <= 1 && r1 == Seq((37L, vf(37L))))
    // unknown transform refused
    val alien2 = new String(files("v1.metadata.json"), "UTF-8")
      .replace("truncate[16]", "void").getBytes("UTF-8")
    assert(W.truncRangeScan(files +
      ("v1.metadata.json" -> alien2), "v1.metadata.json",
      0L, 9L).isEmpty)
  }

  test("temporal transforms (q410): spec ordinal vectors incl. " +
    "pre-1970 flooring, order preservation, pruned scan equals the " +
    "brute filter on every transform, point day one file, unknown " +
    "transforms refused on write and read") {
    val W = IcebergWrite
    // the published quadruple: 2017-12-01T10:12:55.038194
    val t2017 = (17501L * 86400L + 10L * 3600L + 12L * 60L + 55L) *
      1000000L + 38194L
    assert(W.yearTransform(t2017) == 47)
    assert(W.monthTransform(t2017) == 575)
    assert(W.dayTransform(t2017) == 17501)
    assert(W.hourTransform(t2017) == 420034)
    // the epoch itself
    assert(W.yearTransform(0L) == 0 && W.monthTransform(0L) == 0 &&
      W.dayTransform(0L) == 0 && W.hourTransform(0L) == 0)
    // negative dates FLOOR: 1969-12-31T23:59:59.999999 is -1 in all
    // four; 1969-01-01 is year -1, month -12, day -365
    assert(W.yearTransform(-1L) == -1 && W.monthTransform(-1L) == -1)
    assert(W.dayTransform(-1L) == -1 && W.hourTransform(-1L) == -1)
    val t1969 = -365L * 86400000000L
    assert(W.yearTransform(t1969) == -1)
    assert(W.monthTransform(t1969) == -12)
    assert(W.dayTransform(t1969) == -365)
    // order preservation on a micros sweep across the epoch
    val sweep = (-40L to 40L).map(_ * 7200000000L)
    Seq[Long => Int](W.yearTransform, W.monthTransform,
      W.dayTransform, W.hourTransform).foreach { tr =>
      assert(sweep.map(tr) == sweep.map(tr).sorted)
    }
    // calendar cross-check against java.time over a wide sweep
    (-1000L to 1000L by 7L).foreach { day =>
      val micros = day * 86400000000L + 3600000000L
      val ld = java.time.LocalDate.ofEpochDay(day)
      assert(W.yearTransform(micros) == ld.getYear - 1970)
      assert(W.monthTransform(micros) ==
        (ld.getYear - 1970) * 12 + ld.getMonthValue - 1)
    }
    // a table per transform: pruned scan == brute filter
    def tsOf(d: Long): Long = (d - 45L) * 21600000000L
    val rows = ids.map(d => (d, tsOf(d), (d * 41) % 1031))
    val lo = tsOf(3L); val hi = tsOf(71L)
    Seq("year", "month", "day", "hour").foreach { tr =>
      val files = W.writeTemporalTable(s"tt-$tr", rows, tr)
        .getOrElse(fail(s"write $tr"))
      assert(W.parseTemporalSpec(files, "v1.metadata.json")
        .contains(tr))
      val (kept, got) = W.temporalRangeScan(files,
        "v1.metadata.json", lo, hi).getOrElse(fail(s"scan $tr"))
      val brute = rows.filter(r => r._2 >= lo && r._2 <= hi)
        .sortBy(r => (r._2, r._1))
      assert(got == brute, s"$tr pruned scan == brute")
      val occupied = rows.map(r =>
        W.temporalTransform(tr, r._2).get).distinct
      assert(kept == occupied.count(o =>
        o >= W.temporalTransform(tr, lo).get &&
          o <= W.temporalTransform(tr, hi).get))
    }
    // point day touches exactly one file, pre-1970 included
    val dayF = W.writeTemporalTable("tt-pt", rows, "day").get
    val dnegStart = W.dayTransform(tsOf(1L)).toLong * 86400000000L
    assert(W.dayTransform(tsOf(1L)) < 0, "pre-1970 day exercised")
    val (k1, r1) = W.temporalRangeScan(dayF, "v1.metadata.json",
      dnegStart, dnegStart + 86399999999L).get
    assert(k1 == 1 && r1 == rows.filter(r =>
      W.dayTransform(r._2) == W.dayTransform(tsOf(1L)))
      .sortBy(r => (r._2, r._1)))
    // unknown transforms refused both directions
    assert(W.writeTemporalTable("tt-x", rows, "weekday").isEmpty)
    val alien = new String(dayF("v1.metadata.json"), "UTF-8")
      .replace("\"transform\": \"day\"",
        "\"transform\": \"weekday\"").getBytes("UTF-8")
    assert(W.temporalRangeScan(dayF +
      ("v1.metadata.json" -> alien), "v1.metadata.json",
      lo, hi).isEmpty)
  }

  test("Hudi migration (q415): clean COW migrates metadata-only " +
    "with proven record counts, unmerged MOR refuses until " +
    "compaction, re-migration byte-identical, tampered timelines " +
    "and vacuumed bases refuse") {
    val W = IcebergWrite
    val H = graft.sources.HudiWrite
    val cow = H.writeTable(ids)
    val ice = W.migrateFromHudi(cow, "ice").getOrElse(fail("cow"))
    // metadata-only: exactly the three Iceberg metadata objects
    assert(ice.keySet == Set("v1.metadata.json", "snap-1.avro",
      "m-migrated.avro"))
    // scan of the frozen snapshot == the Hudi merged replay
    val scan = W.scanSnapshot(cow ++ ice, "v1.metadata.json", 1L)
      .getOrElse(fail("scan"))
    val replayed = H.replay(cow).get.flatMap(_.rows)
    assert(scan.sorted == replayed.sorted)
    // the manifest's counts are PROVEN by the own parquet reader:
    // Apache Avro (the Java reference) re-reads them
    val entries = {
      val r = new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]()
      val st = new org.apache.avro.file.DataFileStream(
        new java.io.ByteArrayInputStream(ice("m-migrated.avro")), r)
      val out = Seq.newBuilder[(String, Long)]
      while (st.hasNext) {
        val rec = st.next()
        val df = rec.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
        out += ((df.get("file_path").toString,
          df.get("record_count").asInstanceOf[Long]))
      }
      out.result()
    }
    assert(entries.map(_._2).sum == replayed.length.toLong)
    entries.foreach { case (p, rc) =>
      assert(graft.sources.Parquet.columnLongs(cow(p), "rec_id")
        .get.length.toLong == rc, p)
    }
    // unmerged MOR refuses; compacted MOR migrates; byte-identity
    val mor = H.writeMorTable(ids)
    assert(W.migrateFromHudi(mor, "x").isEmpty,
      "unmerged logs must refuse")
    val t5 = "00000000000005"
    val compacted = mor ++ H.compact(mor, t5).get
    val i1 = W.migrateFromHudi(compacted, "m").getOrElse(fail("m1"))
    val i2 = W.migrateFromHudi(compacted, "m").get
    assert(i1.keySet == i2.keySet && i1.forall { case (k, v) =>
      java.util.Arrays.equals(v, i2(k)) })
    assert(W.scanSnapshot(compacted ++ i1, "v1.metadata.json", 1L)
      .get.sorted == H.replay(compacted).get.flatMap(_.rows).sorted)
    // tampers: vacuumed latest base (stale fallback), truncated
    // timeline, garbage replacecommit, damaged base bytes
    assert(W.migrateFromHudi(
      compacted - s"p/fg0_0-0-0_$t5.parquet", "x").isEmpty)
    assert(W.migrateFromHudi(
      compacted - s".hoodie/$t5.commit", "x").isEmpty)
    assert(W.migrateFromHudi(compacted +
      (".hoodie/00000000000009.replacecommit" ->
        "{bad".getBytes("UTF-8")), "x").isEmpty)
    val bp = s"p/fg1_0-0-0_$t5.parquet"
    assert(W.migrateFromHudi(compacted +
      (bp -> compacted(bp).dropRight(1)), "x").isEmpty)
    // an empty bundle refuses
    assert(W.migrateFromHudi(Map.empty, "x").isEmpty)
  }
}
