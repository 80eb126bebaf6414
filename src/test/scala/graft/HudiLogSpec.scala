package graft

import graft.sources.{AvroGeneric, Bytes, HudiLog}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Hudi log-file block framing (hudi.apache.org/tech-specs
  * "Log File Format") on both sides: the write helpers emit the exact
  * layout [[HudiLog.parse]] reads, avro data records decode bare
  * through [[AvroGeneric.parseDatum]], and every damage shape closes.
  */
class HudiLogSpec extends AnyFunSuite {

  private val SchemaJson =
    """{"type":"record","name":"rec","fields":[{"name":"rec_id","type":"long"},{"name":"val","type":"long"}]}"""

  private def rec(id: Long, v: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    Bytes.putZigzag(out, id); Bytes.putZigzag(out, v)
    out.toByteArray
  }

  test("write -> parse round trip: data + delete blocks, exact " +
    "records, instants, and counts") {
    val data = HudiLog.writeBlock(HudiLog.TypeAvroData,
      Seq(HudiLog.HdrInstantTime -> "00000000000002",
        HudiLog.HdrSchema -> SchemaJson),
      HudiLog.dataContent(Seq(rec(7L, 91L), rec(-3L, 0L),
        rec(Long.MaxValue, Long.MinValue))))
    val del = HudiLog.writeBlock(HudiLog.TypeDelete,
      Seq(HudiLog.HdrInstantTime -> "00000000000003"),
      HudiLog.deleteContent(Seq("7", "12345")))
    val blocks = HudiLog.parse(data ++ del)
      .getOrElse(fail("must parse"))
    assert(blocks.length == 2)
    val b0 = blocks(0)
    assert(b0.blockType == HudiLog.TypeAvroData &&
      b0.instant == "00000000000002" && b0.records.length == 3)
    def kv(r: AvroGeneric.V): (Long, Long) =
      (r.field("rec_id").flatMap(_.asLong).get,
        r.field("val").flatMap(_.asLong).get)
    assert(b0.records.map(kv) == Vector((7L, 91L), (-3L, 0L),
      (Long.MaxValue, Long.MinValue)))
    val b1 = blocks(1)
    assert(b1.blockType == HudiLog.TypeDelete &&
      b1.instant == "00000000000003" &&
      b1.deleteKeys == Vector("7", "12345"))
  }

  test("totality: flips, truncations, framing lies, and junk all " +
    "close — never a throw, never partial rows") {
    val file = HudiLog.writeBlock(HudiLog.TypeAvroData,
      Seq(HudiLog.HdrInstantTime -> "00000000000002",
        HudiLog.HdrSchema -> SchemaJson),
      HudiLog.dataContent(Seq(rec(1L, 2L), rec(3L, 4L)))) ++
      HudiLog.writeBlock(HudiLog.TypeDelete,
        Seq(HudiLog.HdrInstantTime -> "00000000000003"),
        HudiLog.deleteContent(Seq("1")))
    assert(HudiLog.parse(file).exists(_.length == 2))
    // every-byte flip: None or a well-formed Vector
    for (i <- file.indices) {
      val bad = file.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      HudiLog.parse(bad)
    }
    // truncation sweep: a cut file never parses to 2 full blocks
    for (cut <- 0 until file.length)
      assert(!HudiLog.parse(java.util.Arrays.copyOf(file, cut))
        .exists(_.length == 2), s"cut $cut")
    // every prefix of a committed log (hudi_files holds no log file;
    // the MOR fixture does): a cut yields None or whole leading blocks
    val (logPath, log) = CutSweep.fixtureFiles(
      "fixtures/hudi_mor_files.parquet")
      .filter(_._1.contains(".log.")).maxBy(_._2.length)
    val full = HudiLog.parse(log).getOrElse(fail(s"$logPath must parse"))
    for (cut <- CutSweep.cuts(log.length))
      HudiLog.parse(java.util.Arrays.copyOf(log, cut)).foreach { bs =>
        assert(bs.length < full.length && bs == full.take(bs.length),
          s"cut $cut")
      }
    // trailing garbage after a valid block fails the whole file
    assert(HudiLog.parse(file ++ Array[Byte](1, 2, 3)).isEmpty)
    // bad magic
    val badMagic = file.clone(); badMagic(0) = '!'.toByte
    assert(HudiLog.parse(badMagic).isEmpty)
    // a block whose header lacks INSTANT_TIME is malformed
    assert(HudiLog.parse(HudiLog.writeBlock(HudiLog.TypeDelete,
      Seq.empty, HudiLog.deleteContent(Seq("1")))).isEmpty)
    // a data block with an unparseable schema is malformed
    assert(HudiLog.parse(HudiLog.writeBlock(HudiLog.TypeAvroData,
      Seq(HudiLog.HdrInstantTime -> "1", HudiLog.HdrSchema -> "{nope"),
      HudiLog.dataContent(Seq(rec(1L, 2L))))).isEmpty)
    // a record with leftover bytes (length lie) desyncs and closes
    val lied = HudiLog.writeBlock(HudiLog.TypeAvroData,
      Seq(HudiLog.HdrInstantTime -> "1",
        HudiLog.HdrSchema -> SchemaJson),
      HudiLog.dataContent(Seq(rec(1L, 2L) ++ Array[Byte](0))))
    assert(HudiLog.parse(lied).isEmpty)
    assert(HudiLog.parse(Array.emptyByteArray).isEmpty)
  }

  test("compaction write: post ≡ pre, compacted base preferred, " +
    "base-only read becomes exact, logs survive untouched") {
    val W = graft.sources.HudiWrite
    val ids = (0L until 60L).toSeq
    val files = W.writeMorTable(ids)
    val pre = W.replay(files).getOrElse(fail("pre replay"))
    assert(pre.map(_.fileId) == Seq("fg0", "fg1"))
    // the q315 laws hold pre-compaction: instant-4 log is inflight
    assert(pre.map(_.nSkipped).sum == 1L)
    val t5 = "00000000000005"
    val delta = W.compact(files, t5).getOrElse(fail("compact"))
    assert(delta.keySet == Set(
      s"p/fg0_0-0-0_$t5.parquet", s"p/fg1_0-0-0_$t5.parquet",
      s".hoodie/$t5.commit"))
    val post = W.replay(files ++ delta).getOrElse(fail("post replay"))
    // same answer, but now every pre-compaction block is skipped and
    // the merge starts from the instant-5 base
    assert(post.map(f => (f.fileId, f.rows)) ==
      pre.map(f => (f.fileId, f.rows)))
    assert(post.forall(_.baseInstant == t5))
    assert(post.map(_.nSkipped).sum == 3L)
    // base-only read (no log decode) over the compacted bases is
    // exact — the point of compacting
    val P = graft.sources.Parquet
    post.foreach { f =>
      val b = delta(s"p/${f.fileId}_0-0-0_$t5.parquet")
      val rs = P.columnLongs(b, "rec_id").getOrElse(fail("rec_id"))
      val vs = P.columnLongs(b, "val").getOrElse(fail("val"))
      assert(rs.toSeq.zip(vs.toSeq) == f.rows)
    }
    // the COMPACT commit is canonical JSON (python sort_keys form)
    val cj = new String(delta(s".hoodie/$t5.commit"), "UTF-8")
    assert(cj.startsWith("""{"operation": "COMPACT", """))
    // a second compaction over the compacted table is a fixed point
    val delta2 = W.compact(files ++ delta, "00000000000006")
      .getOrElse(fail("recompact"))
    val post2 = W.replay(files ++ delta ++ delta2)
      .getOrElse(fail("post2"))
    assert(post2.map(f => (f.fileId, f.rows)) ==
      pre.map(f => (f.fileId, f.rows)))
  }

  test("clean: reclaims only replaced completed slices, retains " +
    "pending logs, fails closed on undecodable logs (q361)") {
    val W = graft.sources.HudiWrite
    val ids = (0L until 90L).toSeq
    val files = W.writeMorTable(ids)
    // before compaction: one version per group -> nothing to clean
    assert(W.clean(files, "00000000000005").get.deleted.isEmpty)
    val compacted = files ++ W.compact(files, "00000000000005").get
    val cr = W.clean(compacted, "00000000000006").get
    assert(cr.deleted.length == 3)
    assert(cr.deleted.count(_.endsWith(".parquet")) == 2)
    assert(cr.deleted.exists(_.startsWith("p/.fg0_")))
    // fg1's log carries the t4 INFLIGHT block: must survive
    assert(!cr.deleted.exists(_.startsWith("p/.fg1_")))
    // answer unchanged after applying the clean
    val cleaned = (compacted -- cr.deleted) +
      (cr.timelineName -> cr.timeline)
    assert(W.replay(cleaned).get.map(f => (f.fileId, f.rows)) ==
      W.replay(compacted).get.map(f => (f.fileId, f.rows)))
    // a log the cleaner cannot decode must block the clean
    val logName = compacted.keys.find(_.startsWith("p/.fg0_")).get
    val bad = compacted + (logName -> Array[Byte](1, 2, 3))
    assert(W.clean(bad, "00000000000006").isEmpty)
  }

  test("clustering (q398): replacecommit rewrites the merged state " +
    "into key-range-disjoint groups; replaced groups go dark on " +
    "disk; clean reclaims them (pending-block log retained); a " +
    "nameless replacecommit fails the replay closed") {
    val W = graft.sources.HudiWrite
    val ids = (0L until 90L).toSeq
    val files = W.writeMorTable(ids)
    val before = W.replay(files).get.flatMap(_.rows).sortBy(_._1)
    val cf = W.cluster(files, "00000000000005", 2)
      .getOrElse(fail("cluster"))
    assert(cf.replacedFileIds == Seq("fg0", "fg1"))
    val clustered = files ++ cf.newFiles +
      (cf.timelineName -> cf.timeline)
    val after = W.replay(clustered).getOrElse(fail("replay"))
    assert(after.flatMap(_.rows).sortBy(_._1) == before,
      "clustering rearranges, never changes")
    assert(after.map(_.fileId).sorted == Seq("cl0", "cl1"))
    // key ranges partition: cl0's max < cl1's min
    val r = after.sortBy(_.fileId).map(f =>
      (f.rows.map(_._1).min, f.rows.map(_._1).max))
    assert(r(0)._2 < r(1)._1)
    // old group bytes still on disk, dark to the reader
    assert(clustered.contains("p/fg0_0-0-0_00000000000001.parquet"))
    // clean: replaced bases + fully-completed log die; fg1's log
    // holds the pending t4 block and is retained
    val cr = W.clean(clustered, "00000000000006").get
    assert(cr.deleted.toSet == Set(
      "p/fg0_0-0-0_00000000000001.parquet",
      "p/fg1_0-0-0_00000000000001.parquet",
      "p/.fg0_00000000000001.log.1_0-0-0"))
    val cleaned = (clustered -- cr.deleted) +
      (cr.timelineName -> cr.timeline)
    assert(W.replay(cleaned).get.flatMap(_.rows).sortBy(_._1) ==
      before)
    // a replacecommit that cannot say what it replaced: CLOSED
    val anon = clustered + (cf.timelineName ->
      """{"operation": "CLUSTER"}""".getBytes("UTF-8"))
    assert(W.replay(anon).isEmpty)
    assert(W.clean(anon, "00000000000007").isEmpty)
    // restore past the clustering resurrects the old groups
    val rs = W.restoreTo(clustered, "00000000000003",
      "00000000000009").get
    val restored = clustered -- rs.deleted
    assert(rs.deleted.contains(cf.timelineName))
    assert(W.replay(restored).get.map(_.fileId).sorted ==
      Seq("fg0", "fg1"))
  }
}
