package graft

import org.apache.spark.graft.TempDirs
import org.apache.spark.sql.functions._
import sys.process._

/** The streaming training-shard sink (q331): replay law, own-reader
  * round-trip, and INDEPENDENT cross-reads of the own-written shards
  * by parquet-mr (spark.read) and pyarrow.
  */
class ShardSinkSpec extends SparkSpec {
  import graft.streaming.ShardSink

  private def docsDf = {
    import spark.implicits._
    (0L until 40L).map(i =>
      (i, s"tok$i alpha b$i", if (i % 2 == 0) "en" else "es", i * 3 + 1))
      .toDF("doc_id", "text", "lang", "n_chars")
  }

  test("shardFileBytes is deterministic and sorts by doc_id") {
    val rows = Array((7L, "a b", "en", 5L), (3L, "c", "es", 2L))
    val b1 = ShardSink.shardFileBytes(rows)
    val b2 = ShardSink.shardFileBytes(rows.reverse)
    assert(java.util.Arrays.equals(b1, b2))
  }

  test("shardBatch replay rewrites byte-identical shards + manifest") {
    val out = TempDirs.create("graft_shardsink_replay").toString
    ShardSink.shardBatch(docsDf, 0L, out, binWidth = 16L)
    def snapshot(): Map[String, String] = {
      val base = java.nio.file.Paths.get(out)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map { p =>
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
          (base.relativize(p).toString, md5)
        }.toMap
    }
    val first = snapshot()
    assert(first.keySet == Set("shards/batch=0/bin=0.parquet",
      "shards/batch=0/bin=1.parquet", "shards/batch=0/bin=2.parquet",
      "manifest/batch=0.parquet"))
    ShardSink.shardBatch(docsDf, 0L, out, binWidth = 16L)
    assert(snapshot() == first, "replay must be byte-identical")
  }

  test("parquet-mr cross-reads an own-written shard incl. LIST column") {
    val out = TempDirs.create("graft_shardsink_mr").toString
    ShardSink.shardBatch(docsDf, 0L, out, binWidth = 64L)
    val df = spark.read.parquet(s"$out/shards/batch=0/bin=0.parquet")
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq("doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
        "score" -> "bigint", "toks" -> "array<bigint>"))
    val rows = df.orderBy("doc_id").collect()
    assert(rows.length == 40)
    val r0 = rows(0) // doc 0: lang null (0 % 7 == 0), score 1
    assert(r0.getLong(0) == 0L && r0.getString(1) == "tok0 alpha b0")
    assert(r0.isNullAt(2) && r0.getLong(3) == 1L)
    assert(r0.getSeq[Long](4) == Seq("tok0", "alpha", "b0")
      .map(ShardSink.tokenId))
    val r3 = rows(3) // doc 3: score null (3 % 11 == 3), lang "es"
    assert(r3.isNullAt(3) && r3.getString(2) == "es")
    // token ids are hash60("tok:" + t) % VocabSize, all in range
    assert(rows.forall(_.getSeq[Long](4)
      .forall(t => t >= 0 && t < ShardSink.VocabSize)))
  }

  test("tokenId: arithmetic top-60-bit path equals the hex-parse " +
    "spelling and Md5Hashes hex/hash60Bytes equal the %02x forms") {
    val toks = Seq("", "a", "alpha", "Ġtok", "x" * 300, "é中",
      "tok with spaces?", "0") ++ (0 until 200).map(i => s"w$i")
    toks.foreach { t =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(("tok:" + t).getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 15)
      assert(ShardSink.tokenId(t) ==
        java.lang.Long.parseLong(hex, 16) % ShardSink.VocabSize, t)
    }
    val blobs = Seq(Array[Byte](), Array[Byte](0, 1, -1, 127, -128),
      ("payload " * 50).getBytes("UTF-8"))
    blobs.foreach { b =>
      val d = java.security.MessageDigest.getInstance("MD5").digest(b)
      assert(graft.expressions.Md5Hashes.hexLower(d) ==
        d.map("%02x".format(_)).mkString)
      assert(graft.expressions.Md5Hashes.md5Hex(b) ==
        d.map("%02x".format(_)).mkString)
      assert(graft.expressions.Md5Hashes.hash60Bytes(b) ==
        java.lang.Long.parseLong(
          d.map("%02x".format(_)).mkString.substring(0, 15), 16))
      assert(graft.expressions.Md5Hashes.hash56Bytes(b) ==
        java.lang.Long.parseLong(
          d.map("%02x".format(_)).mkString.substring(15, 29), 16))
      // the single-digest pair (MediaGen.seeds' hot path) must equal
      // the two independent digests it replaces
      assert(graft.expressions.Md5Hashes.hash60And56Bytes(b) ==
        ((graft.expressions.Md5Hashes.hash60Bytes(b),
          graft.expressions.Md5Hashes.hash56Bytes(b))), b.toSeq)
    }
  }

  test("pyarrow cross-reads an own-written shard incl. LIST column") {
    val out = TempDirs.create("graft_shardsink_pa").toString
    ShardSink.shardBatch(docsDf, 0L, out, binWidth = 64L)
    val py =
      """
        |import sys, pyarrow.parquet as pq
        |t = pq.read_table(sys.argv[1])
        |assert t.num_rows == 40, t.num_rows
        |assert [f.name for f in t.schema] == \
        |    ['doc_id', 'text', 'lang', 'score', 'toks'], t.schema
        |d = t.to_pydict()
        |assert d['doc_id'] == sorted(d['doc_id'])
        |assert d['lang'][0] is None and d['lang'][1] == 'es'
        |assert d['score'][3] is None and d['score'][0] == 1
        |assert all(len(x) == 3 for x in d['toks'])
        |assert d['text'][5] == 'tok5 alpha b5'
        |print('PYARROW_OK')
      """.stripMargin
    val got = Seq("python3", "-c", py,
      s"$out/shards/batch=0/bin=0.parquet").!!
    assert(got.contains("PYARROW_OK"), got)
  }

  test("shardStream drain x2 from one checkpoint adds zero shards") {
    import org.apache.spark.sql.streaming.Trigger
    val root = TempDirs.create("graft_shardsink_stream").toString
    val drop = s"$root/drop"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(drop))
    val d = docsDf
    d.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$root/stage_a")
    val part = new java.io.File(s"$root/stage_a").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(drop, "a.parquet"))
    val out = s"$root/out"; val chk = s"$root/chk"
    def drain(): Unit = {
      val stream = spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1").parquet(drop)
      ShardSink.shardStream(stream, out, chk, binWidth = 16L,
        trigger = Some(Trigger.AvailableNow())).awaitTermination()
    }
    drain()
    def listing() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator()
        .asScala.filter(_.toString.endsWith(".parquet"))
        .map(_.toString).toSet
    }
    val first = listing()
    assert(first.exists(_.contains("shards/batch=0")) &&
      first.exists(_.contains("manifest/batch=0")))
    drain() // same checkpoint: no new input, no new shards
    assert(listing() == first)
  }
  test("compactBatches: merged shard decodes to the union, last batch " +
    "wins on overlap, byte-stable across passes, decodeShard closes " +
    "on damage") {
    import spark.implicits._
    val out = TempDirs.create("graft_compact").toString
    val b0 = (0L until 40L by 2).map(i =>
      (i, s"tok$i alpha", if (i % 7 == 0) "zz" else "en", i + 1))
      .toDF("doc_id", "text", "lang", "n_chars")
    val b1 = (1L until 40L by 2).map(i =>
      (i, s"tok$i beta", "es", i + 1))
      .toDF("doc_id", "text", "lang", "n_chars")
    // overlap: doc 2 re-lands in batch 1 with new text -> must win
    val b1o = b1.union(Seq((2L, "tok2 REVISED", "fr", 99L))
      .toDF("doc_id", "text", "lang", "n_chars"))
    ShardSink.shardBatch(b0, 0L, out, binWidth = 16L)
    ShardSink.shardBatch(b1o, 1L, out, binWidth = 16L)
    val r1 = ShardSink.compactBatches(spark, out, 0L)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(r1.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(r1.forall(_._2 == 2L)) // two input files per bin
    assert(r1.map(_._3).sum == 40L) // union row count (doc 2 once)
    val r2 = ShardSink.compactBatches(spark, out, 0L)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(r1.map(_._4).toSeq == r2.map(_._4).toSeq,
      "second pass must rewrite byte-identical shards")
    // decode the compacted bin 0 and check the last-wins row
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/shards/compacted=0/bin=0.parquet"))
    val docs = ShardSink.decodeShard(bytes).getOrElse(fail("decode"))
    assert(docs.length == 16)
    val d2 = docs.find(_._1 == 2L).get
    assert(d2._2 == "tok2 REVISED" && d2._3 == "fr" && d2._4 == 99L)
    // decodeShard is total on damage
    for (i <- bytes.indices by 7) {
      val bad = bytes.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      ShardSink.decodeShard(bad) // None or well-formed, never a throw
    }
    // round-trip: decode(compact(x)) re-encodes byte-identical
    assert(java.util.Arrays.equals(
      ShardSink.shardFileBytes(docs), bytes))
  }
}

