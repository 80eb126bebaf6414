package graft

import graft.sources.{Deflate, Gzip}
import org.apache.spark.graft.TempDirs

/** The own DEFLATE encoder's laws: stdlib Inflater (the canonical
  * RFC 1951 decoder) must reproduce every input byte-exact from the
  * engine's output; text must GENUINELY compress (the size law a
  * stored-block fallback fails); the gzip wrapper must decode through
  * both GZIPInputStream and the engine's own member walk.
  */
class DeflateSpec extends SparkSpec {

  private def inflateRaw(b: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b)
      val out = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(chunk)
        if (n == 0 && !inf.finished())
          fail("inflater stalled (truncated or invalid stream)")
        out.write(chunk, 0, n)
      }
      out.toByteArray
    } finally inf.end()
  }

  test("compressFixed: stdlib Inflater round-trips a battery of " +
    "inputs byte-exact") {
    val rnd = new scala.util.Random(42)
    val cases: Seq[Array[Byte]] = Seq(
      Array.emptyByteArray,
      Array[Byte](0),
      Array[Byte](7, 7, 7),
      "a".getBytes("UTF-8"),
      "abcabcabcabcabcabc".getBytes("UTF-8"),
      ("the quick brown fox jumps over the lazy dog. " * 100)
        .getBytes("UTF-8"),
      Array.fill[Byte](100000)(0),                  // max-length runs
      Array.tabulate[Byte](65536)(i => (i % 251).toByte), // long period
      Array.fill[Byte](5000)((rnd.nextInt(256) - 128).toByte), // random
      { // match distances straddling the 32 KiB window
        val unit = Array.tabulate[Byte](40000)(i => (i * 7 % 250).toByte)
        unit ++ unit
      },
      // every byte value, then a repeat (9-bit literal codes 144..255)
      Array.tabulate[Byte](512)(i => (i % 256).toByte))
    cases.zipWithIndex.foreach { case (in, k) =>
      val c = Deflate.compressFixed(in)
      assert(inflateRaw(c).toSeq == in.toSeq, s"case $k")
    }
  }

  test("compressFixed: the size law — repetitive text genuinely " +
    "compresses, far below stored") {
    val text = (0 until 2000).map(i =>
      s"doc-$i-" + ("x" * (i % 17))).mkString("\n").getBytes("UTF-8")
    val c = Deflate.compressFixed(text)
    assert(c.length < text.length / 2,
      s"own deflate too weak: ${c.length} vs ${text.length}")
    assert(inflateRaw(c).toSeq == text.toSeq)
  }

  private def battery: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(42)
    Seq(
      Array.emptyByteArray,
      Array[Byte](0),
      Array[Byte](7, 7, 7),
      "a".getBytes("UTF-8"),
      "abcabcabcabcabcabc".getBytes("UTF-8"),
      ("the quick brown fox jumps over the lazy dog. " * 100)
        .getBytes("UTF-8"),
      Array.fill[Byte](100000)(0),
      Array.tabulate[Byte](65536)(i => (i % 251).toByte),
      Array.fill[Byte](5000)((rnd.nextInt(256) - 128).toByte),
      { val unit = Array.tabulate[Byte](40000)(i => (i * 7 % 250).toByte)
        unit ++ unit },
      Array.tabulate[Byte](512)(i => (i % 256).toByte))
  }

  test("compressDynamic: stdlib Inflater round-trips the battery " +
    "byte-exact (incl. degenerate empty-input codes)") {
    battery.zipWithIndex.foreach { case (in, k) =>
      val c = Deflate.compressDynamic(in)
      assert(inflateRaw(c).toSeq == in.toSeq, s"case $k")
    }
  }

  test("compressDynamic: the size law — dynamic STRICTLY beats the " +
    "fixed block on skewed-symbol corpora") {
    // heavily skewed literal distribution (lowercase text) — exactly
    // where per-input codes reclaim what the fixed tables waste
    val skewed = (0 until 3000).map(i =>
      s"doc ${i % 7} lorem ipsum dolor sit amet " * 2).mkString
      .getBytes("UTF-8")
    val dyn = Deflate.compressDynamic(skewed)
    val fix = Deflate.compressFixed(skewed)
    assert(dyn.length < fix.length,
      s"dynamic ${dyn.length} !< fixed ${fix.length}")
    assert(inflateRaw(dyn).toSeq == skewed.toSeq)
    // and compress() picks the winner
    assert(Deflate.compress(skewed).length == dyn.length)
  }

  test("own Inflate decodes own fixed + dynamic AND zlib-written " +
    "streams (levels 0/1/6/9) byte-exact, with exact consumed " +
    "lengths") {
    import graft.sources.Inflate
    def deflateJdk(in: Array[Byte], level: Int): Array[Byte] = {
      val d = new java.util.zip.Deflater(level, true)
      d.setInput(in); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
      d.end()
      out.toByteArray
    }
    battery.zipWithIndex.foreach { case (in, k) =>
      for ((c, tag) <- Seq(
        (Deflate.compressFixed(in), "ownfix"),
        (Deflate.compressDynamic(in), "owndyn"),
        (deflateJdk(in, 0), "jdk0"), // stored blocks
        (deflateJdk(in, 1), "jdk1"),
        (deflateJdk(in, 6), "jdk6"),
        (deflateJdk(in, 9), "jdk9"))) {
        val got = Inflate.inflateRaw(c)
          .getOrElse(fail(s"case $k $tag: None"))
        assert(got._1.toSeq == in.toSeq, s"case $k $tag payload")
        assert(got._2 == c.length, s"case $k $tag consumed")
      }
    }
    // trailing garbage after BFINAL is NOT consumed
    val c0 = Deflate.compressDynamic("hello hello hello".getBytes)
    val padded = c0 ++ Array[Byte](1, 2, 3)
    val r = Inflate.inflateRaw(padded).getOrElse(fail("padded"))
    assert(r._2 == c0.length)
  }

  test("own Inflate fails closed: truncation, reserved BTYPE, bad " +
    "NLEN, over-subscribed codes, distance before stream start") {
    import graft.sources.Inflate
    val good = Deflate.compressDynamic(
      ("abcdef " * 500).getBytes("UTF-8"))
    for (cut <- Seq(1, good.length / 2, good.length - 1))
      assert(Inflate.inflateRaw(good.take(cut)).isEmpty, s"cut $cut")
    // BTYPE=11 reserved
    assert(Inflate.inflateRaw(Array[Byte](0x07)).isEmpty)
    // stored block with NLEN != ~LEN
    assert(Inflate.inflateRaw(Array[Byte](0x01, 0x05, 0x00, 0x00,
      0x00, 'x', 'y', 'z', 'q', 'w')).isEmpty)
    // distance before stream start: fixed block whose FIRST symbol is
    // a match — BFINAL=1 BTYPE=01, lit code 0000001 (sym 257, len 3),
    // dist code 00000 (dist 1) with no prior output
    assert(Inflate.inflateRaw(Array[Byte](0x03, 0x02)).isEmpty)
    // cap enforcement
    val big = Deflate.compressFixed(new Array[Byte](100000))
    assert(Inflate.inflateRaw(big, cap = 1000).isEmpty)
  }

  test("writeMemberOwnBest: both decoders read it; never larger " +
    "than the fixed member on the text corpus") {
    val text = (0 until 2000).map(i =>
      s"doc-$i-" + ("x" * (i % 17))).mkString("\n").getBytes("UTF-8")
    val best = Gzip.writeMemberOwnBest(text)
    val fixed = Gzip.writeMemberOwn(text)
    assert(best.length < fixed.length, "dynamic member must win here")
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(best))
    assert(in.readAllBytes().toSeq == text.toSeq)
    val ms = Gzip.members(best)
    assert(ms.length == 1 && ms.head.crc_ok &&
      ms.head.data.toSeq == text.toSeq)
  }

  test("writeMemberOwn: GZIPInputStream and the own member walk both " +
    "decode the engine's gzip, CRC verified") {
    val data = ("lorem ipsum dolor sit amet " * 500).getBytes("UTF-8")
    val m = Gzip.writeMemberOwn(data, name = Some("own.txt"))
    assert(m.length < data.length / 2)
    // stdlib decode
    val gz = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(m))
    val got = gz.readAllBytes()
    assert(got.toSeq == data.toSeq)
    // own member walk: name, crc, payload
    val ms = Gzip.members(m)
    assert(ms.length == 1)
    assert(ms.head.name == "own.txt" && ms.head.crc_ok &&
      ms.head.data.toSeq == data.toSeq &&
      ms.head.member_len == m.length.toLong)
    // concatenated members stay walkable
    val two = m ++ Gzip.writeMemberOwn("second".getBytes("UTF-8"))
    val ms2 = Gzip.members(two)
    assert(ms2.length == 2 && ms2(1).crc_ok &&
      new String(ms2(1).data, "UTF-8") == "second")
  }

  test("ParquetWrite codec=2 (own gzip): parquet-mr and the own " +
    "reader both decode gzip pages, smaller than stored") {
    val W = graft.sources.ParquetWrite
    val P = graft.sources.Parquet
    val n = 2000
    val ids = (0 until n).map(_.toLong)
    val txts = ids.map(d => s"payload-$d-" + ("z" * (d % 23).toInt))
    val fields = Seq(
      W.Leaf("id", 0, 2),
      W.Leaf("txt", 0, 6, convertedType = 0))
    val data = Seq(
      W.LeafData(Array.fill(n)(0), null, longs = ids.toArray),
      W.LeafData(Array.fill(n)(0), null,
        bins = txts.map(_.getBytes("UTF-8")).toArray))
    val gz = W.writeFile(fields, data, codec = 2)
    val plain = W.writeFile(fields, data, codec = 0)
    assert(gz.length < plain.length, "gzip pages must beat stored")
    // own reader
    assert(P.columnLongs(gz, "id").map(_.toSeq).contains(ids))
    assert(P.columnStrings(gz, "txt").map(_.toSeq).contains(txts))
    // footer must say GZIP
    val fm = P.parseFooter(gz).getOrElse(fail("footer"))
    assert(fm.rowGroups.head.cols.forall(_.codec == 2))
    // parquet-mr (Spark) as the independent reader of own-gzip pages
    val dir = TempDirs.create("pqgz").toFile
    val p = new java.io.File(dir, "own_gzip.parquet")
    java.nio.file.Files.write(p.toPath, gz)
    val got = spark.read.parquet(p.getAbsolutePath)
      .selectExpr("count(*)", "sum(id)", "sum(length(txt))")
      .collect()(0)
    assert(got.getLong(0) == n && got.getLong(1) == ids.sum &&
      got.getLong(2) == txts.map(_.length.toLong).sum)
    p.delete(); dir.delete()
  }
}
