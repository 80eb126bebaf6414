package graft

import graft.sources.Bzip2
import org.apache.spark.graft.TempDirs

/** From-scratch bzip2 decoder pinned against CPython's bz2 module (the
  * independent libbzip2 encoder) via fixtures/bz2_golden.parquet —
  * shapes chosen to exercise every decode stage — plus damage totality.
  */
class Bzip2Spec extends SparkSpec {

  private lazy val golden: Seq[(String, Array[Byte], Array[Byte])] =
    spark.read.parquet("fixtures/bz2_golden.parquet")
      .collect() // bounded: 8 golden cases
      .map(r => (r.getAs[String]("name"), r.getAs[Array[Byte]]("payload"),
        r.getAs[Array[Byte]]("bz")))
      .toSeq

  test("every CPython-written golden stream decodes byte-for-byte: " +
    "RLE1 runs, full byte alphabet, multi-block level-1 streams, " +
    "concatenated streams, high-entropy group switching") {
    assert(golden.size == 8)
    for ((name, payload, bz) <- golden) {
      val got = Bzip2.decompress(bz)
      assert(got.isDefined, s"$name must decode")
      assert(java.util.Arrays.equals(got.get, payload),
        s"$name: ${got.get.length} vs ${payload.length} bytes")
    }
    // the multi-block case must really be multi-block: level 1 holds
    // 100k per block and the payload is larger
    val mb = golden.find(_._1 == "multi_block").get
    assert(mb._2.length > 100000, "fixture must force several blocks")
  }

  test("damage fails closed: bad magics, truncation, bit flips, CRC " +
    "lies, randomized-block flag, not-bzip2 input") {
    val (_, _, bz) = golden.find(_._1 == "short_text").get
    assert(Bzip2.decompress(bz).isDefined)
    // not bzip2 / empty
    assert(Bzip2.decompress(Array.empty[Byte]).isEmpty)
    assert(Bzip2.decompress("BZh9 not really".getBytes).isEmpty)
    assert(Bzip2.decompress("PKjunk".getBytes).isEmpty)
    // bad level digit
    val lvl = bz.clone(); lvl(3) = '0'
    assert(Bzip2.decompress(lvl).isEmpty)
    // truncated anywhere in the tail
    for (cut <- Seq(4, bz.length / 2, bz.length - 1))
      assert(Bzip2.decompress(bz.take(cut)).isEmpty, s"cut=$cut")
    // a flipped bit anywhere must NEVER yield silent wrong bytes: it
    // either fails (structure or CRC) or decodes to the exact original
    // (flips in a never-used symbol's code length are legitimately
    // inert — the tables change, the decode does not)
    val want = golden.find(_._1 == "short_text").get._2
    var caught = 0
    for (at <- 4 until bz.length; bit <- Seq(0x10, 0x01)) {
      val bad = bz.clone()
      bad(at) = (bad(at) ^ bit).toByte
      Bzip2.decompress(bad) match {
        case None => caught += 1
        case Some(got) =>
          assert(java.util.Arrays.equals(got, want),
            s"flip at $at/$bit: wrong bytes escaped the CRC")
      }
    }
    // and the CRC must be doing real work: most flips are caught
    assert(caught > bz.length, s"only $caught flips caught")
    // stream-CRC lie: flip a bit inside the final combined CRC
    val tail = bz.clone()
    tail(tail.length - 1) = (tail(tail.length - 1) ^ 0x01).toByte
    assert(Bzip2.decompress(tail).isEmpty)
    // output cap: the bound trips instead of allocating
    val big = golden.find(_._1 == "multi_block").get._3
    assert(Bzip2.decompress(big, cap = 1000).isEmpty)
  }

  private def encBattery: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(7)
    Seq(
      "empty" -> Array.emptyByteArray,
      "one" -> Array[Byte]('x'),
      "run3" -> Array[Byte](7, 7, 7),
      "run4" -> Array[Byte](7, 7, 7, 7),
      "run300" -> Array.fill[Byte](300)('z'), // RLE1 run split at 259
      "periodic" -> ("ab" * 2000).getBytes("UTF-8"), // equal rotations
      "text" -> (("the quick brown fox jumps over the lazy dog. " * 200)
        .getBytes("UTF-8")),
      "skewed" -> (0 until 3000).map(i => s"doc ${i % 7} lorem ipsum ")
        .mkString.getBytes("UTF-8"),
      "allbytes" -> Array.tabulate[Byte](4096)(i => (i % 256).toByte),
      "random" -> Array.fill[Byte](20000)(
        (rnd.nextInt(256) - 128).toByte),
      "big_text" -> (0 until 30000).map(i =>
        s"line-$i " + ("pad" * (i % 5))).mkString("\n")
        .getBytes("UTF-8")) // > 100k: exercises level-1 block split
  }

  test("Bzip2Encode: CPython bz2 (libbzip2) decodes every encoder " +
    "output byte-exact, at levels 1 and 9") {
    import sys.process._
    val dir = TempDirs.create("bz2enc")
    val checks = Seq.newBuilder[String]
    for ((name, data) <- encBattery; level <- Seq(1, 9)) {
      val bz = graft.sources.Bzip2Encode.compress(data, level)
      java.nio.file.Files.write(dir.resolve(s"$name-$level.bz2"), bz)
      java.nio.file.Files.write(dir.resolve(s"$name-$level.raw"), data)
      checks += s"$name-$level"
    }
    val py =
      s"""
        |import bz2, sys, pathlib
        |d = pathlib.Path("$dir")
        |for stem in sys.argv[1:]:
        |    comp = (d / (stem + '.bz2')).read_bytes()
        |    raw = (d / (stem + '.raw')).read_bytes()
        |    got = bz2.decompress(comp) if comp[:3] == b'BZh' else b''
        |    if len(raw) == 0:
        |        # bz2.decompress rejects a no-block stream; libbzip2's
        |        # streaming API accepts it
        |        dec = bz2.BZ2Decompressor()
        |        got = dec.decompress(comp)
        |        assert dec.eof, stem
        |    assert got == raw, stem
        |print('CPYTHON_BZ2_OK')
      """.stripMargin
    val pf = dir.resolve("check.py")
    java.nio.file.Files.writeString(pf, py)
    val res = (Seq("python3", pf.toString) ++ checks.result()).!!
    assert(res.contains("CPYTHON_BZ2_OK"), res)
  }

  test("Bzip2Encode: own decoder round-trips every output; the size " +
    "law holds on text; determinism") {
    for ((name, data) <- encBattery; level <- Seq(1, 9)) {
      val bz = graft.sources.Bzip2Encode.compress(data, level)
      val back = Bzip2.decompress(bz)
      if (data.isEmpty)
        // a no-block stream: the own decoder (like bz2.decompress)
        // treats it as having no stream content at all
        assert(back.isEmpty || back.exists(_.isEmpty), name)
      else
        assert(back.exists(_.toSeq == data.toSeq), s"$name-$level")
      assert(java.util.Arrays.equals(bz,
        graft.sources.Bzip2Encode.compress(data, level)), "determinism")
    }
    val text = ("the quick brown fox jumps over the lazy dog. " * 200)
      .getBytes("UTF-8")
    assert(graft.sources.Bzip2Encode.compress(text).length <
      text.length / 4, "bzip2 must genuinely compress text")
  }

  test("thread-local block buffer reuse: interleaved decodes of " +
    "different sizes/contents on one thread never contaminate") {
    // the reused BWT buffer keeps stale bytes past n — decode a large
    // blob, then a SMALLER one (stale tail live in the buffer), then a
    // large again, and require every output byte-exact
    val a = ("alpha beta gamma " * 4000).getBytes("UTF-8") // ~68 KB
    val b = "tiny".getBytes("UTF-8")
    val c = Array.tabulate[Byte](50000)(i => ((i * 131) % 251).toByte)
    val enc = Seq(a, b, c, b, a).map(x =>
      graft.sources.Bzip2Encode.compress(x, 9))
    for (((bz, orig), i) <- enc.zip(Seq(a, b, c, b, a)).zipWithIndex) {
      val back = graft.sources.Bzip2.decompress(bz)
      assert(back.exists(java.util.Arrays.equals(_, orig)), s"decode $i")
    }
  }
}
