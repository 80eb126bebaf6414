package graft

import graft.sources.{Crc64, Lzma2, Xz}
import org.apache.spark.graft.TempDirs

/** Pins the from-scratch XZ walk + LZMA decoder against liblzma (the
  * INDEPENDENT writer behind python lzma, via the fixture blobs):
  * container structure, byte-exact decode, check verification for
  * both CRC32 and CRC64, and the damage shapes that must close — a
  * payload flip must be caught by decode failure or check mismatch,
  * never surfaced as silent wrong bytes.
  */
class XzSpec extends SparkSpec {

  private def fixture =
    spark.read.parquet("fixtures/xz_files.parquet")
      .collect() // bounded: 24 fixture files
      .map(r => (r.getAs[String]("kind"),
        r.getAs[Array[Byte]]("file_bytes")))

  private def decodeAll(b: Array[Byte]): Option[(Int, Array[Byte])] =
    Xz.parseAll(b).flatMap { streams =>
      val out = new java.io.ByteArrayOutputStream()
      var ok = streams.nonEmpty
      streams.foreach(_.blocks.foreach { blk =>
        Lzma2.decode(b, blk.dataStart, blk.unpackedLen) match {
          case Some(x) => out.write(x, 0, x.length)
          case None => ok = false
        }
      })
      if (ok) Some((streams.head.checkType, out.toByteArray))
      else None
    }

  private def checkHolds(b: Array[Byte]): Boolean =
    Xz.parseAll(b).exists(_.forall { info =>
      info.blocks.forall { blk =>
        Lzma2.decode(b, blk.dataStart, blk.unpackedLen).exists { x =>
          val co = ((blk.dataStart + blk.packedLen + 3L) / 4 * 4).toInt
          info.checkType match {
            case 1 =>
              val c = new java.util.zip.CRC32(); c.update(x)
              (0 to 3).map(k => (b(co + k) & 0xffL) << (8 * k)).sum ==
                c.getValue
            case 4 =>
              (0 to 7).map(k => (b(co + k) & 0xffL) << (8 * k)).sum ==
                Crc64.of(x, 0, x.length)
            case _ => false
          }
        }
      }
    })

  test("liblzma-written xz decodes byte-exact: every line matches the " +
    "writer formula, checks (CRC32 and engine-owned CRC64) verify") {
    val rows = fixture
    assert(rows.length == 48)
    assert(rows.map(_._1).toSet ==
      Set("crc32", "crc64", "concat", "alone"))
    for ((kind, b) <- rows if kind != "alone") {
      val (check, out) = decodeAll(b).getOrElse(fail(s"$kind decode"))
      if (kind != "concat") {
        assert(Xz.checkName(check) == kind)
        // the plain single-stream parse also accepts these
        assert(Xz.parse(b).isDefined)
      } else {
        // cat-ed streams: strict single-stream parse refuses, the
        // multi-stream walk sees exactly two
        assert(Xz.parse(b).isEmpty)
        assert(Xz.parseAll(b).exists(_.length == 2))
      }
      val lines = new String(out, "UTF-8").split("\n")
      assert(lines.nonEmpty)
      for (l <- lines) {
        val m = "doc (\\d+): payload (\\d+)".r
        l match {
          case m(d, v) => assert(v.toLong == (d.toLong * 17) % 1000)
          case _ => fail(s"line '$l'")
        }
      }
      assert(checkHolds(b), s"$kind check")
    }
  }

  test("legacy .lzma (alone format): unknown-length streams decode to " +
    "the end marker; truncation before the marker fails closed") {
    val rows = fixture.filter(_._1 == "alone")
    assert(rows.length == 12)
    for ((_, b) <- rows) {
      val out = Lzma2.decodeAlone(b).getOrElse(fail("alone decode"))
      val lines = new String(out, "UTF-8").split("\n")
      val m = "doc (\\d+): payload (\\d+)".r
      for (l <- lines) l match {
        case m(d, v) => assert(v.toLong == (d.toLong * 17) % 1000)
        case _ => fail(s"line '$l'")
      }
      // an unknown-length stream cut before the marker must fail
      assert(Lzma2.decodeAlone(
        java.util.Arrays.copyOf(b, b.length - 4)).isEmpty)
      for (cut <- 0 until b.length by 9)
        Lzma2.decodeAlone(java.util.Arrays.copyOf(b, cut))
    }
  }

  test("damage fails closed: every payload byte flip is caught by the " +
    "walk, the decoder, or the check — never silent wrong bytes; " +
    "truncations never throw") {
    val b = fixture.find(_._1 == "crc32").get._2
    val info = Xz.parse(b).get
    val blk = info.blocks.head
    val orig = Lzma2.decode(b, blk.dataStart, blk.unpackedLen).get
    var caught = 0
    var total = 0
    for (i <- blk.dataStart until (blk.dataStart + blk.packedLen.toInt)
           by 3) {
      total += 1
      val c = b.clone(); c(i) = (c(i) ^ 0x5a).toByte
      // silent WRONG bytes = decode succeeds, output differs from
      // the truth, AND the check still passes. (A flip in the range
      // coder's don't-care tail bits can legally decode IDENTICAL
      // output — that is not corruption.)
      val silentWrong = Xz.parse(c).exists { in2 =>
        in2.blocks.headOption.exists { bl2 =>
          Lzma2.decode(c, bl2.dataStart, bl2.unpackedLen).exists { x =>
            !java.util.Arrays.equals(x, orig) && checkHolds(c)
          }
        }
      }
      if (!silentWrong) caught += 1
    }
    assert(caught == total,
      s"flips surfacing silent wrong bytes: ${total - caught}/$total")
    for (cut <- 0 until b.length by 3) {
      val t = java.util.Arrays.copyOf(b, cut)
      Xz.parse(t).foreach(_.blocks.foreach(bl =>
        Lzma2.decode(t, bl.dataStart, bl.unpackedLen)))
    }
    // every prefix of a second committed stream: a strict prefix of
    // one .xz stream never parses
    val other = fixture.find(_._1 == "crc64").get._2
    assert(Xz.parse(other).isDefined)
    for (cut <- CutSweep.cuts(other.length))
      assert(Xz.parse(java.util.Arrays.copyOf(other, cut)).isEmpty,
        s"cut $cut")
  }

  // ---- the ENCODER (LzmaEncode, q337) ------------------------------------

  private def corpora: Seq[(String, Array[Byte])] = {
    val rnd = new java.util.Random(4242)
    def random(n: Int) = {
      val a = new Array[Byte](n); rnd.nextBytes(a); a
    }
    val text = (0 until 4000).map(i =>
      s"doc $i: the quick brown corpus fox scores ${i % 97} on " +
        s"shard ${i % 13}; lang=${if (i % 3 == 0) "en" else "es"}\n")
      .mkString.getBytes("UTF-8")
    Seq(
      ("empty", Array.emptyByteArray),
      ("one", Array[Byte](42)),
      ("tiny", "hello hello hello hello".getBytes("UTF-8")),
      ("text", text),
      ("zeros", new Array[Byte](1 << 20)),
      ("random64k", random(1 << 16)),
      ("random300k", random(300000)),
      ("edge65536", random(65536)),
      ("edge65537", random(65537)),
      ("repeat", Array.fill(200000)("abcdefgh".getBytes("UTF-8"))
        .flatten))
  }

  test("LzmaEncode.xz: own walk + own LZMA decode round-trips " +
    "byte-exact, CRC64 verifies, incompressible input stays near raw") {
    for ((name, data) <- corpora) {
      val z = graft.sources.LzmaEncode.xz(data)
      val (check, out) = decodeAll(z)
        .orElse(if (data.isEmpty) Some((4, Array.emptyByteArray))
        else None)
        .getOrElse(fail(s"$name: own decode"))
      assert(check == 4, name)
      assert(java.util.Arrays.equals(out, data), s"$name: bytes")
      assert(checkHolds(z) || data.isEmpty, s"$name: CRC64")
      // stored-chunk fallback bounds expansion on random data
      assert(z.length <= data.length + data.length / 1000 + 256,
        s"$name: expansion ${z.length} vs ${data.length}")
    }
    // size law: compressible corpora must actually compress
    for (name <- Seq("text", "zeros", "repeat")) {
      val data = corpora.find(_._1 == name).get._2
      val z = graft.sources.LzmaEncode.xz(data)
      assert(z.length < data.length / 3, s"$name: ${z.length}")
    }
  }

  test("LzmaEncode.xz: XZ-for-Java (the independent reference) " +
    "decodes every corpus byte-exact, single- and multi-block") {
    for ((name, data) <- corpora;
         bs <- Seq(0, 100000)) {
      val z = graft.sources.LzmaEncode.xz(data, blockSize = bs)
      val in = new org.tukaani.xz.XZInputStream(
        new java.io.ByteArrayInputStream(z))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close()
      assert(java.util.Arrays.equals(out.toByteArray, data),
        s"$name bs=$bs")
    }
  }

  test("LzmaEncode multi-block xz: the index makes every block " +
    "independently decodable — the parallel-scan law") {
    val data = corpora.find(_._1 == "text").get._2
    val z = graft.sources.LzmaEncode.xz(data, blockSize = 50000)
    val info = Xz.parse(z).getOrElse(fail("parse"))
    assert(info.blocks.length == (data.length + 49999) / 50000)
    // decode block 3 ALONE and check it equals the matching slice
    val blk = info.blocks(3)
    val part = Lzma2.decode(z, blk.dataStart, blk.unpackedLen)
      .getOrElse(fail("block 3"))
    assert(java.util.Arrays.equals(part,
      java.util.Arrays.copyOfRange(data, 150000, 200000)))
    assert(info.indexUncompressed == data.length.toLong)
  }

  test("LzmaEncode.alone: own decodeAlone and XZ-for-Java's " +
    "LZMAInputStream both round-trip byte-exact") {
    for ((name, data) <- corpora if data.length <= (1 << 20)) {
      val z = graft.sources.LzmaEncode.alone(data)
      val back = Lzma2.decodeAlone(z, cap = 1 << 22)
        .getOrElse(fail(s"$name: own alone decode"))
      assert(java.util.Arrays.equals(back, data), s"$name: own")
      val in = new org.tukaani.xz.LZMAInputStream(
        new java.io.ByteArrayInputStream(z))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close()
      assert(java.util.Arrays.equals(out.toByteArray, data),
        s"$name: tukaani")
    }
  }

  test("LzmaEncode: CPython lzma (liblzma) decodes own xz and own " +
    "alone byte-exact across the corpus battery") {
    import scala.sys.process._
    val dir = TempDirs.create("lzmaenc")
    val checks = Seq.newBuilder[String]
    for ((name, data) <- corpora if data.nonEmpty) {
      java.nio.file.Files.write(dir.resolve(s"$name.xz"),
        graft.sources.LzmaEncode.xz(data))
      java.nio.file.Files.write(dir.resolve(s"$name.lzma"),
        graft.sources.LzmaEncode.alone(data))
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(data).map("%02x".format(_)).mkString
      checks += s"$name $h"
    }
    val pf = dir.resolve("check.py")
    java.nio.file.Files.write(pf,
      """import hashlib, lzma, pathlib, sys
        |d = pathlib.Path(sys.argv[1])
        |for spec in sys.argv[2:]:
        |    name, want = spec.split()
        |    for ext, fmt in (('xz', lzma.FORMAT_XZ),
        |                     ('lzma', lzma.FORMAT_ALONE)):
        |        raw = lzma.decompress(
        |            (d / (name + '.' + ext)).read_bytes(), format=fmt)
        |        got = hashlib.md5(raw).hexdigest()
        |        if got != want:
        |            print('FAIL', name, ext, got, want)
        |            sys.exit(1)
        |print('OK')
        |""".stripMargin.getBytes("UTF-8"))
    val res = (Seq("python3", pf.toString, dir.toString) ++
      checks.result()).!!
    assert(res.trim == "OK", res)
  }

  test("LzmaEncode: inputs beyond the declared 2^24 dictionary never " +
    "emit out-of-bound match distances (r14 advice) — XZ-for-Java, " +
    "which enforces the header's dict size, decodes 17 MiB byte-exact") {
    // a 2 KiB pattern at offset 0 recurs ~16.9 MiB later — past the
    // declared dictionary. An unbounded match finder links them and
    // liblzma-style decoders reject the stream; the bounded finder
    // must skip the far candidate.
    val n = 17 * 1024 * 1024
    val data = new Array[Byte](n)
    var x = 0x12345L
    var i = 0
    while (i < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      data(i) = (x >>> 33).toByte
      i += 1
    }
    val far = n - 2048 - 7
    System.arraycopy(data, 0, data, far, 2048)
    val z = graft.sources.LzmaEncode.xz(data, blockSize = 0)
    val in = new org.tukaani.xz.XZInputStream(
      new java.io.ByteArrayInputStream(z))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    var r = in.read(buf)
    while (r > 0) { out.write(buf, 0, r); r = in.read(buf) }
    in.close()
    assert(java.util.Arrays.equals(out.toByteArray, data))
  }
}
