package graft

import graft.sources.Lz4
import org.apache.spark.graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite

/** Pins the from-scratch LZ4 block decoder (sources/Lz4.scala) against
  * lz4-java — an independent implementation of the public block
  * format — as writer, fast and HC compressors both (they emit
  * different sequence splits for the same input; both must decode),
  * plus hand-built sequences for the corners compressors rarely emit
  * and the damage shapes that must fail closed.
  */
class Lz4Spec extends AnyFunSuite {

  private val factory = net.jpountz.lz4.LZ4Factory.fastestJavaInstance()

  private def corpus: Seq[(String, Array[Byte])] = Seq(
    "empty-ish" -> "x".getBytes("UTF-8"),
    "ascii text" -> ("the quick brown fox jumps over the lazy dog. " * 40)
      .getBytes("UTF-8"),
    "rle run" -> Array.fill[Byte](10000)(7), // offset-1 overlap matches
    "short cycle" -> Array.tabulate[Byte](5000)(i => (i % 3).toByte),
    "random" -> { // incompressible: literals-only final sequence path
      val r = new scala.util.Random(42)
      val a = new Array[Byte](4096); r.nextBytes(a); a
    },
    "structured" -> Array.tabulate[Byte](70000)(i =>
      ((i / 100) % 251).toByte), // >64 KB: offsets near the window edge
    "long literals" -> { // >15+255 literal run forces 255-run extension
      val r = new scala.util.Random(7)
      val a = new Array[Byte](1000); r.nextBytes(a)
      a ++ Array.fill[Byte](600)(3) ++ a
    })

  test("lz4-java fast AND high compressors round-trip through the " +
    "from-scratch block decoder, byte-exact") {
    for ((name, data) <- corpus;
         (cname, comp) <- Seq(
           "fast" -> factory.fastCompressor(),
           "hc" -> factory.highCompressor())) {
      val packed = comp.compress(data)
      val got = Lz4.decompressBlock(packed, 0, packed.length, data.length)
        .getOrElse(fail(s"$name/$cname must decode"))
      assert(java.util.Arrays.equals(got, data), s"$name/$cname")
      // and at a nonzero array offset (page payloads sit mid-buffer)
      val shifted = new Array[Byte](packed.length + 13)
      System.arraycopy(packed, 0, shifted, 9, packed.length)
      val got2 = Lz4.decompressBlock(shifted, 9, packed.length, data.length)
      assert(got2.exists(java.util.Arrays.equals(_, data)), s"$name/$cname")
    }
  }

  test("hand-built sequences: overlap copy IS the RLE idiom, " +
    "extended literal and match runs, empty block") {
    // 'A', offset-1 match of length 15+4+0=19 (RLE overlap), then the
    // REQUIRED literals-only final sequence ('Z') -> "A"*20 + "Z"
    val b1 = Array[Byte](0x1f, 'A', 1, 0, 0, 0x10, 'Z')
    assert(Lz4.decompressBlock(b1, 0, b1.length, 21)
      .map(new String(_, "US-ASCII")).contains("A" * 20 + "Z"))
    // a block ENDING on a match violates the format's final-sequence
    // rule — refuse (lz4-java never emits this shape)
    assert(Lz4.decompressBlock(b1, 0, 5, 20).isEmpty)
    // extended match: low nibble 15, extension 255 + 3
    // -> matchLen = 15 + 4 + 255 + 3 = 277
    val b2 = Array[Byte](0x1f, 'B', 1, 0, 255.toByte, 3, 0x10, 'Z')
    assert(Lz4.decompressBlock(b2, 0, b2.length, 279)
      .map(new String(_, "US-ASCII")).contains("B" * 278 + "Z"))
    // extended literals: 15 + 255 + 2 = 272 literal bytes, final seq
    val lits = Array.fill[Byte](272)('C')
    val b3 = Array[Byte](0xf0.toByte, 255.toByte, 2) ++ lits
    assert(Lz4.decompressBlock(b3, 0, b3.length, 272)
      .map(new String(_, "US-ASCII")).contains("C" * 272))
    // empty block for an empty page
    assert(Lz4.decompressBlock(Array.emptyByteArray, 0, 0, 0).isDefined)
  }

  test("damage fails closed: zero offset, offset past the output, " +
    "size lies, truncation, trailing garbage — None, never a throw") {
    val data = ("abcdefgh" * 100).getBytes("UTF-8")
    val packed = factory.fastCompressor().compress(data)
    assert(Lz4.decompressBlock(packed, 0, packed.length, data.length)
      .isDefined)
    // want lies high and low
    assert(Lz4.decompressBlock(packed, 0, packed.length,
      data.length + 1).isEmpty)
    assert(Lz4.decompressBlock(packed, 0, packed.length,
      data.length - 1).isEmpty)
    // truncation at every prefix must never throw
    for (cut <- Seq(1, 2, packed.length / 2, packed.length - 1))
      assert(Lz4.decompressBlock(packed, 0, cut, data.length).isEmpty,
        s"cut $cut")
    // zero offset is the format's explicit invalid value
    val zOff = Array[Byte](0x14, 'A', 0, 0)
    assert(Lz4.decompressBlock(zOff, 0, zOff.length, 9).isEmpty)
    // offset pointing before the start of the output
    val farOff = Array[Byte](0x14, 'A', 9, 0)
    assert(Lz4.decompressBlock(farOff, 0, farOff.length, 9).isEmpty)
    // flipped bytes: either refuse or (a flipped literal byte) decode
    // to the declared size — never throw
    for (i <- packed.indices) {
      val bad = packed.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      Lz4.decompressBlock(bad, 0, bad.length, data.length) match {
        case Some(out) => assert(out.length == data.length)
        case None => ()
      }
    }
  }

  test("Hadoop framing (parquet legacy LZ4, codec 5): BE32 length " +
    "pairs around lz4-java blocks decode; malformed frames refuse") {
    def be32(v: Int) = Array((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    val data = ("lz4 framed payload " * 200).getBytes("UTF-8")
    val block = factory.fastCompressor().compress(data)
    val framed = be32(data.length) ++ be32(block.length) ++ block
    assert(Lz4.decompressFramed(framed, 0, framed.length, data.length)
      .exists(java.util.Arrays.equals(_, data)))
    // two chunks back to back (a >256 KB page would split like this)
    val twice = framed ++ framed
    assert(Lz4.decompressFramed(twice, 0, twice.length, 2 * data.length)
      .exists(java.util.Arrays.equals(_, data ++ data)))
    // truncated frame header / block, and a size lie
    assert(Lz4.decompressFramed(framed, 0, 6, data.length).isEmpty)
    assert(Lz4.decompressFramed(framed, 0, framed.length - 1,
      data.length).isEmpty)
    assert(Lz4.decompressFramed(framed, 0, framed.length,
      data.length + 1).isEmpty)
  }

  test("forged 255-runs pushing litLen/matchLen to Int.MaxValue refuse " +
    "(Long bounds — `op + len` must not wrap past the check)") {
    // 255-run summing to exactly Int.MaxValue: 15 + 255*8421504 + 112
    val run = Array.fill[Byte](8421504)(0xff.toByte) :+ 112.toByte
    // seq 1 puts op=5 (1 literal + 4-byte overlap match at offset 1),
    // so op + Int.MaxValue wraps negative under Int arithmetic
    val pre = Array[Byte](0x10, 'a', 1, 0)
    val litForged = pre ++ Array[Byte](0xf0.toByte) ++ run ++
      Array[Byte]('x')
    assert(Lz4.decompressBlock(litForged, 0, litForged.length, 200)
      .isEmpty) // must not throw
    // match side: token 0x0F after one literal; offset 1; run sums
    // with the +4 base and low nibble 15 to Int.MaxValue
    val mRun = Array.fill[Byte](8421504)(0xff.toByte) :+ 108.toByte
    val matchForged = pre ++ Array[Byte](0x0f, 1, 0) ++ mRun
    assert(Lz4.decompressBlock(matchForged, 0, matchForged.length, 200)
      .isEmpty) // must not throw
  }

  test("ENCODER vs lz4-java: the own block compressor's output " +
    "decodes byte-exact through the reference decompressor AND the " +
    "own reader, across content classes and boundary lengths; the " +
    "Hadoop framing round-trips") {
    import graft.sources.Lz4Encode
    val rnd = new java.util.Random(7)
    val safe = factory.safeDecompressor()
    def check(name: String, data: Array[Byte]): Int = {
      val z = Lz4Encode.compressBlock(data)
      assert(java.util.Arrays.equals(z, Lz4Encode.compressBlock(data)),
        s"$name determinism")
      val own = Lz4.decompressBlock(z, 0, z.length, data.length)
        .getOrElse(fail(s"$name own decode"))
      assert(java.util.Arrays.equals(own, data), name)
      val theirs = new Array[Byte](data.length)
      safe.decompress(z, 0, z.length, theirs, 0)
      assert(java.util.Arrays.equals(theirs, data), s"$name lz4-java")
      // Hadoop framing round trip through the own framed reader
      val framed = Lz4Encode.hadoopFrame(data, bufSize = 1 << 14)
      val back = Lz4.decompressFramed(framed, 0, framed.length,
        data.length).getOrElse(fail(s"$name framed"))
      assert(java.util.Arrays.equals(back, data), s"$name framed eq")
      z.length
    }
    val text = (0 until 4000).map(d => "doc-" + d + "-" +
      ("x" * (d % 17)) + "\n").mkString.getBytes("UTF-8")
    // SIZE LAW: genuine compression on text (stored fallback fails)
    assert(check("text", text) * 2 < text.length)
    assert(check("repetitive", ("abcdefgh" * 20000).getBytes) < 1200)
    val rand = new Array[Byte](65536); rnd.nextBytes(rand)
    check("random", rand)
    for (len <- Seq(0, 1, 4, 5, 11, 12, 13, 14, 15, 16, 17, 18, 19,
      20, 64, 255, 256, 4096, 65535, 65536, 100000)) {
      val d = new Array[Byte](len)
      var k = 0
      while (k < len) { d(k) = ((k * 31 + k / 7) % 11 + 'a').toByte
        k += 1 }
      check(s"len-$len", d)
    }
    for (trial <- 0 until 60) {
      val len = 1 + rnd.nextInt(30000)
      val alpha = 1 + rnd.nextInt(10)
      val d = new Array[Byte](len)
      var k = 0
      while (k < len) {
        val run = 1 + rnd.nextInt(12)
        val b = ('a' + rnd.nextInt(alpha)).toByte
        var j = 0
        while (j < run && k < len) { d(k) = b; k += 1; j += 1 }
      }
      check(s"trial-$trial", d)
    }
  }

  test("XXH32 (q413): the own implementation equals lz4-java's " +
    "across lengths, alignments, and seeds") {
    val x32 = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance()
      .hash32()
    val r = new scala.util.Random(99)
    for (len <- Seq(0, 1, 3, 4, 5, 15, 16, 17, 31, 32, 100, 1000,
      65536);
         seed <- Seq(0, 1, 0x9747b28c)) {
      val a = new Array[Byte](len); r.nextBytes(a)
      assert(graft.sources.XxHash32.hash(a, seed) ==
        x32.hash(a, 0, len, seed), s"len=$len seed=$seed")
    }
    // offset-window form
    val a = new Array[Byte](300); r.nextBytes(a)
    assert(graft.sources.XxHash32.hash(a, 37, 200, 0) ==
      x32.hash(a, 37, 200, 0))
  }

  test("LZ4 frame (q413): own frames decode through lz4-java's " +
    "frame reader and back through the own reader; lz4-java frames " +
    "decode through the own reader; skippable + concatenated " +
    "frames; every damage shape fails closed") {
    val F = graft.sources.Lz4Frame
    for ((name, data) <- corpus) {
      // own -> own, every flag shape
      for (bc <- Seq(false, true); cs <- Seq(false, true);
           cc <- Seq(false, true); code <- Seq(4, 7)) {
        val f = F.write(data, blockMaxCode = code,
          blockChecksum = bc, contentSize = cs, contentChecksum = cc)
        assert(F.decompress(f).exists(
          java.util.Arrays.equals(_, data)),
          s"$name own rt bc=$bc cs=$cs cc=$cc code=$code")
      }
      // own -> lz4-java frame reader
      val own = F.write(data, blockMaxCode = 4,
        blockChecksum = true)
      val in = new net.jpountz.lz4.LZ4FrameInputStream(
        new java.io.ByteArrayInputStream(own))
      val got = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { got.write(buf, 0, n); n = in.read(buf) }
      in.close()
      assert(java.util.Arrays.equals(got.toByteArray, data),
        s"$name own->jpountz")
      // lz4-java frame writer -> own reader
      val bos = new java.io.ByteArrayOutputStream()
      val os = new net.jpountz.lz4.LZ4FrameOutputStream(bos,
        net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB,
        data.length.toLong,
        net.jpountz.lz4.LZ4FrameOutputStream.FLG.Bits
          .BLOCK_INDEPENDENCE,
        net.jpountz.lz4.LZ4FrameOutputStream.FLG.Bits
          .CONTENT_CHECKSUM,
        net.jpountz.lz4.LZ4FrameOutputStream.FLG.Bits.CONTENT_SIZE)
      os.write(data); os.close()
      assert(F.decompress(bos.toByteArray).exists(
        java.util.Arrays.equals(_, data)), s"$name jpountz->own")
    }
    val data = corpus.find(_._1 == "ascii text").get._2
    val own = F.write(data)
    // skippable frame prefix + two concatenated frames
    val skip = Array[Byte](0x50, 0x2a.toByte, 0x4d, 0x18,
      3, 0, 0, 0, 9, 9, 9)
    assert(F.decompress(skip ++ own).exists(
      java.util.Arrays.equals(_, data)))
    assert(F.decompress(own ++ own).exists(
      java.util.Arrays.equals(_, data ++ data)))
    // damage fails closed
    def flip(b: Array[Byte], i: Int): Array[Byte] = {
      val c = b.clone(); c(i) = (c(i) ^ 0x01).toByte; c
    }
    assert(F.decompress(flip(own, 0)).isEmpty, "magic")
    assert(F.decompress(flip(own, 4)).isEmpty,
      "FLG bit flips break the header checksum")
    val hcPos = 4 + 2 + 8 // magic + FLG/BD + content size
    assert(F.decompress(flip(own, hcPos)).isEmpty, "HC")
    assert(F.decompress(own.dropRight(1)).isEmpty, "truncated tail")
    assert(F.decompress(own.take(9)).isEmpty, "truncated header")
    assert(F.decompress(flip(own, own.length - 1)).isEmpty,
      "content checksum")
    assert(F.decompress(Array[Byte](4, 0x22, 0x4d, 0x18)).isEmpty,
      "magic alone")
    // content-size lie: patch the LE64 then fix HC so only the size
    // check can catch it
    val lied = own.clone()
    lied(6) = (lied(6) ^ 0x01).toByte
    val desc = java.util.Arrays.copyOfRange(lied, 4, hcPos)
    lied(hcPos) = ((graft.sources.XxHash32.hash(desc, 0) >>> 8)
      & 0xff).toByte
    assert(F.decompress(lied).isEmpty, "content-size lie")
    // block-checksum damage
    val bcf = F.write(data, blockChecksum = true)
    assert(F.decompress(flip(bcf, bcf.length - 9)).isEmpty,
      "block checksum")
    // a dictID'd frame is refused (unsupported, never guessed)
    val dicted = own.clone()
    dicted(4) = (dicted(4) | 0x01).toByte
    val desc2 = java.util.Arrays.copyOfRange(dicted, 4, hcPos)
    dicted(hcPos) = ((graft.sources.XxHash32.hash(desc2, 0) >>> 8)
      & 0xff).toByte
    assert(F.decompress(dicted).isEmpty, "dictID refused")
  }

  test("LZ4 frame x lz4 CLI (q413): CLI frames — default, 64 KB " +
    "LINKED blocks (cross-block window), content-size — decode " +
    "through the own walker; own frames decode through the CLI") {
    val lz4 = new java.io.File("/root/miniconda/bin/lz4")
    assume(lz4.exists, "lz4 CLI not installed")
    val F = graft.sources.Lz4Frame
    val dir = TempDirs.create("lz4cli")
    // repetitive >64 KB so -B4 -BD makes REAL cross-block matches
    val data = (("alpha beta gamma delta " * 400) + "tail").getBytes(
      "UTF-8") ++ Array.tabulate[Byte](150000)(i =>
      ((i / 30) % 119).toByte)
    val src = dir.resolve("d.bin")
    java.nio.file.Files.write(src, data)
    import scala.sys.process._
    for ((tag, flags) <- Seq(
      "default" -> Seq.empty[String],
      "linked64k" -> Seq("-B4", "-BD"),
      "indep64k" -> Seq("-B4"),
      "csize" -> Seq("--content-size"))) {
      val out = dir.resolve(s"d-$tag.lz4")
      val cmd = Seq(lz4.getPath, "-f", "-q") ++ flags ++
        Seq(src.toString, out.toString)
      assert(cmd.! == 0, s"$tag compress")
      val got = F.decompress(
        java.nio.file.Files.readAllBytes(out))
      assert(got.exists(java.util.Arrays.equals(_, data)),
        s"$tag CLI->own")
    }
    // own frame -> CLI decode
    val ownPath = dir.resolve("own.lz4")
    java.nio.file.Files.write(ownPath,
      F.write(data, blockChecksum = true))
    val back = dir.resolve("own.out")
    assert(Seq(lz4.getPath, "-d", "-f", "-q", ownPath.toString,
      back.toString).! == 0, "CLI decode of own frame")
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(back), data), "own->CLI")
  }
}
