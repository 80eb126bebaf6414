package graft

import graft.sources.DeletionVectors
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Delta deletion-vector stack: Z85 against the ZeroMQ
  * spec's published test vector, the roaring decode against
  * org.roaringbitmap (the reference implementation, shipped in the
  * Spark runtime) across ALL THREE container types, the DV file frame
  * (version/size/CRC laws), and the `u`-storage UUID path derivation.
  */
class DeletionVectorsSpec extends AnyFunSuite {

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def le64(v: Long): Array[Byte] =
    Array.tabulate[Byte](8)(i => ((v >> (8 * i)) & 0xff).toByte)

  /** delta's portable RoaringBitmapArray wrapper over reference
    * 32-bit serializations.
    */
  private def portable(bitmaps: Seq[org.roaringbitmap.RoaringBitmap])
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(le32(1681511377))
    out.write(le64(bitmaps.length.toLong))
    bitmaps.foreach { rb =>
      val buf = java.nio.ByteBuffer.allocate(rb.serializedSizeInBytes())
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      rb.serialize(buf)
      out.write(buf.array(), 0, buf.position())
    }
    out.toByteArray
  }

  test("Z85 decodes the ZeroMQ spec's published test vector and " +
    "refuses bad lengths/characters/overflow groups") {
    val got = DeletionVectors.z85Decode("HelloWorld")
      .getOrElse(fail("spec vector"))
    assert(got.toSeq == Seq(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7,
      0x5b).map(_.toByte))
    assert(DeletionVectors.z85Decode("Hello").isDefined)
    assert(DeletionVectors.z85Decode("Hell").isEmpty) // not %5
    assert(DeletionVectors.z85Decode("Hellö").isEmpty) // alphabet
    assert(DeletionVectors.z85Decode("#####").isEmpty) // > 2^32
  }

  test("roaring decode equals the reference implementation across " +
    "array, bitmap AND run containers, multiple 32-bit bitmaps") {
    // array container: sparse values across two keys
    val sparse = new org.roaringbitmap.RoaringBitmap()
    (0 until 300).foreach(i => sparse.add(i * 977))
    // bitmap container: > 4096 values in one 64k chunk
    val dense = new org.roaringbitmap.RoaringBitmap()
    (0 until 6000).foreach(i => dense.add(0x10000 + i * 2))
    // run container: contiguous ranges, runOptimize converts
    val runs = new org.roaringbitmap.RoaringBitmap()
    runs.add(100L, 5000L)
    runs.add(90000L, 90100L)
    assert(runs.runOptimize())
    for (rb <- Seq(sparse, dense, runs)) {
      val mine = DeletionVectors.bitmap(portable(Seq(rb)))
        .getOrElse(fail("must decode"))
      val theirs = rb.toArray.map(_.toLong & 0xffffffffL)
      assert(mine.toSeq == theirs.toSeq)
    }
    // two bitmaps -> 64-bit values with the index in the high half
    val both = DeletionVectors.bitmap(portable(Seq(sparse, runs)))
      .getOrElse(fail("two bitmaps"))
    val want = sparse.toArray.map(_.toLong & 0xffffffffL) ++
      runs.toArray.map(v => (1L << 32) | (v.toLong & 0xffffffffL))
    assert(both.toSeq == want.toSeq)
    // damage: wrong magic, truncations, trailing bytes, flips
    val good = portable(Seq(dense))
    val m = good.clone(); m(0) = (m(0) ^ 1).toByte
    assert(DeletionVectors.bitmap(m).isEmpty)
    for (cut <- Seq(3, 11, 17, good.length / 2, good.length - 1))
      assert(DeletionVectors.bitmap(
        java.util.Arrays.copyOf(good, cut)).isEmpty, s"cut $cut")
    assert(DeletionVectors.bitmap(good :+ 0.toByte).isEmpty)
    // every prefix of a committed DV file: its first vector (version
    // byte, BE32 size, bitmap, BE32 CRC) decodes only once whole
    val (dvPath, dv) = CutSweep.fixtureFiles(
      "fixtures/delta_dv_files.parquet")
      .filter(_._1.endsWith(".bin")).maxBy(_._2.length)
    val size = java.nio.ByteBuffer.wrap(dv, 1, 4).getInt
    def first(f: Array[Byte]) =
      DeletionVectors.fileSlice(f, 1, size).flatMap(DeletionVectors.bitmap)
    val whole = first(dv).getOrElse(fail(s"$dvPath must decode"))
    for (cut <- CutSweep.cuts(dv.length)) {
      val got = first(java.util.Arrays.copyOf(dv, cut))
      if (cut < 1 + 4 + size + 4) assert(got.isEmpty, s"cut $cut")
      else assert(got.exists(_.toSeq == whole.toSeq), s"cut $cut")
    }
    for (i <- good.indices by 5) {
      val bad = good.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      DeletionVectors.bitmap(bad) // must not throw
    }
  }

  test("DV file frame: version byte, BE size must match the " +
    "descriptor, CRC-32 must verify; inline tolerates Z85 pad only") {
    val rb = new org.roaringbitmap.RoaringBitmap()
    Seq(3, 17, 4000).foreach(rb.add)
    val data = portable(Seq(rb))
    val crc = new java.util.zip.CRC32(); crc.update(data)
    val out = new java.io.ByteArrayOutputStream()
    out.write(1) // format version
    out.write(Array((data.length >> 24).toByte,
      (data.length >> 16).toByte, (data.length >> 8).toByte,
      data.length.toByte))
    out.write(data)
    val v = crc.getValue
    out.write(Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte,
      v.toByte))
    val file = out.toByteArray
    val got = DeletionVectors.fileSlice(file, 1L, data.length.toLong)
      .flatMap(DeletionVectors.bitmap).getOrElse(fail("frame"))
    assert(got.toSeq == Seq(3L, 17L, 4000L))
    // size lie, CRC flip, version flip
    assert(DeletionVectors.fileSlice(file, 1L, data.length + 1L).isEmpty)
    val c = file.clone(); c(file.length - 1) = (c(file.length - 1) ^ 1).toByte
    assert(DeletionVectors.fileSlice(c, 1L, data.length.toLong).isEmpty)
    val vv = file.clone(); vv(0) = 2
    assert(DeletionVectors.fileSlice(vv, 1L, data.length.toLong).isEmpty)
    // inline: unpadded size with up to 3 pad bytes; more refuses
    val padded = data ++ Array.fill[Byte]((-data.length % 4 + 4) % 4)(0)
    val z = zEncode(padded)
    assert(DeletionVectors.inlineBitmap(z, data.length.toLong, 3L)
      .exists(_.toSeq == Seq(3L, 17L, 4000L)))
    assert(DeletionVectors.inlineBitmap(z, data.length.toLong, 4L)
      .isEmpty, "cardinality must match")
    assert(DeletionVectors
      .inlineBitmap(z + "00000", data.length.toLong, 3L).isEmpty,
      "over-padding refuses")
  }

  test("u-storage path derivation: last 20 chars are the Z85 UUID, " +
    "prefix preserved") {
    val uuid = java.util.UUID.fromString(
      "00112233-4455-6677-8899-aabbccddeeff")
    val bytes = new Array[Byte](16)
    for (i <- 0 until 8) {
      bytes(i) = ((uuid.getMostSignificantBits >> (56 - 8 * i)) & 0xff)
        .toByte
      bytes(8 + i) = ((uuid.getLeastSignificantBits >> (56 - 8 * i))
        & 0xff).toByte
    }
    val z = zEncode(bytes)
    assert(z.length == 20)
    assert(DeletionVectors.uuidPath(z)
      .contains(s"deletion_vector_$uuid.bin"))
    assert(DeletionVectors.uuidPath("ab" + z)
      .contains(s"ab/deletion_vector_$uuid.bin"))
    assert(DeletionVectors.uuidPath("shrt").isEmpty)
  }

  /** Test-side Z85 encoder (the engine only decodes). */
  test("WRITE twin: serializeBitmap is byte-identical to the " +
    "reference implementation's portable form; own reader and " +
    "reference both round-trip it") {
    val W = graft.sources.DeletionVectorsWrite
    val arrayVals = (0 until 300).map(i => (i * 977).toLong)
    val bitmapVals = (0 until 6000).map(i => 0x10000L + i * 2)
    val multi = (arrayVals ++ Seq((2L << 32) | 5L,
      (2L << 32) | 70000L)).sorted
    for (vals <- Seq(arrayVals, bitmapVals,
      (arrayVals ++ bitmapVals).sorted.distinct, multi, Seq(0L),
      Seq.empty[Long])) {
      val mine = W.serializeBitmap(vals)
      // own reader round-trips
      assert(DeletionVectors.bitmap(mine).exists(_.toSeq == vals),
        s"own read, n=${vals.length}")
      // reference byte equality: same values bucketed by high-32
      val nB = if (vals.isEmpty) 0 else (vals.last >>> 32).toInt + 1
      val rbs = (0 until nB).map { h =>
        val rb = new org.roaringbitmap.RoaringBitmap()
        vals.filter(v => (v >>> 32) == h)
          .foreach(v => rb.add((v & 0xffffffffL).toInt))
        rb
      }
      assert(java.util.Arrays.equals(mine, portable(rbs)),
        s"reference bytes, n=${vals.length}")
    }
  }

  test("WRITE twin: z85Encode, uuidPathEncode and dvFile all " +
    "round-trip through the reader; CRC framing fails closed") {
    val W = graft.sources.DeletionVectorsWrite
    // z85: inverse of the reader on arbitrary (padded) bytes
    val rnd = new java.util.Random(7)
    for (n <- Seq(1, 2, 3, 4, 15, 16, 100)) {
      val b = new Array[Byte](n); rnd.nextBytes(b)
      val enc = W.z85Encode(b)
      val dec = DeletionVectors.z85Decode(enc)
        .getOrElse(fail(s"z85 n=$n"))
      assert(dec.length - n <= 3 &&
        dec.take(n).toSeq == b.toSeq &&
        dec.drop(n).forall(_ == 0), s"n=$n")
    }
    // uuid path
    val u = new java.util.UUID(0x0123456789abcdefL, 0xfedcba9876543210L)
    assert(DeletionVectors.uuidPath(W.uuidPathEncode(u))
      .contains(s"deletion_vector_$u.bin"))
    // dv file frame: two vectors, each sliced back by its offset
    val v1 = W.serializeBitmap(Seq(1L, 5L, 9L))
    val v2 = W.serializeBitmap((0 until 5000).map(_.toLong * 3))
    val (file, offs) = W.dvFile(Seq(v1, v2))
    assert(offs.length == 2 && offs(0)._1 == 1L)
    for (((off, sz), v) <- offs.zip(Seq(v1, v2))) {
      val got = DeletionVectors.fileSlice(file, off, sz)
        .getOrElse(fail("slice"))
      assert(java.util.Arrays.equals(got, v))
    }
    // corrupt one payload byte: the CRC law fails that slice closed
    val bad = file.clone()
    bad(offs(1)._1.toInt + 7) = (bad(offs(1)._1.toInt + 7) ^ 1).toByte
    assert(DeletionVectors.fileSlice(bad, offs(1)._1,
      offs(1)._2).isEmpty)
    assert(DeletionVectors.fileSlice(bad, offs(0)._1,
      offs(0)._2).isDefined)
  }

  private def zEncode(b: Array[Byte]): String = {
    require(b.length % 4 == 0)
    val alpha = "0123456789abcdefghijklmnopqrstuvwxyz" +
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
    val sb = new StringBuilder
    for (i <- 0 until b.length by 4) {
      var v = 0L
      for (k <- 0 until 4) v = (v << 8) | (b(i + k) & 0xffL)
      val chunk = new Array[Char](5)
      for (k <- 4 to 0 by -1) { chunk(k) = alpha((v % 85).toInt); v /= 85 }
      sb.appendAll(chunk)
    }
    sb.toString
  }
}
