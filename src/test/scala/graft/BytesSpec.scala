package graft

import graft.sources.{Bytes, LzmaEncode, Xz}
import graft.sources.Bytes.{Damage, Reader}
import java.io.ByteArrayOutputStream
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The shared byte cursor every reader and writer in `sources/` goes
  * through. Properties run with a fixed seed and a fixed case count,
  * so a failure reproduces exactly.
  */
class BytesSpec extends AnyFunSuite {

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(1000)
    .withInitialSeed(Seed(20261017L))
    .withWorkers(1)

  private def check(p: Prop): Unit = {
    val r = Test.check(params, p)
    assert(r.passed, r.status.toString)
  }

  /** One writer with its reader; `norm` is the value the reader gives
    * back for `v` (fixed widths keep only their low bytes).
    */
  private final case class Codec(name: String,
                                 put: (ByteArrayOutputStream, Long) => Unit,
                                 get: Reader => Long,
                                 norm: Long => Long)

  private val codecs = Seq(
    Codec("uvarint", Bytes.putUvarint, _.uvarint(), identity),
    Codec("zigzag", Bytes.putZigzag, _.zigzag(), identity),
    Codec("le16", (o, v) => Bytes.putLe16(o, v.toInt), _.le16().toLong,
      _ & 0xffffL),
    Codec("le32", (o, v) => Bytes.putLe32(o, v.toInt), _.le32().toLong,
      _.toInt.toLong),
    Codec("le32u", (o, v) => Bytes.putLe32(o, v.toInt), _.le32u(),
      _ & 0xffffffffL),
    Codec("le64", Bytes.putLe64, _.le64(), identity),
    Codec("be16", (o, v) => Bytes.putBe16(o, v.toInt), _.be16().toLong,
      _ & 0xffffL),
    Codec("be32", (o, v) => Bytes.putBe32(o, v.toInt), _.be32().toLong,
      _.toInt.toLong),
    Codec("be32u", (o, v) => Bytes.putBe32(o, v.toInt), _.be32u(),
      _ & 0xffffffffL),
    Codec("be64", Bytes.putBe64, _.be64(), identity))

  private def encode(c: Codec, v: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    c.put(out, v)
    out.toByteArray
  }

  private val edges = Seq(0L, -1L, 1L, Long.MinValue, Long.MaxValue,
    Int.MinValue.toLong, Int.MaxValue.toLong, 0xffffffffL, 127L, 128L,
    -64L, -65L, 0xffffL, 0x10000L)

  private val longs: Gen[Long] =
    Gen.frequency(3 -> Gen.long, 1 -> Gen.oneOf(edges),
      1 -> Gen.chooseNum(-1000L, 1000L))

  private def roundTrips(v: Long): Boolean = codecs.forall { c =>
    val e = encode(c, v)
    val r = new Reader(e, 0, e.length)
    c.get(r) == c.norm(v) && r.remaining == 0
  }

  /** Every strict prefix is Damage — read both from a short array and
    * from a window that ends early inside a longer one.
    */
  private def prefixesDamage(e: Array[Byte], get: Reader => Long): Boolean =
    (0 until e.length).forall { cut =>
      val padded = e ++ Array.fill[Byte](16)(0x80.toByte)
      Seq(new Reader(java.util.Arrays.copyOf(e, cut), 0, cut),
        new Reader(padded, 0, cut)).forall { r =>
        try { get(r); false }
        catch { case _: Damage => true }
      }
    }

  test("zigzag varints match the Avro spec's published examples, both " +
    "directions") {
    // spec table: 0->00, -1->01, 1->02, -2->03, 2->04, -64->7f, 63->7e,
    // 64->80 01, -65->81 01
    val cases = Seq(
      0L -> Seq(0x00), -1L -> Seq(0x01), 1L -> Seq(0x02),
      -2L -> Seq(0x03), 2L -> Seq(0x04), -64L -> Seq(0x7f),
      63L -> Seq(0x7e), 64L -> Seq(0x80, 0x01), -65L -> Seq(0x81, 0x01),
      8192L -> Seq(0x80, 0x80, 0x01))
    cases.foreach { case (n, bytes) =>
      val out = new ByteArrayOutputStream()
      Bytes.putZigzag(out, n)
      assert(out.toByteArray.map(_ & 0xff).toSeq == bytes, s"encode $n")
      val r = new Reader(out.toByteArray, 0, bytes.length)
      assert(r.zigzag() == n && r.pos == bytes.length, s"decode $n")
    }
    // truncated varint (continuation bit set at EOF) -> Damage, not a
    // spin; the prefix property below covers every other cut
    assert(prefixesDamage(Array(0x80.toByte, 0x01.toByte), _.zigzag()))
    intercept[Damage](new Reader(Array(0x80.toByte), 0, 1).zigzag())
  }

  test("every writer round-trips through its reader, edges included") {
    edges.foreach(v => assert(roundTrips(v), s"edge $v"))
    check(Prop.forAll(longs)(roundTrips))
  }

  test("fixed-width static accessors agree with the reader") {
    check(Prop.forAll(longs) { v =>
      val le = encode(codecs.find(_.name == "le64").get, v)
      val be = encode(codecs.find(_.name == "be64").get, v)
      Bytes.le64(le, 0) == v && Bytes.be64(be, 0) == v &&
        Bytes.le32(le, 0) == v.toInt && Bytes.be32(be, 4) == v.toInt &&
        Bytes.le32u(le, 0) == (v & 0xffffffffL) &&
        Bytes.be32u(be, 4) == (v & 0xffffffffL) &&
        Bytes.le16(le, 0) == (v & 0xffff) && Bytes.be16(be, 6) == (v & 0xffff)
    })
  }

  test("every strict prefix of an encoding raises Damage, never an " +
    "index exception") {
    edges.foreach(v => codecs.foreach { c =>
      assert(prefixesDamage(encode(c, v), c.get), s"${c.name} $v")
    })
    check(Prop.forAll(longs) { v =>
      codecs.forall(c => prefixesDamage(encode(c, v), c.get))
    })
  }

  test("arbitrary bytes read as values or Damage, nothing else") {
    val ops: Seq[Reader => Any] = codecs.map(_.get) ++ Seq(
      (r: Reader) => r.u8(), (r: Reader) => r.bytes(r.len(r.zigzag())),
      (r: Reader) => r.utf8(r.len(r.uvarint())),
      (r: Reader) => r.sub(r.len(r.uvarint())).le32())
    val gen = for {
      bytes <- Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      picks <- Gen.listOfN(24, Gen.choose(0, ops.length - 1))
    } yield (bytes.toArray, picks)
    check(Prop.forAll(gen) { case (bytes, picks) =>
      val r = new Reader(bytes, 0, bytes.length)
      try { picks.foreach(i => ops(i)(r)); true }
      catch { case _: Damage => r.pos >= 0 && r.pos <= bytes.length }
    })
  }

  test("a varint runs at most 10 bytes: an 11-byte varint is Damage") {
    val ten = encode(codecs.head, -1L)
    assert(ten.length == 10)
    assert(new Reader(ten, 0, 10).uvarint() == -1L)
    val eleven = Array.fill[Byte](10)(0x80.toByte) :+ 0.toByte
    intercept[Damage](new Reader(eleven, 0, 11).uvarint())
    intercept[Damage](new Reader(eleven, 0, 11).zigzag())
    // a format's own tighter cap (xz: 9 bytes) rejects the 10th byte
    intercept[Damage](new Reader(ten, 0, 10).uvarint(9))
  }

  test("a reader's window is checked when built, and lengths against " +
    "what remains") {
    val b = new Array[Byte](8)
    for ((pos, end) <- Seq((-1, 4), (5, 4), (0, 9)))
      intercept[Damage](new Reader(b, pos, end))
    val r = new Reader(b, 2, 6)
    intercept[Damage](r.len(5))
    intercept[Damage](r.len(-1))
    assert(r.len(4) == 4)
    val s = r.sub(3)
    assert(s.remaining == 3 && r.pos == 5)
    intercept[Damage](s.le32())
    intercept[Damage](r.bytes(2))
    assert(Bytes.total(r.u8()).contains(0) && Bytes.total(r.u8()).isEmpty)
  }

  /** A one-block `.xz` stream whose index spells its record count in
    * exactly `n` bytes (a non-minimal LEB128), CRCs and backward size
    * recomputed so that only the integer's length differs.
    */
  private def xzWithCountBytes(n: Int): Array[Byte] = {
    val b = LzmaEncode.xz("multibyte integer cap".getBytes("UTF-8"))
    val info = Xz.parse(b).getOrElse(fail("encoder output must parse"))
    assert(info.blocks.length == 1)
    val idxStart = b.length - 12 - (Bytes.le32(b, b.length - 8) + 1) * 4
    def crc(x: Array[Byte]): Int = {
      val c = new java.util.zip.CRC32(); c.update(x); c.getValue.toInt
    }
    val idx = new ByteArrayOutputStream()
    idx.write(0x00)
    idx.write(0x81) // count 1, then zero groups until the n-th byte
    (2 until n).foreach(_ => idx.write(0x80))
    idx.write(0x00)
    info.blocks.foreach { bl =>
      Bytes.putUvarint(idx, bl.unpaddedSize)
      Bytes.putUvarint(idx, bl.unpackedLen)
    }
    while (idx.size % 4 != 0) idx.write(0x00)
    val ib = idx.toByteArray
    val tail = new ByteArrayOutputStream()
    Bytes.putLe32(tail, (ib.length + 4) / 4 - 1)
    tail.write(b, 6, 2) // stream flags
    val tb = tail.toByteArray
    val out = new ByteArrayOutputStream()
    out.write(b, 0, idxStart)
    out.write(ib)
    Bytes.putLe32(out, crc(ib))
    Bytes.putLe32(out, crc(tb))
    out.write(tb)
    out.write('Y'); out.write('Z')
    out.toByteArray
  }

  test("Xz.parse refuses an index integer longer than 9 bytes") {
    assert(Xz.parse(xzWithCountBytes(9)).isDefined)
    assert(Xz.parse(xzWithCountBytes(10)).isEmpty)
  }
}
