package graft.sources

import java.io.ByteArrayOutputStream

/** The one byte cursor every format reader and writer in `sources/`
  * goes through: little/big-endian fixed widths, LEB128 varints and
  * their zigzag form, on both the read and the write side.
  *
  * Failure posture: a read past the cursor's end, an over-long varint
  * or a forged length raises [[Bytes.Damage]] — one stackless
  * exception, never an index exception. Each format's public entry
  * point catches it (usually through [[Bytes.total]]) into that
  * format's own fail-closed result (None, Nil, a flagged record).
  * Format limits (string caps, list caps, xz's 9-byte integers) stay
  * in the format's own file.
  */
object Bytes {

  /** Malformed input. Stackless: decoders throw it from deep inside
    * recursive walks, and a stack trace per damaged blob is pure cost.
    */
  final class Damage extends RuntimeException(null, null, false, false)

  def damage(): Nothing = throw new Damage

  /** Run `f`, turning a [[Damage]] throw into None. */
  def total[A](f: => A): Option[A] =
    try Some(f) catch { case _: Damage => None }

  /** Bounds-checked cursor over `b[pos, end)`. The window is checked
    * once when built (`0 <= pos <= end <= b.length`); every read then
    * checks that it fits before `end`.
    */
  final class Reader(val b: Array[Byte], var pos: Int, val end: Int) {
    if (pos < 0 || pos > end || end > b.length) damage()

    def remaining: Int = end - pos

    /** Move to absolute offset `i`; the next read checks it. */
    def at(i: Int): Reader = { pos = i; this }

    /** Position `n` bytes on, after checking they are all inside. */
    private def take(n: Int): Int = {
      if (n < 0 || pos < 0 || pos > end - n) damage()
      val p = pos; pos += n; p
    }

    def u8(): Int = b(take(1)) & 0xff
    def le16(): Int = Bytes.le16(b, take(2))
    def le32(): Int = Bytes.le32(b, take(4))
    def le32u(): Long = Bytes.le32u(b, take(4))
    def le64(): Long = Bytes.le64(b, take(8))
    def be16(): Int = Bytes.be16(b, take(2))
    def be32(): Int = Bytes.be32(b, take(4))
    def be32u(): Long = Bytes.be32u(b, take(4))
    def be64(): Long = Bytes.be64(b, take(8))

    /** Unsigned LEB128 of at most `maxBytes` bytes (10 covers a full
      * 64-bit value; bits past the 64th are dropped).
      */
    def uvarint(maxBytes: Int = 10): Long = {
      var v = 0L
      var shift = 0
      var i = 0
      while (i < maxBytes) {
        val x = u8()
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
        i += 1
      }
      damage()
    }

    def zigzag(): Long = unzigzag(uvarint())

    /** A decoded length or count as an Int, checked to lie within
      * `0..remaining` so it can size a following read.
      */
    def len(n: Long): Int = {
      if (n < 0 || n > remaining) damage()
      n.toInt
    }

    def skip(n: Int): Unit = take(n)

    def bytes(n: Int): Array[Byte] = {
      val p = take(n)
      java.util.Arrays.copyOfRange(b, p, p + n)
    }

    def utf8(n: Int): String =
      new String(b, take(n), n, java.nio.charset.StandardCharsets.UTF_8)

    /** A reader over the next `n` bytes; this one moves past them. */
    def sub(n: Int): Reader = { val p = take(n); new Reader(b, p, p + n) }
  }

  def unzigzag(z: Long): Long = (z >>> 1) ^ -(z & 1L)

  // ---- unchecked accessors for hot loops: the caller has already
  // checked that the bytes are there ---------------------------------

  def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | (b(i + 1) & 0xff) << 8
  def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | (b(i + 1) & 0xff) << 8 |
      (b(i + 2) & 0xff) << 16 | (b(i + 3) & 0xff) << 24
  def le32u(b: Array[Byte], i: Int): Long = le32(b, i) & 0xffffffffL
  def le64(b: Array[Byte], i: Int): Long =
    (le32(b, i) & 0xffffffffL) | le32(b, i + 4).toLong << 32
  def be16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) << 8 | (b(i + 1) & 0xff)
  def be32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) << 24 | (b(i + 1) & 0xff) << 16 |
      (b(i + 2) & 0xff) << 8 | (b(i + 3) & 0xff)
  def be32u(b: Array[Byte], i: Int): Long = be32(b, i) & 0xffffffffL
  def be64(b: Array[Byte], i: Int): Long =
    be32(b, i).toLong << 32 | (be32(b, i + 4) & 0xffffffffL)

  // ---- writers -------------------------------------------------------

  def putUvarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  def putZigzag(out: ByteArrayOutputStream, v: Long): Unit =
    putUvarint(out, (v << 1) ^ (v >> 63))

  def putLe16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
  }
  def putLe32(out: ByteArrayOutputStream, v: Int): Unit = {
    putLe16(out, v); putLe16(out, v >>> 16)
  }
  def putLe64(out: ByteArrayOutputStream, v: Long): Unit = {
    putLe32(out, v.toInt); putLe32(out, (v >>> 32).toInt)
  }
  def putBe16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >>> 8) & 0xff); out.write(v & 0xff)
  }
  def putBe32(out: ByteArrayOutputStream, v: Int): Unit = {
    putBe16(out, v >>> 16); putBe16(out, v)
  }
  def putBe64(out: ByteArrayOutputStream, v: Long): Unit = {
    putBe32(out, (v >>> 32).toInt); putBe32(out, v.toInt)
  }

  /** `v` as 4 little-endian bytes (a parquet or Iceberg bound). */
  def toLe32(v: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(4); putLe32(out, v); out.toByteArray
  }
  /** `v` as 8 little-endian bytes. */
  def toLe64(v: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream(8); putLe64(out, v); out.toByteArray
  }
}
