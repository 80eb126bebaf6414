package graft.sources

/** Raw snappy block-format decompressor, from the public format
  * description (google/snappy `format_description.txt`): a little-endian
  * varint preamble carrying the uncompressed length, then a tag stream —
  * literals (tag & 3 == 0, 6-bit length or 1–4 trailing LE length
  * bytes) and back-references at three offset widths (tag & 3 == 1:
  * 11-bit offset + 4..11 length; == 2: 16-bit LE offset; == 3: 32-bit
  * LE offset). Copies may overlap their own output (offset < length
  * repeats a pattern), which is why the copy loop is byte-at-a-time.
  *
  * Why the engine owns this: snappy is the DEFAULT parquet codec of
  * both pyarrow and Spark, so a lake audit that decodes pages from raw
  * bytes (sources/Parquet.scala) meets it in the first file it opens.
  * Nothing here links against snappy-java — SnappySpec pins this
  * decoder AGAINST snappy-java as the independent writer, both on
  * round-trips and on the q240 fixture chunks.
  *
  * Totality law (the house posture): any malformation — preamble
  * disagreeing with the expected length, a tag running past the input,
  * an offset before the start of output, output over- or under-run —
  * yields None, never a throw and never partial garbage.
  */
object Snappy {

  /** The preamble: the uncompressed length as a uvarint32, at most
    * 5 bytes.
    */
  private def preamble(r: Bytes.Reader): Option[Long] =
    Bytes.total(r.uvarint(5))

  /** Decompress `b[off, off+len)` to EXACTLY `want` bytes. */
  def uncompress(b: Array[Byte], off: Int, len: Int,
                 want: Int): Option[Array[Byte]] = {
    if (off < 0 || len < 0 || want < 0 || off + len > b.length ||
      off + len < 0) return None
    val end = off + len
    val r = new Bytes.Reader(b, off, end)
    if (preamble(r) != Some(want.toLong)) return None
    var p = r.pos

    val out = new Array[Byte](want)
    var o = 0
    while (p < end) {
      val tag = b(p) & 0xff; p += 1
      (tag & 3) match {
        case 0 => // literal
          var n = (tag >> 2) + 1
          if (n > 60) {
            val extra = n - 60 // 1..4 trailing LE length bytes
            if (p + extra > end) return None
            var v = 0L
            var i = 0
            while (i < extra) { v |= (b(p + i) & 0xffL) << (8 * i); i += 1 }
            p += extra
            if (v > Int.MaxValue - 1) return None
            n = v.toInt + 1
          }
          // Long comparisons: a 4-byte length can put n near
          // Int.MaxValue, where `p + n` wraps negative and a forged
          // ~12-byte page would slip past an Int bounds check
          if (p.toLong + n > end || o.toLong + n > want) return None
          System.arraycopy(b, p, out, o, n)
          p += n; o += n
        case c =>
          var n = 0; var offset = 0
          if (c == 1) {
            if (p >= end) return None
            n = ((tag >> 2) & 0x7) + 4
            offset = ((tag >> 5) << 8) | (b(p) & 0xff); p += 1
          } else if (c == 2) {
            if (p + 2 > end) return None
            n = (tag >> 2) + 1
            offset = (b(p) & 0xff) | (b(p + 1) & 0xff) << 8; p += 2
          } else {
            if (p + 4 > end) return None
            n = (tag >> 2) + 1
            val v = (b(p) & 0xffL) | (b(p + 1) & 0xffL) << 8 |
              (b(p + 2) & 0xffL) << 16 | (b(p + 3) & 0xffL) << 24
            p += 4
            if (v > Int.MaxValue) return None
            offset = v.toInt
          }
          if (offset <= 0 || offset > o || o + n > want) return None
          // overlap-safe: a copy may read bytes it just wrote
          var i = 0
          while (i < n) { out(o + i) = out(o + i - offset); i += 1 }
          o += n
      }
    }
    if (o == want) Some(out) else None
  }

  /** Whole-array convenience form. */
  def uncompress(b: Array[Byte], want: Int): Option[Array[Byte]] =
    uncompress(b, 0, b.length, want)

  /** Emit a VALID snappy stream storing `b` as one literal run:
    * uvarint preamble + (for non-empty input) a literal tag —
    * ≤60 bytes inline in the tag, else the 4-byte LE length form —
    * then the bytes verbatim. Deterministic by construction (the Avro
    * snappy-codec writer needs byte-reproducible output for the
    * size-oracle law); any spec-conforming snappy decoder, including
    * [[uncompress]], reads it back.
    */
  /** REAL snappy compression (format_description.txt): greedy LZ77
    * over a 4-byte hash table, literals + two-byte-offset copies.
    * Deterministic; every output is a valid snappy stream that any
    * conforming decoder (snappy-java pinned in SnappySpec, plus
    * [[uncompress]] above) restores exactly. Long matches chunk into
    * <= 64-byte copies with the 68/64 split so no chunk falls under
    * the 4-byte copy minimum.
    */
  def compress(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(in.length / 2 + 32)
    // preamble: uncompressed length, unsigned varint
    Bytes.putUvarint(out, in.length)
    def emitLiteral(from: Int, until: Int): Unit = {
      var p = from
      while (p < until) {
        val len = math.min(until - p, 0x10000)
        val n = len - 1
        if (n < 60) out.write(n << 2)
        else if (n < 0x100) { out.write(60 << 2); out.write(n) }
        else {
          out.write(61 << 2)
          Bytes.putLe16(out, n)
        }
        out.write(in, p, len)
        p += len
      }
    }
    def emitCopy2(off: Int, len: Int): Unit = {
      out.write(((len - 1) << 2) | 2)
      Bytes.putLe16(out, off)
    }
    def read32(i: Int): Int =
      ((in(i) & 0xff)) | ((in(i + 1) & 0xff) << 8) |
        ((in(i + 2) & 0xff) << 16) | ((in(i + 3) & 0xff) << 24)
    if (in.length < 4) { emitLiteral(0, in.length); return out.toByteArray }
    val bits = 14
    val table = new Array[Int](1 << bits)
    java.util.Arrays.fill(table, -1)
    def hash(v: Int): Int = ((v * 0x1e35a7bd) >>> (32 - bits))
    var i = 0
    var litStart = 0
    val limit = in.length - 4
    while (i <= limit) {
      val v = read32(i)
      val h = hash(v)
      val cand = table(h)
      table(h) = i
      if (cand >= 0 && i - cand <= 0xffff && read32(cand) == v) {
        emitLiteral(litStart, i)
        val off = i - cand
        var m = 4
        while (i + m < in.length && in(cand + m) == in(i + m)) m += 1
        var rest = m
        while (rest >= 68) { emitCopy2(off, 64); rest -= 64 }
        if (rest > 64) { emitCopy2(off, 60); rest -= 60 }
        emitCopy2(off, rest)
        i += m
        litStart = i
      } else i += 1
    }
    emitLiteral(litStart, in.length)
    out.toByteArray
  }

  def compressStored(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length + 8)
    Bytes.putUvarint(out, b.length)
    if (b.length > 0) {
      if (b.length <= 60) out.write((b.length - 1) << 2)
      else {
        out.write(0xfc) // literal, 4 trailing LE length bytes
        val n = b.length - 1
        Bytes.putLe32(out, n)
      }
      out.write(b, 0, b.length)
    }
    out.toByteArray
  }

  /** Uncompress trusting the block's OWN preamble for the output
    * size, bounded by `cap` — ORC's chunk framing carries no
    * uncompressed length, only the codec's. A preamble past the cap
    * is the adversarial-allocation case and refuses.
    */
  def uncompressSelf(b: Array[Byte], off: Int, len: Int,
                     cap: Int): Option[Array[Byte]] = {
    if (off < 0 || len < 0 || cap < 0 || off.toLong + len > b.length)
      return None
    val declared = preamble(new Bytes.Reader(b, off, off + len))
      .getOrElse(return None)
    if (declared > cap) return None
    uncompress(b, off, len, declared.toInt)
  }
}
