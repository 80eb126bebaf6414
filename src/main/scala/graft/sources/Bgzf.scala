package graft.sources

/** BGZF — blocked gzip with random access (the SAM/BAM specification
  * §4.1, the htslib format genomics runs on, and the same trick a
  * 100 TB text pipeline wants from any gzip corpus): every block is
  * a COMPLETE gzip member whose FEXTRA carries the 'BC' subfield
  * with BSIZE = total block size - 1, so a reader STRIDES the file
  * member by member without inflating a byte, and a VIRTUAL OFFSET
  * `(coffset << 16) | uoffset` addresses any uncompressed byte with
  * one block decode. The file ends with the spec's fixed 28-byte
  * empty block (the EOF marker that distinguishes a complete file
  * from a truncated one).
  *
  * Both directions engine-owned: members through the own DEFLATE
  * encoder (q333's best-of), the walk through the FEXTRA framing the
  * gzip reader already speaks. Plain `gzip -d` / GZIPInputStream
  * decode the same bytes — BGZF is valid multi-member gzip.
  *
  * Totality: wrong magics, a missing BC subfield, sizes that do not
  * tile, a missing EOF marker, truncation — all None.
  */
object Bgzf {

  /** The spec's fixed empty-block EOF marker. */
  val EofMarker: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff,
    0x06, 0x00, 0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00).map(_.toByte)

  /** One data block: gzip member with the BC/BSIZE FEXTRA. The
    * member total must fit BSIZE's 16 bits — the caller's block
    * split guarantees it (fixed-Huffman worst case is 9/8·n).
    */
  def writeBlock(data: Array[Byte]): Array[Byte] = {
    val body = Deflate.compress(data)
    val total = 12 + 6 + body.length + 8
    require(total <= 65536, s"block too large: $total")
    val out = new java.io.ByteArrayOutputStream(total)
    out.write(0x1f); out.write(0x8b); out.write(8)
    out.write(4) // FLG = FEXTRA
    out.write(0); out.write(0); out.write(0); out.write(0) // MTIME
    out.write(0) // XFL
    out.write(0xff) // OS unknown
    out.write(6); out.write(0) // XLEN = 6
    out.write('B'); out.write('C')
    out.write(2); out.write(0) // SLEN = 2
    val bsize = total - 1
    Bytes.putLe16(out, bsize)
    out.write(body, 0, body.length)
    val crc = new java.util.zip.CRC32
    crc.update(data)
    val v = crc.getValue
    Bytes.putLe32(out, v.toInt)
    val sz = data.length.toLong
    Bytes.putLe32(out, sz.toInt)
    out.toByteArray
  }

  /** Whole-corpus write: fixed-size input blocks + the EOF marker. */
  def write(data: Array[Byte], blockSize: Int = 57000): Array[Byte] = {
    require(blockSize >= 1 && blockSize <= 58000, s"block $blockSize")
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    while (p < data.length) {
      val len = math.min(blockSize, data.length - p)
      val b = writeBlock(java.util.Arrays.copyOfRange(data, p, p + len))
      out.write(b, 0, b.length)
      p += len
    }
    out.write(EofMarker, 0, EofMarker.length)
    out.toByteArray
  }

  final case class Block(coffset: Long, bsize: Int, isize: Long)

  /** Stride the file WITHOUT inflating: parse each member's fixed
    * header + FEXTRA, find the BC subfield, jump BSIZE+1. The final
    * member must be the EOF marker (excluded from the returned
    * blocks). None on any malformation.
    */
  def blocks(b: Array[Byte]): Option[Seq[Block]] = {
    val out = Seq.newBuilder[Block]
    var p = 0
    var sawEof = false
    while (p < b.length) {
      if (p + 18 > b.length) return None
      if ((b(p) & 0xff) != 0x1f || (b(p + 1) & 0xff) != 0x8b ||
        (b(p + 2) & 0xff) != 8 || ((b(p + 3) & 0xff) & 4) == 0)
        return None
      val xlen = (b(p + 10) & 0xff) | ((b(p + 11) & 0xff) << 8)
      if (p + 12 + xlen > b.length) return None
      // scan the extra subfields for 'BC'
      var q = p + 12
      val xend = p + 12 + xlen
      var bsize = -1
      while (q + 4 <= xend) {
        val si1 = b(q) & 0xff; val si2 = b(q + 1) & 0xff
        val slen = (b(q + 2) & 0xff) | ((b(q + 3) & 0xff) << 8)
        if (q + 4 + slen > xend) return None
        if (si1 == 'B' && si2 == 'C') {
          if (slen != 2) return None
          bsize = (b(q + 4) & 0xff) | ((b(q + 5) & 0xff) << 8)
        }
        q += 4 + slen
      }
      if (q != xend || bsize < 0) return None
      val total = bsize + 1
      if (p + total > b.length || total < 26) return None
      val e = p + total
      val isize = (b(e - 4) & 0xffL) | (b(e - 3) & 0xffL) << 8 |
        (b(e - 2) & 0xffL) << 16 | (b(e - 1) & 0xffL) << 24
      if (isize == 0L) {
        // candidate EOF marker: must be LAST and byte-exact
        if (e != b.length || total != EofMarker.length) return None
        var k = 0
        while (k < EofMarker.length) {
          if (b(p + k) != EofMarker(k)) return None
          k += 1
        }
        sawEof = true
      } else out += Block(p.toLong, total, isize)
      p = e
    }
    if (sawEof) Some(out.result()) else None
  }

  /** Decode ONE block (the random-access unit): its member alone
    * through the engine's own gzip/inflate path, CRC verified,
    * length matching the member's ISIZE claim.
    */
  def blockData(b: Array[Byte], blk: Block): Option[Array[Byte]] = {
    if (blk.coffset < 0 ||
      blk.coffset + blk.bsize > b.length) return None
    val slice = java.util.Arrays.copyOfRange(b, blk.coffset.toInt,
      blk.coffset.toInt + blk.bsize)
    Gzip.members(slice) match {
      case Seq(m) if m.crc_ok && m.uncomp_len == blk.isize &&
        m.data.length.toLong == blk.isize => Some(m.data)
      case _ => None
    }
  }

  /** Fetch `length` uncompressed bytes at a VIRTUAL OFFSET
    * `(coffset << 16) | uoffset` — decode the addressed block, read
    * from `uoffset`, continue into following blocks as needed.
    */
  def virtualFetch(b: Array[Byte], voffset: Long,
                   length: Int): Option[Array[Byte]] = {
    if (length < 0 || length > (1 << 26)) return None
    blocks(b).flatMap { bs =>
      val coffset = voffset >>> 16
      val uoffset = (voffset & 0xffff).toInt
      val start = bs.indexWhere(_.coffset == coffset)
      if (start < 0) return None
      val out = new java.io.ByteArrayOutputStream(length)
      var need = length
      var skip = uoffset
      var i = start
      while (need > 0) {
        if (i >= bs.length) return None
        blockData(b, bs(i)) match {
          case Some(d) =>
            if (skip > d.length) return None
            val take = math.min(d.length - skip, need)
            out.write(d, skip, take)
            need -= take
            skip = 0
            i += 1
          case None => return None
        }
      }
      Some(out.toByteArray)
    }
  }
}
