package graft.sources

/** XZ container walk (tukaani.org/xz/xz-file-format.txt — the public
  * spec): stream header (magic + flags + CRC32-of-flags), blocks
  * (CRC32-verified block headers naming the filter chain, LZMA2
  * payloads walked chunk by chunk — the framing is self-delimiting —
  * then padding and the declared check), the INDEX (one record per
  * block whose unpadded/uncompressed sizes must match the walked
  * truth), and the stream footer (CRC32-verified backward size that
  * must point back at the index, flags equal to the header's, "YZ").
  *
  * This is the q243 posture on the other archive codec: the census
  * must be derivable from the container alone — the index IS how a
  * reader seeks into a multi-gigabyte .xz without decompressing it —
  * and every structural claim is cross-checked against the walked
  * blocks, CRCs included. Payload DECODE (the LZMA range coder) is
  * [[Lzma2]]'s job; this walk only frames it.
  *
  * Totality law: any malformation — bad magic, reserved flag bits, a
  * header CRC mismatch, a chunk past its block, index records
  * disagreeing with the walk, a footer pointing elsewhere — is None.
  */
object Xz {
  import Bytes.{Damage, Reader}

  final case class BlockInfo(headerSize: Int, filterId: Long,
                             dataStart: Int, packedLen: Long,
                             unpackedLen: Long, unpaddedSize: Long,
                             /** LZMA2 chunk starts+controls, for the
                               * decoder. */
                             chunks: Seq[(Int, Int)])
  final case class XzInfo(checkType: Int, blocks: Seq[BlockInfo],
                          indexUncompressed: Long)

  /** Check-type names per the spec's table (0 none, 1 CRC32,
    * 4 CRC64, 10 SHA-256).
    */
  def checkName(t: Int): String = t match {
    case 0 => "none"
    case 1 => "crc32"
    case 4 => "crc64"
    case 10 => "sha256"
    case _ => s"reserved-$t"
  }

  private def checkLen(t: Int): Int = t match {
    case 0 => 0
    case 1 => 4
    case 4 => 8
    case 10 => 32
    case _ => -1
  }

  private def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, off, len)
    c.getValue
  }

  /** Single-stream parse: the whole byte object must be exactly one
    * stream.
    */
  def parse(b: Array[Byte]): Option[XzInfo] =
    parseStream(b, 0).collect { case (info, end) if end == b.length =>
      info }

  /** CONCATENATED streams (`cat a.xz b.xz` is a valid .xz): streams
    * separated by optional 4-byte-aligned zero padding, each walked
    * with the full single-stream discipline. None on anything left
    * over.
    */
  def parseAll(b: Array[Byte]): Option[Seq[XzInfo]] = {
    val out = Seq.newBuilder[XzInfo]
    var p = 0
    var n = 0
    while (p < b.length) {
      // stream padding: zeros in multiples of 4
      if (b(p) == 0) {
        val start = p
        while (p < b.length && b(p) == 0) p += 1
        if ((p - start) % 4 != 0) return None
        // stream padding is only legal AFTER a stream: all-zero input
        // must not parse as a valid .xz with zero streams
        if (p >= b.length)
          return if (n == 0) None else Some(out.result())
      }
      parseStream(b, p) match {
        case Some((info, end)) => out += info; p = end; n += 1
        case None => return None
      }
      if (n > (1 << 16)) return None
    }
    val r = out.result()
    if (r.isEmpty) None else Some(r)
  }

  /** xz multibyte integers are LEB128 capped at 9 bytes (63 bits). */
  private val NumBytes = 9

  private def parseStream(b: Array[Byte],
                          start: Int): Option[(XzInfo, Int)] = {
    if (b.length - start < 32) return None
    val r = new Reader(b, start, b.length)
    def crcOk(from: Int): Boolean =
      (r.le32() & 0xffffffffL) == crc32(b, from, r.pos - 4 - from)
    try {
      // ---- stream header -------------------------------------------
      if (r.u8() != 0xfd || r.u8() != '7' || r.u8() != 'z' ||
        r.u8() != 'X' || r.u8() != 'Z' || r.u8() != 0x00) return None
      val flagsOff = r.pos
      val f0 = r.u8(); val f1 = r.u8()
      if (f0 != 0 || (f1 & 0xf0) != 0) return None // reserved bits
      val check = f1 & 0x0f
      val cl = checkLen(check)
      if (cl < 0) return None
      if ((r.le32() & 0xffffffffL) != crc32(b, flagsOff, 2)) return None
      // ---- blocks ---------------------------------------------------
      val blocks = Seq.newBuilder[BlockInfo]
      var nBlocks = 0
      while (r.remaining > 0 && b(r.pos) != 0x00) {
        val hdrStart = r.pos
        val realHeader = (r.u8() + 1) * 4
        if (realHeader + 4 > b.length - hdrStart) return None
        val hdr = new Reader(b, r.pos, hdrStart + realHeader - 4)
        val bf = hdr.u8()
        val nFilters = (bf & 3) + 1
        if ((bf & 0x3c) != 0) return None // reserved
        val hasComp = (bf & 0x40) != 0
        val hasUncomp = (bf & 0x80) != 0
        val declComp = if (hasComp) hdr.uvarint(NumBytes) else -1L
        val declUncomp = if (hasUncomp) hdr.uvarint(NumBytes) else -1L
        var filterId = -1L
        var i = 0
        while (i < nFilters) {
          val id = hdr.uvarint(NumBytes)
          hdr.skip(hdr.len(hdr.uvarint(NumBytes)))
          if (i == nFilters - 1) filterId = id // last = innermost
          i += 1
        }
        // padding to the declared size must be zeros
        while (hdr.remaining > 0) if (hdr.u8() != 0) return None
        r.pos = hdr.end
        if (!crcOk(hdrStart)) return None
        if (filterId != 0x21) return None // LZMA2 only (this corpus)
        // ---- LZMA2 chunk walk (self-delimiting framing) ------------
        val dataStart = r.pos
        val chunks = Seq.newBuilder[(Int, Int)]
        var unpacked = 0L
        var done = false
        while (!done) {
          val at = r.pos
          val c = r.u8()
          if (c == 0x00) done = true
          else if (c == 0x01 || c == 0x02) {
            // uncompressed chunk: BE16 size-1, raw bytes
            val sz = r.be16() + 1
            chunks += ((at, c))
            r.skip(sz)
            unpacked += sz
          } else if ((c & 0x80) != 0) {
            val usz = ((c & 0x1f).toLong << 16 | r.be16()) + 1
            val csz = r.be16() + 1
            if (((c >> 5) & 3) >= 2) r.skip(1) // new props byte
            chunks += ((at, c))
            r.skip(csz)
            unpacked += usz
          } else return None
        }
        val compLen = (r.pos - dataStart).toLong
        if (hasComp && declComp != compLen) return None
        if (hasUncomp && declUncomp != unpacked) return None
        // block padding to a 4-byte boundary, zeros
        while (r.pos % 4 != 0) if (r.u8() != 0) return None
        // the check (over UNCOMPRESSED data — verified by the decoder)
        r.skip(cl)
        val unpadded = realHeader.toLong + compLen + cl
        blocks += BlockInfo(realHeader, filterId, dataStart, compLen,
          unpacked, unpadded, chunks.result())
        nBlocks += 1
        if (nBlocks > (1 << 20)) return None
      }
      // ---- index ----------------------------------------------------
      val idxStart = r.pos
      if (r.u8() != 0x00) return None
      val cnt = r.uvarint(NumBytes)
      val walked = blocks.result()
      if (cnt != walked.length.toLong) return None
      var idxUncomp = 0L
      walked.foreach { blk =>
        val unp = r.uvarint(NumBytes)
        val unc = r.uvarint(NumBytes)
        if (unp != blk.unpaddedSize || unc != blk.unpackedLen)
          return None
        idxUncomp += unc
      }
      while ((r.pos - idxStart) % 4 != 0) if (r.u8() != 0) return None
      if (!crcOk(idxStart)) return None
      val idxRealSize = r.pos - idxStart
      // ---- footer ---------------------------------------------------
      val footStart = r.pos
      val footCrc = r.le32() & 0xffffffffL
      if (r.remaining < 8 || footCrc != crc32(b, r.pos, 6)) return None
      val backward = ((r.le32() & 0xffffffffL) + 1) * 4
      if (backward != idxRealSize.toLong) return None
      if (r.u8() != 0x00 || r.u8() != check) return None
      if (r.u8() != 'Y' || r.u8() != 'Z') return None
      Some((XzInfo(check, walked, idxUncomp), footStart + 12))
    } catch { case _: Damage => None }
  }
}
