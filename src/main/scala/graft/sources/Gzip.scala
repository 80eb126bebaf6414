package graft.sources

/** RFC 1952 gzip member framing — the compression layer Common Crawl
  * wraps WARC in. A `.warc.gz` is a CONCATENATION of gzip members, one
  * per WARC record, precisely so consumers can split work on member
  * boundaries without inflating the whole file (the CDX index addresses
  * records as (member offset, member length) pairs). JDK
  * `GZIPInputStream` hides those boundaries; a corpus engine needs them,
  * so this walk parses the framing itself:
  *
  * {{{
  *   1F 8B 08 FLG  MTIME(4) XFL OS          10-byte fixed header
  *   [FEXTRA: XLEN(2) + XLEN bytes]         FLG bit 2
  *   [FNAME:  NUL-terminated bytes]         FLG bit 3
  *   [FCOMMENT: NUL-terminated bytes]       FLG bit 4
  *   [FHCRC:  CRC16(2)]                     FLG bit 1
  *   <raw DEFLATE stream>
  *   CRC32(4) ISIZE(4)                      little-endian trailer
  * }}}
  *
  * The deflate stream has no length field — member K+1's offset is only
  * known after inflating member K (`Inflater.getBytesRead` gives the
  * exact compressed length), which is why the trailer's CRC32/ISIZE are
  * verified here rather than trusted: a mis-stride would desync every
  * later member.
  *
  * Scale posture: one blob (one `.warc.gz` file) per scan task, members
  * exploded with ZERO shuffles — same shape as [[Warc.records]]. A
  * truncated or corrupt member ends the walk but keeps everything before
  * it (crawl files are routinely cut off mid-member), and the failure is
  * observable (`crc_ok=false` on the damaged member) rather than
  * silently dropped.
  */
object Gzip {

  /** One parsed member. `offset`/`member_len` address the member inside
    * the blob (the CDX coordinates); `data` is the inflated payload.
    */
  case class GzipMember(offset: Long, member_len: Long, name: String,
                        uncomp_len: Long, crc_ok: Boolean,
                        data: Array[Byte])

  private val FHCRC = 2
  private val FEXTRA = 4
  private val FNAME = 8
  private val FCOMMENT = 16

  /** Walk every member in one blob. Stops (keeping earlier members) on
    * a malformed header, truncated stream, or inflate error; a member
    * whose trailer CRC32/ISIZE disagree with the inflated bytes is
    * kept with `crc_ok=false` so damage is counted, not vanished.
    */
  def members(b: Array[Byte]): Seq[GzipMember] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[GzipMember]
    var pos = 0
    var ok = true
    while (ok && pos + 10 <= b.length) {
      if ((b(pos) & 0xff) != 0x1f || (b(pos + 1) & 0xff) != 0x8b ||
        (b(pos + 2) & 0xff) != 8) { ok = false }
      else {
        val flg = b(pos + 3) & 0xff
        var p = pos + 10
        var hdrOk = true
        if ((flg & FEXTRA) != 0) {
          // A member truncated inside FEXTRA (XLEN itself, or the XLEN
          // bytes it declares) must END the walk — proceeding at a wrong
          // offset would desync, and reading XLEN past the buffer throws.
          if (p + 2 <= b.length) {
            val skip = 2 + Bytes.le16(b, p)
            if (p + skip <= b.length) p += skip else hdrOk = false
          } else hdrOk = false
        }
        val nameStart = p
        if (hdrOk && (flg & FNAME) != 0) {
          while (p < b.length && b(p) != 0) p += 1
          p += 1 // the NUL
        }
        val nameEnd = p - 1
        val name =
          if (hdrOk && (flg & FNAME) != 0 && nameEnd >= nameStart &&
            nameEnd <= b.length)
            new String(b, nameStart, nameEnd - nameStart, "ISO-8859-1")
          else ""
        if ((flg & FCOMMENT) != 0) {
          while (p < b.length && b(p) != 0) p += 1
          p += 1
        }
        if ((flg & FHCRC) != 0) {
          // RFC 1952 §2.3.1: CRC16 = low 16 bits of CRC-32 over all
          // header bytes so far. VERIFIED, not skipped — a corrupted
          // header with FHCRC set must end the walk here rather than
          // feed garbage offsets to the inflater.
          if (p + 2 > b.length) hdrOk = false
          else {
            val crc = new java.util.zip.CRC32
            crc.update(b, pos, p - pos)
            if (Bytes.le16(b, p) != (crc.getValue & 0xffffL).toInt)
              hdrOk = false
            p += 2
          }
        }
        if (!hdrOk || p >= b.length) ok = false
        else {
          val inf = new java.util.zip.Inflater(true) // nowrap: raw deflate
          try {
            inf.setInput(b, p, b.length - p)
            val chunk = new Array[Byte](8192)
            val data = new java.io.ByteArrayOutputStream(chunk.length)
            var err = false
            while (!err && !inf.finished()) {
              val n =
                try inf.inflate(chunk)
                catch { case _: java.util.zip.DataFormatException => err = true; 0 }
              if (n > 0) data.write(chunk, 0, n)
              // n==0 while unfinished = no forward progress (truncated
              // input or dictionary demand): bail rather than spin
              else if (!err && !inf.finished()) err = true
            }
            if (err) ok = false
            else {
              val inflated = data.toByteArray
              val compLen = inf.getBytesRead.toInt
              val trailerAt = p + compLen
              if (trailerAt + 8 > b.length) ok = false // cut-off trailer
              else {
                val crc = new java.util.zip.CRC32
                crc.update(inflated)
                val crcOk = Bytes.le32u(b, trailerAt) == crc.getValue &&
                  Bytes.le32(b, trailerAt + 4) == inflated.length
                val end = trailerAt + 8
                out += GzipMember(pos.toLong, (end - pos).toLong, name,
                  inflated.length.toLong, crcOk, inflated)
                pos = end
              }
            }
          } finally inf.end()
        }
      }
    }
    out.toSeq
  }

  /** Write one gzip member: minimal fixed header (MTIME=0, XFL=0,
    * OS=255 "unknown" — the deterministic form), optional FNAME, raw
    * deflate at the given level, CRC32+ISIZE trailer. Level is pinned
    * by callers whose oracles precompute compressed sizes with CPython
    * zlib (same canonical zlib as the JVM's — byte-identical output at
    * equal level/strategy, verified before the q190 fixture existed).
    */
  def writeMember(data: Array[Byte], name: Option[String] = None,
                  level: Int = 6): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    out.write(0x1f); out.write(0x8b); out.write(8)
    out.write(if (name.isDefined) FNAME else 0)
    out.write(0); out.write(0); out.write(0); out.write(0) // MTIME
    out.write(0) // XFL
    out.write(0xff) // OS unknown
    name.foreach { n =>
      out.write(n.getBytes("ISO-8859-1")); out.write(0)
    }
    val d = new java.util.zip.Deflater(level, true)
    try {
      d.setInput(data); d.finish()
      val chunk = new Array[Byte](8192)
      while (!d.finished()) {
        val n = d.deflate(chunk)
        out.write(chunk, 0, n)
      }
    } finally d.end()
    val crc = new java.util.zip.CRC32
    crc.update(data)
    Bytes.putLe32(out, crc.getValue.toInt)
    Bytes.putLe32(out, data.length) // ISIZE
    out.toByteArray
  }

  /** [[writeMember]] with the ENGINE-OWNED deflate encoder
    * ([[Deflate.compressFixed]] — LZ77 + fixed-Huffman from first
    * principles) instead of `java.util.zip.Deflater`: same
    * deterministic header (MTIME=0, XFL=0, OS=255) and CRC32+ISIZE
    * trailer, zero foreign code in the compressed body. Kept separate
    * so callers whose oracles pinned zlib-level-6 sizes are
    * unaffected.
    */
  def writeMemberOwn(data: Array[Byte],
                     name: Option[String] = None): Array[Byte] =
    writeMemberOwnBody(Deflate.compressFixed(data), data, name)

  /** [[writeMemberOwn]] with best-of entropy coding
    * ([[Deflate.compress]] — the dynamic-Huffman block when it wins,
    * q333): the production gzip write path. Kept as a separate entry
    * point because q312's oracle md5-pins the fixed-block member
    * bytes as the from-first-principles baseline.
    */
  def writeMemberOwnBest(data: Array[Byte],
                         name: Option[String] = None): Array[Byte] =
    writeMemberOwnBody(Deflate.compress(data), data, name)

  private def writeMemberOwnBody(body: Array[Byte], data: Array[Byte],
                                 name: Option[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length + 64)
    out.write(0x1f); out.write(0x8b); out.write(8)
    out.write(if (name.isDefined) FNAME else 0)
    out.write(0); out.write(0); out.write(0); out.write(0) // MTIME
    out.write(0) // XFL
    out.write(0xff) // OS unknown
    name.foreach { n =>
      out.write(n.getBytes("ISO-8859-1")); out.write(0)
    }
    out.write(body, 0, body.length)
    val crc = new java.util.zip.CRC32
    crc.update(data)
    Bytes.putLe32(out, crc.getValue.toInt)
    Bytes.putLe32(out, data.length) // ISIZE
    out.toByteArray
  }
}
