package graft.sources

/** XXH32 from the public xxHash specification (the LZ4 frame
  * format's checksum — header HC, optional per-block and content
  * checksums all use it with seed 0). Lz4Spec pins it against
  * lz4-java's independent implementation across lengths and seeds.
  */
object XxHash32 {
  private val P1 = 0x9e3779b1
  private val P2 = 0x85ebca77
  private val P3 = 0xc2b2ae3d
  private val P4 = 0x27d4eb2f
  private val P5 = 0x165667b1

  def hash(b: Array[Byte], off: Int, len: Int, seed: Int): Int = {
    def rotl(x: Int, r: Int): Int = (x << r) | (x >>> (32 - r))
    val end = off + len
    var p = off
    var h =
      if (len >= 16) {
        var a1 = seed + P1 + P2
        var a2 = seed + P2
        var a3 = seed
        var a4 = seed - P1
        while (p + 16 <= end) {
          a1 = rotl(a1 + Bytes.le32(b, p) * P2, 13) * P1
          a2 = rotl(a2 + Bytes.le32(b, p + 4) * P2, 13) * P1
          a3 = rotl(a3 + Bytes.le32(b, p + 8) * P2, 13) * P1
          a4 = rotl(a4 + Bytes.le32(b, p + 12) * P2, 13) * P1
          p += 16
        }
        rotl(a1, 1) + rotl(a2, 7) + rotl(a3, 12) + rotl(a4, 18)
      } else seed + P5
    h += len
    while (p + 4 <= end) {
      h = rotl(h + Bytes.le32(b, p) * P3, 17) * P4
      p += 4
    }
    while (p < end) {
      h = rotl(h + (b(p) & 0xff) * P5, 11) * P1
      p += 1
    }
    h ^= h >>> 15
    h *= P2
    h ^= h >>> 13
    h *= P3
    h ^= h >>> 16
    h
  }

  def hash(b: Array[Byte], seed: Int): Int = hash(b, 0, b.length, seed)
}

/** The standalone LZ4 FRAME format (lz4_Frame_format.md — the
  * `.lz4` container the lz4 CLI and lz4-java's frame streams write;
  * the last wild compression container the engine could not read):
  *
  *   magic LE32 0x184D2204
  *   FLG    — version 01 (bits 7-6), B.Indep (5), B.Checksum (4),
  *            C.Size (3), C.Checksum (2), reserved 0 (1), DictID (0)
  *   BD     — block max size code 4..7 (64 KB / 256 KB / 1 MB /
  *            4 MB) in bits 6-4, all other bits reserved 0
  *   [content size LE64 when C.Size]
  *   HC     — (XXH32(descriptor bytes, 0) >> 8) & 0xFF
  *   blocks — LE32 size (high bit set = stored UNcompressed),
  *            data, [XXH32 of the stored bytes when B.Checksum]
  *   LE32 0 — EndMark
  *   [XXH32 of the decoded content when C.Checksum]
  *
  * Block-LINKED frames (B.Indep = 0, the CLI's default) let a
  * block's matches reach up to 64 KB back into PREVIOUS blocks'
  * decoded output — the decoder keeps the window across block
  * boundaries. Skippable frames (magic 0x184D2A50..5F) and frame
  * concatenation decode as the CLI does: skipped / concatenated.
  *
  * Totality law: bad magic, wrong version, reserved bits set, a
  * dictID (unsupported), a header-checksum or block-checksum or
  * content-checksum mismatch, an oversized block, a content-size
  * lie, or truncation anywhere — None, never a throw and never
  * partial output. Lz4Spec cross-pins BOTH directions against
  * lz4-java's frame streams and the lz4 CLI (linked and
  * independent, multi-block, content-size on and off).
  */
object Lz4Frame {

  val Magic = 0x184d2204
  private val SkippableMin = 0x184d2a50
  private val SkippableMax = 0x184d2a5f

  private def blockMax(code: Int): Int = 1 << (8 + 2 * code)

  /** Write one frame (always block-INDEPENDENT — each block is a
    * standalone [[Lz4Encode.compressBlock]]; a block that does not
    * shrink is stored uncompressed, per the spec).
    */
  def write(data: Array[Byte], blockMaxCode: Int = 4,
            blockChecksum: Boolean = false,
            contentSize: Boolean = true,
            contentChecksum: Boolean = true): Array[Byte] = {
    require(blockMaxCode >= 4 && blockMaxCode <= 7)
    val bMax = blockMax(blockMaxCode)
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    Bytes.putLe32(out, Magic)
    val flg = 0x40 | 0x20 | (if (blockChecksum) 0x10 else 0) |
      (if (contentSize) 0x08 else 0) |
      (if (contentChecksum) 0x04 else 0)
    val desc = new java.io.ByteArrayOutputStream()
    desc.write(flg)
    desc.write(blockMaxCode << 4)
    if (contentSize) {
      var v = data.length.toLong
      var i = 0
      while (i < 8) { desc.write((v & 0xff).toInt); v >>>= 8; i += 1 }
    }
    val db = desc.toByteArray
    out.write(db, 0, db.length)
    out.write((XxHash32.hash(db, 0) >>> 8) & 0xff)
    var p = 0
    while (p < data.length) {
      val n = math.min(bMax, data.length - p)
      val chunk = java.util.Arrays.copyOfRange(data, p, p + n)
      val c = Lz4Encode.compressBlock(chunk)
      val (stored, sizeField) =
        if (c.length < n) (c, c.length)
        else (chunk, n | 0x80000000)
      Bytes.putLe32(out, sizeField)
      out.write(stored, 0, stored.length)
      if (blockChecksum) Bytes.putLe32(out, XxHash32.hash(stored, 0))
      p += n
    }
    Bytes.putLe32(out, 0) // EndMark
    if (contentChecksum) Bytes.putLe32(out, XxHash32.hash(data, 0))
    out.toByteArray
  }

  /** Decode a `.lz4` byte stream: one or more concatenated frames
    * (skippable frames skipped), outputs concatenated. None on any
    * malformation — see the object docs for the closed list.
    */
  def decompress(b: Array[Byte]): Option[Array[Byte]] = {
    var out = new Array[Byte](math.max(64, b.length * 2))
    var outPos = 0
    def ensure(extra: Int): Unit =
      if (outPos.toLong + extra > out.length) {
        val want = math.max(out.length.toLong * 2,
          outPos.toLong + extra)
        if (want > Int.MaxValue - 8) throw new IllegalStateException
        out = java.util.Arrays.copyOf(out, want.toInt)
      }
    var ip = 0
    var sawFrame = false
    try {
      while (ip < b.length) {
        if (ip + 4 > b.length) return None
        val magic = Bytes.le32(b, ip); ip += 4
        if (magic >= SkippableMin && magic <= SkippableMax) {
          if (ip + 4 > b.length) return None
          val sz = Bytes.le32(b, ip); ip += 4
          if (sz < 0 || ip.toLong + sz > b.length) return None
          ip += sz
        } else if (magic == Magic) {
          sawFrame = true
          // frame descriptor
          if (ip + 2 > b.length) return None
          val descStart = ip
          val flg = b(ip) & 0xff
          val bd = b(ip + 1) & 0xff
          ip += 2
          if ((flg >>> 6) != 1) return None // version
          if ((flg & 0x02) != 0) return None // reserved
          if ((flg & 0x01) != 0) return None // dictID unsupported
          val indep = (flg & 0x20) != 0
          val bChk = (flg & 0x10) != 0
          val cSize = (flg & 0x08) != 0
          val cChk = (flg & 0x04) != 0
          val code = (bd >>> 4) & 0x07
          if ((bd & 0x8f) != 0 || code < 4) return None
          val bMax = blockMax(code)
          var declared = -1L
          if (cSize) {
            if (ip + 8 > b.length) return None
            var v = 0L
            var k = 7
            while (k >= 0) { v = (v << 8) | (b(ip + k) & 0xffL); k -= 1 }
            declared = v
            ip += 8
          }
          if (ip + 1 > b.length) return None
          val hc = b(ip) & 0xff
          if (((XxHash32.hash(b, descStart, ip - descStart, 0)
            >>> 8) & 0xff) != hc) return None
          ip += 1
          val frameStart = outPos
          var done = false
          while (!done) {
            if (ip + 4 > b.length) return None
            val sf = Bytes.le32(b, ip); ip += 4
            if (sf == 0) done = true
            else {
              val uncomp = (sf & 0x80000000) != 0
              val len = sf & 0x7fffffff
              if (len <= 0 || len > bMax) return None
              if (ip.toLong + len > b.length) return None
              ensure(bMax)
              if (uncomp) {
                System.arraycopy(b, ip, out, outPos, len)
                outPos += len
              } else {
                // matches reach back into the window: the block
                // start when independent, 64 KB across blocks (but
                // never past this frame's start) when linked
                val window =
                  if (indep) outPos
                  else math.max(frameStart, outPos - 65536)
                outPos = decodeBlock(b, ip, len, out, outPos,
                  window, bMax).getOrElse(return None)
              }
              if (bChk) {
                if (ip.toLong + len + 4 > b.length) return None
                if (Bytes.le32(b, ip + len) != XxHash32.hash(b, ip, len, 0))
                  return None
                ip += len + 4
              } else ip += len
            }
          }
          if (declared >= 0 &&
            (outPos - frameStart).toLong != declared) return None
          if (cChk) {
            if (ip + 4 > b.length) return None
            if (Bytes.le32(b, ip) != XxHash32.hash(out, frameStart,
              outPos - frameStart, 0)) return None
            ip += 4
          }
        } else return None
      }
      if (!sawFrame) return None
      Some(java.util.Arrays.copyOf(out, outPos))
    } catch { case _: IllegalStateException => None }
  }

  /** Decode one LZ4 block from `b[off, off+len)` appending at
    * `out(outPos)`, matches allowed back to `windowStart`, output
    * capped at `cap` bytes. Returns the new outPos; None on any
    * malformed sequence (the [[Lz4]] totality law, plus the frame's
    * window rule).
    */
  private def decodeBlock(b: Array[Byte], off: Int, len: Int,
                          out: Array[Byte], outPos: Int,
                          windowStart: Int, cap: Int): Option[Int] = {
    val end = off + len
    val outCap = outPos + cap
    var ip = off
    var op = outPos
    while (ip < end) {
      val token = b(ip) & 0xff
      ip += 1
      var litLen = token >>> 4
      if (litLen == 15) {
        var x = 255
        while (x == 255) {
          if (ip >= end) return None
          x = b(ip) & 0xff; ip += 1
          litLen += x
        }
      }
      if (ip + litLen > end || op + litLen > outCap) return None
      System.arraycopy(b, ip, out, op, litLen)
      ip += litLen
      op += litLen
      if (ip == end) {
        // final sequence: literals only
        return Some(op)
      }
      if (ip + 2 > end) return None
      val offset = (b(ip) & 0xff) | (b(ip + 1) & 0xff) << 8
      ip += 2
      if (offset == 0 || op - offset < windowStart) return None
      var mLen = (token & 0x0f) + 4
      if ((token & 0x0f) == 15) {
        var x = 255
        while (x == 255) {
          if (ip >= end) return None
          x = b(ip) & 0xff; ip += 1
          mLen += x
        }
      }
      if (op + mLen > outCap) return None
      var src = op - offset
      var k = 0
      while (k < mLen) {
        out(op + k) = out(src + k)
        k += 1
      }
      op += mLen
    }
    None // input must end after a literals-only final sequence
  }
}
