package graft.sources

/** From-scratch LZMA / LZMA2 / xz ENCODER — the write twin of
  * [[Lzma2]] / [[Xz]] (q304–q309's decoders), closing the last
  * one-directional codec family. Built as the exact inverse of the
  * engine's own decoder (the public LZMA specification shipped with
  * the 7-Zip SDK, plus tukaani.org/xz/xz-file-format.txt for the
  * container):
  *
  *  - the RANGE ENCODER: 33-bit low with cache/cache-size carry
  *    propagation, single-conditional top renormalization at 2^24
  *    (the decoder's normalize schedule, so a chunk's byte count is
  *    exactly what [[Lzma2]]'s `rc.p == end` law demands), shift-5
  *    adaptive probability updates identical to the read side;
  *  - the LZMA symbol layer: hash-chain match finder over the whole
  *    window, rep0 reuse when the last distance still pays,
  *    matched-literal coding in states >= 7, bit-tree length and
  *    pos-slot coders, aligned/spec-pos distance tails;
  *  - LZMA2 chunking: reset-3 first chunk then reset-2 continuations
  *    (fresh probability state per chunk, one shared dictionary), a
  *    chunk closed when its compressed body nears the 2^16 cap or its
  *    input the 2^21 cap, and a STORED fallback (0x01/0x02
  *    uncompressed chunks) whenever the coded body would not beat raw
  *    — so pathological inputs cannot expand past the format bound;
  *  - containers: the legacy `.lzma` "alone" framing (props + dict
  *    size + explicit length) and the full `.xz` stream — header/
  *    footer CRC32s, block headers with the LZMA2 filter chain,
  *    CRC64 block checks, and the seek index, all byte-verified by
  *    the engine's own [[Xz.parse]] walk and by liblzma/XZ-for-Java.
  *
  * Deterministic: same input, same bytes, everywhere.
  */
object LzmaEncode {

  private val InitProb: Short = 1024

  // ---- range encoder (inverse of Lzma2.Rc) --------------------------------

  private final class REnc(out: java.io.ByteArrayOutputStream) {
    private var low = 0L
    private var range = -1 // 0xFFFFFFFF unsigned
    private var cacheSize = 1L
    private var cache = 0

    /** Bytes this encoder will have produced after flush(). */
    def sizeAfterFlush: Long = out.size.toLong + cacheSize + 4

    private def shiftLow(): Unit = {
      if (low < 0xFF000000L || low > 0xFFFFFFFFL) {
        var temp = cache
        var n = cacheSize
        while (n != 0) {
          out.write(((temp + (low >>> 32)) & 0xff).toInt)
          temp = 0xFF
          n -= 1
        }
        cacheSize = 0
        cache = ((low >>> 24) & 0xFF).toInt
      }
      cacheSize += 1
      low = (low & 0x00FFFFFFL) << 8
    }

    def bit(probs: Array[Short], i: Int, b: Int): Unit = {
      val prob = probs(i)
      val bound = (range >>> 11) * prob
      if (b == 0) {
        range = bound
        probs(i) = (prob + ((2048 - prob) >>> 5)).toShort
      } else {
        low += bound.toLong & 0xFFFFFFFFL
        range -= bound
        probs(i) = (prob - (prob >>> 5)).toShort
      }
      // the decoder normalizes with a SINGLE conditional shift per
      // bit; mirror it exactly so byte counts agree
      if ((range & 0xff000000) == 0) { range <<= 8; shiftLow() }
    }

    def direct(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        range = range >>> 1
        if (((v >>> i) & 1) != 0) low += range.toLong & 0xFFFFFFFFL
        if ((range & 0xff000000) == 0) { range <<= 8; shiftLow() }
        i -= 1
      }
    }

    def tree(probs: Array[Short], off: Int, n: Int, sym: Int): Unit = {
      var m = 1
      var i = n - 1
      while (i >= 0) {
        val b = (sym >>> i) & 1
        bit(probs, off + m, b)
        m = (m << 1) | b
        i -= 1
      }
    }

    def treeRev(probs: Array[Short], off: Int, n: Int,
                sym: Int): Unit = {
      var m = 1
      var i = 0
      while (i < n) {
        val b = (sym >>> i) & 1
        bit(probs, off + m, b)
        m = (m << 1) | b
        i += 1
      }
    }

    def flush(): Unit = {
      var i = 0
      while (i < 5) { shiftLow(); i += 1 }
    }
  }

  private final class LenEnc {
    val choice = Array.fill[Short](2)(InitProb)
    val low = Array.fill[Short](16 * 8)(InitProb)
    val mid = Array.fill[Short](16 * 8)(InitProb)
    val high = Array.fill[Short](256)(InitProb)
    def encode(rc: REnc, len: Int, posState: Int): Unit = {
      val l = len - 2
      if (l < 8) {
        rc.bit(choice, 0, 0)
        rc.tree(low, posState << 3, 3, l)
      } else if (l < 16) {
        rc.bit(choice, 0, 1)
        rc.bit(choice, 1, 0)
        rc.tree(mid, posState << 3, 3, l - 8)
      } else {
        rc.bit(choice, 0, 1)
        rc.bit(choice, 1, 1)
        rc.tree(high, 0, 8, l - 16)
      }
    }
  }

  /** Probability state, the mirror of the decoder's model (same
    * shapes, same init, same update rule via the shared REnc).
    */
  private final class EState(val lc: Int, val lp: Int, val pb: Int) {
    var st = 0
    var rep0 = 0; var rep1 = 0; var rep2 = 0; var rep3 = 0
    val isMatch = Array.fill[Short](12 << 4)(InitProb)
    val isRep = Array.fill[Short](12)(InitProb)
    val isRepG0 = Array.fill[Short](12)(InitProb)
    val isRepG1 = Array.fill[Short](12)(InitProb)
    val isRepG2 = Array.fill[Short](12)(InitProb)
    val isRep0Long = Array.fill[Short](12 << 4)(InitProb)
    val posSlot = Array.fill[Short](4 * 64)(InitProb)
    val specPos = Array.fill[Short](114)(InitProb)
    val align = Array.fill[Short](16)(InitProb)
    val lenC = new LenEnc
    val repLenC = new LenEnc
    val literals = Array.fill[Short](0x300 << (lc + lp))(InitProb)
  }

  // lc=3, lp=0, pb=2 — the universal default (xz preset 0..9)
  private val Lc = 3; private val Lp = 0; private val Pb = 2
  /** props byte = (pb*5 + lp)*9 + lc = 93. */
  val PropsByte: Int = (Pb * 5 + Lp) * 9 + Lc

  // ---- match finder --------------------------------------------------------

  private val HashBits = 16
  private val ChainDepth = 48
  private val NiceLen = 64
  private val MaxLen = 273

  private def hash4(b: Array[Byte], i: Int): Int = {
    (Bytes.le32(b, i) * 0x9E3779B1) >>> (32 - HashBits)
  }

  private def matchLen(b: Array[Byte], i: Int, j: Int,
                       cap: Int): Int = {
    var l = 0
    while (l < cap && b(i + l) == b(j + l)) l += 1
    l
  }

  // ---- symbol encoders -----------------------------------------------------

  private def encodeLiteral(rc: REnc, s: EState, b: Array[Byte],
                            i: Int, posState: Int): Unit = {
    rc.bit(s.isMatch, (s.st << 4) + posState, 0)
    val prev = if (i > 0) b(i - 1) & 0xff else 0
    val lpMask = (1 << s.lp) - 1
    val litOff = 0x300 * (((i & lpMask) << s.lc) +
      (prev >>> (8 - s.lc)))
    val sym = b(i) & 0xff
    var m = 1
    var k = 7
    if (s.st >= 7) {
      var matchByte = b(i - s.rep0 - 1) & 0xff
      var matched = true
      while (matched && k >= 0) {
        val matchBit = (matchByte >> 7) & 1
        matchByte = (matchByte << 1) & 0xff
        val bitv = (sym >>> k) & 1
        rc.bit(s.literals, litOff + ((1 + matchBit) << 8) + m, bitv)
        m = (m << 1) | bitv
        if (matchBit != bitv) matched = false
        k -= 1
      }
    }
    while (k >= 0) {
      val bitv = (sym >>> k) & 1
      rc.bit(s.literals, litOff + m, bitv)
      m = (m << 1) | bitv
      k -= 1
    }
    s.st = if (s.st < 4) 0 else if (s.st < 10) s.st - 3 else s.st - 6
  }

  private def encodeDistance(rc: REnc, s: EState, lenState: Int,
                             d: Int): Unit = {
    val slot =
      if (d < 4) d
      else {
        val k = 31 - Integer.numberOfLeadingZeros(d)
        (k << 1) | ((d >>> (k - 1)) & 1)
      }
    rc.tree(s.posSlot, lenState << 6, 6, slot)
    if (slot >= 4) {
      val nd = (slot >> 1) - 1
      val base = (2 | (slot & 1)) << nd
      val r = d - base
      if (slot < 14) rc.treeRev(s.specPos, base - slot - 1, nd, r)
      else {
        rc.direct(r >>> 4, nd - 4)
        rc.treeRev(s.align, 0, 4, r & 15)
      }
    }
  }

  private def encodeMatch(rc: REnc, s: EState, posState: Int,
                          d: Int, len: Int): Unit = {
    rc.bit(s.isMatch, (s.st << 4) + posState, 1)
    rc.bit(s.isRep, s.st, 0)
    s.rep3 = s.rep2; s.rep2 = s.rep1; s.rep1 = s.rep0; s.rep0 = d
    s.lenC.encode(rc, len, posState)
    encodeDistance(rc, s, math.min(len - 2, 3), d)
    s.st = if (s.st < 7) 7 else 10
  }

  private def encodeRep0(rc: REnc, s: EState, posState: Int,
                         len: Int): Unit = {
    rc.bit(s.isMatch, (s.st << 4) + posState, 1)
    rc.bit(s.isRep, s.st, 1)
    rc.bit(s.isRepG0, s.st, 0)
    rc.bit(s.isRep0Long, (s.st << 4) + posState, 1)
    s.repLenC.encode(rc, len, posState)
    s.st = if (s.st < 7) 8 else 11
  }

  /** Encode symbols for data[from, until) — window is the whole array
    * from index 0 (one dictionary, position contexts absolute).
    * Inserts every consumed position into the shared hash chains.
    * Stops early (at a symbol boundary) once the coded body nears
    * `bodyCap` bytes. Returns the first unconsumed index.
    */
  private def encodeSymbols(rc: REnc, s: EState, b: Array[Byte],
                            from: Int, until: Int,
                            head: Array[Int], prev: Array[Int],
                            bodyCap: Long): Int = {
    val pbMask = (1 << s.pb) - 1
    var i = from
    while (i < until && rc.sizeAfterFlush < bodyCap) {
      val posState = i & pbMask
      val remain = math.min(until - i, MaxLen)
      // rep0 candidate
      var repLen = 0
      if (s.st >= 7 || i > s.rep0) {
        val j = i - s.rep0 - 1
        if (j >= 0) repLen = matchLen(b, i, j, remain)
      }
      // hash-chain candidate
      var bestLen = 0
      var bestDist = 0
      if (remain >= 4 && i + 4 <= b.length) {
        var j = head(hash4(b, i))
        var depth = ChainDepth
        while (j >= 0 && depth > 0 && bestLen < NiceLen) {
          // declared dictionary bound: the headers promise 2^24, so
          // a match distance at or beyond it would make liblzma
          // reject the stream on inputs over 16 MiB
          val d = i - j - 1
          if (d < (1 << DictProp) - 1) {
            val l = matchLen(b, i, j, remain)
            if (l > bestLen) { bestLen = l; bestDist = d }
          }
          j = prev(j)
          depth -= 1
        }
      }
      // minimum profitable new-match length grows with distance
      val minLen =
        if (bestDist < 512) 2
        else if (bestDist < 65536) 3
        else 4
      val useRep = repLen >= 2 && (repLen + 1 >= bestLen)
      val useMatch = !useRep && bestLen >= minLen && bestLen >= 2
      val consumed =
        if (useRep) {
          encodeRep0(rc, s, posState, repLen)
          repLen
        } else if (useMatch) {
          encodeMatch(rc, s, posState, bestDist, bestLen)
          bestLen
        } else {
          encodeLiteral(rc, s, b, i, posState)
          1
        }
      // insert consumed positions into the chains
      var k = i
      val endIns = math.min(i + consumed, b.length - 3)
      while (k < endIns) {
        val h = hash4(b, k)
        prev(k) = head(h)
        head(h) = k
        k += 1
      }
      i += consumed
    }
    i
  }

  // ---- LZMA2 payload -------------------------------------------------------

  private val MaxChunkIn = 1 << 21 // usz-1 must fit 21 bits
  private val BodyBudget = 58000L // close the chunk well under 2^16

  /** The LZMA2 payload (chunks + 0x00 terminator) as framed inside an
    * xz block: reset-3 first chunk, reset-2 continuations, stored
    * chunks when coding would not beat raw.
    */
  def compressLzma2(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val head = new Array[Int](1 << HashBits)
    java.util.Arrays.fill(head, -1)
    val prev = new Array[Int](math.max(1, data.length))
    var i = 0
    var first = true
    while (i < data.length) {
      val chunkStart = i
      val until = math.min(data.length, chunkStart + MaxChunkIn)
      val s = new EState(Lc, Lp, Pb)
      val bodyBuf = new java.io.ByteArrayOutputStream()
      val rc = new REnc(bodyBuf)
      i = encodeSymbols(rc, s, data, chunkStart, until, head, prev,
        BodyBudget)
      rc.flush()
      val body = bodyBuf.toByteArray
      val usz = i - chunkStart
      require(body.length <= 0xFFFF + 1 && usz >= 1 &&
        usz <= MaxChunkIn, "chunk bounds")
      if (body.length + 6 < usz) {
        // compressed chunk: control | usz-1 BE | csz-1 BE | props
        val reset = if (first) 3 else 2
        val u = usz - 1
        val c = body.length - 1
        out.write(0x80 | (reset << 5) | (u >>> 16))
        Bytes.putBe16(out, u); Bytes.putBe16(out, c)
        out.write(PropsByte)
        out.write(body, 0, body.length)
      } else {
        // stored: 0x01 resets the dictionary — only legal as the very
        // first chunk; afterwards 0x02 keeps the window intact
        var p = chunkStart
        while (p < i) {
          val sz = math.min(0x10000, i - p)
          out.write(if (first && p == chunkStart) 0x01 else 0x02)
          Bytes.putBe16(out, sz - 1)
          out.write(data, p, sz)
          p += sz
        }
      }
      first = false
    }
    out.write(0x00)
    out.toByteArray
  }

  // ---- legacy .lzma ("alone") ---------------------------------------------

  /** The `.lzma` container (lzma.FORMAT_ALONE): props byte, LE32 dict
    * size, LE64 exact uncompressed size, one raw LZMA stream.
    */
  def alone(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(PropsByte)
    Bytes.putLe32(out, 1 << 24) // dictionary size
    Bytes.putLe64(out, data.length.toLong)
    val s = new EState(Lc, Lp, Pb)
    val head = new Array[Int](1 << HashBits)
    java.util.Arrays.fill(head, -1)
    val prev = new Array[Int](math.max(1, data.length))
    val rc = new REnc(out)
    val end = encodeSymbols(rc, s, data, 0, data.length, head, prev,
      Long.MaxValue)
    require(end == data.length, "alone: full consume")
    rc.flush()
    out.toByteArray
  }

  // ---- .xz container -------------------------------------------------------

  private def crc32(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32()
    c.update(b, off, len)
    c.getValue.toInt
  }

  /** LZMA2 filter props byte: dictionary size 2^24. */
  private val DictProp = 24

  /** One complete `.xz` stream with CRC64 block checks. `blockSize`
    * splits the input into independently-decodable blocks — the seek
    * index then lets a reader (or a 1000-task scan) jump straight to
    * block k without touching the others; 0 = single block.
    */
  def xz(data: Array[Byte], blockSize: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // stream header
    out.write(0xfd); out.write('7'); out.write('z'); out.write('X')
    out.write('Z'); out.write(0x00)
    val flags = Array[Byte](0x00, 0x04) // check = CRC64
    out.write(flags(0)); out.write(flags(1))
    Bytes.putLe32(out, crc32(flags, 0, 2))
    // blocks
    val bs = if (blockSize <= 0) math.max(1, data.length) else blockSize
    val starts =
      if (data.length == 0) Seq.empty[Int]
      else 0 until data.length by bs
    val index = Seq.newBuilder[(Long, Long)] // (unpadded, uncompressed)
    starts.foreach { s0 =>
      val seg = java.util.Arrays.copyOfRange(data, s0,
        math.min(data.length, s0 + bs))
      // block header: flags 0 (1 filter, sizes undeclared), filter
      // 0x21 + 1-byte props, zero-pad to 4, CRC32
      val hdr = new java.io.ByteArrayOutputStream()
      hdr.write(0) // size byte, patched below
      hdr.write(0x00)
      Bytes.putUvarint(hdr, 0x21)
      Bytes.putUvarint(hdr, 1)
      hdr.write(DictProp)
      while ((hdr.size + 4) % 4 != 0) hdr.write(0x00)
      val hb = hdr.toByteArray
      hb(0) = ((hb.length + 4) / 4 - 1).toByte
      out.write(hb, 0, hb.length)
      Bytes.putLe32(out, crc32(hb, 0, hb.length))
      val payload = compressLzma2(seg)
      out.write(payload, 0, payload.length)
      var pad = (4 - payload.length % 4) % 4
      while (pad > 0) { out.write(0x00); pad -= 1 }
      Bytes.putLe64(out, Crc64.of(seg, 0, seg.length))
      index += ((hb.length + 4L + payload.length + 8L,
        seg.length.toLong))
    }
    // index
    val idx = new java.io.ByteArrayOutputStream()
    idx.write(0x00)
    val recs = index.result()
    Bytes.putUvarint(idx, recs.length.toLong)
    recs.foreach { case (unp, unc) =>
      Bytes.putUvarint(idx, unp); Bytes.putUvarint(idx, unc)
    }
    while (idx.size % 4 != 0) idx.write(0x00)
    val ib = idx.toByteArray
    out.write(ib, 0, ib.length)
    Bytes.putLe32(out, crc32(ib, 0, ib.length))
    val idxRealSize = ib.length + 4
    // footer
    val tail = new java.io.ByteArrayOutputStream()
    Bytes.putLe32(tail, idxRealSize / 4 - 1)
    tail.write(flags(0)); tail.write(flags(1))
    val tb = tail.toByteArray
    Bytes.putLe32(out, crc32(tb, 0, tb.length))
    out.write(tb, 0, tb.length)
    out.write('Y'); out.write('Z')
    out.toByteArray
  }
}
