package graft.sources

/** Zstandard STAGE 2: the compressed-block decoder (RFC 8878 §3.1.1.3)
  * — literals section (Raw/RLE/Huffman-compressed/Treeless, 1- and
  * 4-stream), Huffman tree descriptions (direct 4-bit weights and
  * FSE-compressed weights with two interleaved states), FSE table
  * descriptions (variable-precision normalized counts, zero-repeat
  * flags), the three sequence-symbol decoders (literal-length, offset,
  * match-length: predefined / RLE / FSE / repeat modes), and sequence
  * execution against the frame window with the three-slot repeat-offset
  * history and its literal-length-zero special cases.
  *
  * Everything here is from the public RFC 8878 + the published
  * predefined distributions; nothing links against zstd-jni — ZstdSpec
  * pins this decoder AGAINST libzstd-written frames across levels and
  * content classes, byte-for-byte, under the frames' own XXH64.
  *
  * Totality law: any malformation — counts that don't sum, a Huffman
  * total off a power of two, a bitstream over-read, an offset past the
  * window, literals/sequences disagreeing with block bounds — raises
  * the file-private Damage, which [[Zstd.walk]] catches into None.
  */
private[sources] object ZstdEntropy {

  import Bytes.{Damage, damage}

  // ---- frame window -----------------------------------------------------

  /** Decoded frame output: sequence matches copy from ANYWHERE in the
    * frame decoded so far (the window), so the buffer is random-access
    * and grows up to `cap`.
    */
  private[sources] final class Window(val cap: Int) {
    private var buf = new Array[Byte](1 << 12)
    private var n = 0
    def len: Int = n
    private def ensure(extra: Int): Unit = {
      if (extra < 0 || n + extra > cap || n + extra < 0) damage()
      if (n + extra > buf.length) {
        var sz = buf.length
        while (sz < n + extra) sz = math.min(cap.toLong * 2, sz * 2L).toInt
        buf = java.util.Arrays.copyOf(buf, math.min(sz, cap))
      }
    }
    def putRaw(src: Array[Byte], off: Int, len: Int): Unit = {
      if (off < 0 || len < 0 || off + len > src.length) damage()
      ensure(len)
      System.arraycopy(src, off, buf, n, len)
      n += len
    }
    def putRle(v: Byte, len: Int): Unit = {
      ensure(len)
      java.util.Arrays.fill(buf, n, n + len, v)
      n += len
    }
    def copyMatch(offset: Int, mlen: Int): Unit = {
      if (offset <= 0 || offset > n) damage() // beyond the frame start
      ensure(mlen)
      var i = 0
      while (i < mlen) { buf(n + i) = buf(n + i - offset); i += 1 }
      n += mlen
    }
    def bytes: Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  /** Per-frame entropy state: repeat offsets + the tables 'repeat' and
    * 'treeless' modes reuse across blocks of one frame.
    */
  private[sources] final class FrameCtx(cap: Int) {
    val window = new Window(cap)
    var rep1 = 1; var rep2 = 4; var rep3 = 8
    var hufTable: Array[Int] = null // packed (symbol << 4 | nbBits)
    var hufLog = 0
    var llTable: FseTable = null
    var ofTable: FseTable = null
    var mlTable: FseTable = null
  }

  // ---- bitstreams -------------------------------------------------------

  /** zstd's BACKWARD bitstream: bits are appended LSB-first by the
    * writer; the reader starts after the last set bit of the final
    * byte (the padding marker) and reads fields downward — each read
    * returns bits [pos-n, pos) with stream bit pos-1 as the MSB.
    */
  private final class BackBits(b: Array[Byte], start: Int, end: Int) {
    private var pos: Long = {
      if (end <= start || start < 0 || end > b.length) damage()
      val last = b(end - 1) & 0xff
      if (last == 0) damage() // missing padding marker
      var h = 7
      while ((last & (1 << h)) == 0) h -= 1
      8L * (end - 1 - start) + h
    }
    def remaining: Long = pos
    def read(n: Int): Int = {
      if (n < 0 || n > 31) damage()
      if (pos < n) damage()
      pos -= n
      var v = 0
      var i = 0
      while (i < n) {
        val bit = pos + i
        v |= (((b(start + (bit >> 3).toInt) >> (bit & 7).toInt)) & 1) << i
        i += 1
      }
      v
    }
    /** Peek up to `n` bits (MSB-aligned window at the current
      * position); bits below the stream start read as zero — the tail
      * codes of a Huffman stream are shorter than the peek window.
      */
    def peek(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val bit = pos - n + i
        if (bit >= 0)
          v |= (((b(start + (bit >> 3).toInt) >> (bit & 7).toInt)) & 1) << i
        i += 1
      }
      v
    }
    def skip(n: Int): Unit = { if (pos < n) damage(); pos -= n }
  }

  /** Forward LSB-first bitstream (FSE table descriptions only). */
  private final class FwdBits(b: Array[Byte], val start: Int, end: Int) {
    private var bitPos = 0L
    def read(n: Int): Int = {
      if (n < 0 || n > 31) damage()
      var v = 0
      var i = 0
      while (i < n) {
        val bit = bitPos + i
        val at = start + (bit >> 3).toInt
        if (at >= end) damage()
        v |= ((b(at) >> (bit & 7).toInt) & 1) << i
        i += 1
      }
      bitPos += n
      v
    }
    def peek(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val bit = bitPos + i
        val at = start + (bit >> 3).toInt
        if (at < end) v |= ((b(at) >> (bit & 7).toInt) & 1) << i
        i += 1
      }
      v
    }
    def skip(n: Int): Unit = bitPos += n
    def bytesConsumed: Int = ((bitPos + 7) / 8).toInt
  }

  // ---- FSE --------------------------------------------------------------

  /** One FSE decoding table: per state (symbol, nbBits, newStateBase),
    * plus the accuracy log. An RLE "table" is log 0 with one state.
    */
  private[sources] final class FseTable(val log: Int, val symbol: Array[Int],
                                        val nbBits: Array[Int],
                                        val base: Array[Int])

  private def highBit(v: Int): Int = {
    if (v <= 0) damage()
    31 - Integer.numberOfLeadingZeros(v)
  }

  /** Read an FSE table description (RFC §4.1.1): 4-bit accuracy-log
    * field, then variable-precision normalized counts with the
    * zero-repeat escape. Returns the table and the byte length of the
    * description.
    */
  private def readFseTable(b: Array[Byte], off: Int, end: Int,
                           maxLog: Int, maxSymbol: Int): (FseTable, Int) = {
    val in = new FwdBits(b, off, end)
    val log = in.read(4) + 5
    if (log > maxLog) damage()
    val tableSize = 1 << log
    val counts = new Array[Int](maxSymbol + 1)
    var remaining = tableSize + 1
    var threshold = tableSize
    var nBits = log + 1
    var sym = 0
    var prevZero = false
    while (remaining > 1) {
      if (sym > maxSymbol) damage()
      if (prevZero) {
        // 2-bit repeat flags: 3 = three more zeros and read again
        var n0 = sym
        var rep = in.read(2)
        while (rep == 3) {
          n0 += 3
          if (n0 > maxSymbol + 1) damage()
          rep = in.read(2)
        }
        n0 += rep
        if (n0 > maxSymbol + 1) damage()
        sym = n0 // counts default to 0
        prevZero = false
      } else {
        // the phased small/large read: values whose low nBits-1 bits
        // fall under `max` use one bit less; larger ones fold `max`
        // back out of the full nBits read
        val max = (2 * threshold - 1) - remaining
        var count = in.peek(nBits)
        if ((count & (threshold - 1)) < max) {
          count &= threshold - 1
          in.skip(nBits - 1)
        } else {
          count &= 2 * threshold - 1
          if (count >= threshold) count -= max
          in.skip(nBits)
        }
        count -= 1 // stored 0 means "less-than-one" probability (-1)
        if (count >= 0) remaining -= count else remaining += count
        counts(sym) = count
        sym += 1
        prevZero = count == 0
        while (remaining > 1 && remaining < threshold) {
          nBits -= 1; threshold >>= 1
        }
      }
    }
    if (remaining != 1) damage()
    (buildFseTable(counts, log), in.bytesConsumed)
  }

  /** Spread symbols and derive per-state transitions (RFC §4.1.1's
    * published construction: step = 5/8 table + 3, less-than-one
    * symbols at the high end).
    */
  private[sources] def buildFseTable(counts: Array[Int],
                                     log: Int): FseTable = {
    val size = 1 << log
    val symbolOf = new Array[Int](size)
    val symbolNext = new Array[Int](counts.length)
    var highThreshold = size - 1
    var s = 0
    while (s < counts.length) {
      if (counts(s) == -1) {
        if (highThreshold < 0) damage()
        symbolOf(highThreshold) = s
        highThreshold -= 1
        symbolNext(s) = 1
      } else {
        if (counts(s) < -1) damage()
        symbolNext(s) = counts(s)
      }
      s += 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var pos = 0
    s = 0
    while (s < counts.length) {
      var i = 0
      while (i < counts(s)) {
        symbolOf(pos) = s
        pos = (pos + step) & mask
        while (pos > highThreshold) pos = (pos + step) & mask
        i += 1
      }
      s += 1
    }
    if (pos != 0) damage() // counts must tile the table exactly
    val nbBits = new Array[Int](size)
    val base = new Array[Int](size)
    var u = 0
    while (u < size) {
      val sy = symbolOf(u)
      val nextState = symbolNext(sy)
      symbolNext(sy) += 1
      val nb = log - highBit(nextState)
      nbBits(u) = nb
      base(u) = (nextState << nb) - size
      u += 1
    }
    new FseTable(log, symbolOf, nbBits, base)
  }

  /** An RLE "table": one state, zero bits, one symbol. */
  private def rleTable(sym: Int): FseTable =
    new FseTable(0, Array(sym), Array(0), Array(0))

  // RFC 8878 predefined distributions (counts shared with the
  // encoder in [[ZstdEncode]], which builds its transform from the
  // SAME spread so write and read agree by construction)
  private[sources] val PredefLLCounts = Array(
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
    2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1)
  private[sources] val PredefMLCounts = Array(
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, -1, -1, -1, -1, -1, -1, -1)
  private[sources] val PredefOFCounts = Array(
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, -1, -1, -1, -1, -1)
  private val PredefLL = buildFseTable(PredefLLCounts, 6)
  private val PredefML = buildFseTable(PredefMLCounts, 6)
  private val PredefOF = buildFseTable(PredefOFCounts, 5)

  // literal-length and match-length code expansions (RFC §3.1.1.3.2.1.1)
  private[sources] val LLBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0,
    0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14,
    15, 16)
  private[sources] val LLBase = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10,
    11, 12,
    13, 14, 15, 16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512,
    1024, 2048, 4096, 8192, 16384, 32768, 65536)
  private[sources] val MLBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1,
    2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private[sources] val MLBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 12,
    13, 14,
    15, 16, 17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31,
    32, 33, 34, 35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259,
    515, 1027, 2051, 4099, 8195, 16387, 32771, 65539)

  // ---- Huffman ----------------------------------------------------------

  /** Read a Huffman tree description at `off` (RFC §4.2.1): direct
    * 4-bit weights (header >= 128) or FSE-compressed weights decoded
    * by TWO interleaved states. Returns (packed table, tableLog,
    * bytes consumed). Table entries are (symbol << 4 | nbBits) indexed
    * by the tableLog-bit code prefix.
    */
  private[sources] def readHufTable(b: Array[Byte], off: Int,
                                    end: Int): (Array[Int], Int, Int) = {
    if (off >= end) damage()
    val header = b(off) & 0xff
    var weights: Array[Int] = null
    var consumed = 0
    if (header >= 128) {
      val n = header - 127
      val bytes = (n + 1) / 2
      if (off + 1 + bytes > end) damage()
      weights = new Array[Int](n)
      var i = 0
      while (i < n) {
        val v = b(off + 1 + i / 2) & 0xff
        weights(i) = if (i % 2 == 0) v >> 4 else v & 0x0f
        i += 1
      }
      consumed = 1 + bytes
    } else {
      val compSize = header
      if (off + 1 + compSize > end) damage()
      val (fse, descLen) = readFseTable(b, off + 1, off + 1 + compSize,
        maxLog = 6, maxSymbol = 255)
      val bits = new BackBits(b, off + 1 + descLen, off + 1 + compSize)
      var s1 = bits.read(fse.log)
      var s2 = bits.read(fse.log)
      val out = new Array[Int](256) // > max weights (255 symbols)
      var n = 0
      def emit(state: Int): Unit = {
        if (n >= out.length) damage()
        out(n) = fse.symbol(state); n += 1
      }
      var going = true
      while (going) {
        emit(s1)
        if (bits.remaining < fse.nbBits(s1)) { emit(s2); going = false }
        else {
          s1 = fse.base(s1) + bits.read(fse.nbBits(s1))
          emit(s2)
          if (bits.remaining < fse.nbBits(s2)) { emit(s1); going = false }
          else s2 = fse.base(s2) + bits.read(fse.nbBits(s2))
        }
      }
      weights = java.util.Arrays.copyOf(out, n)
      consumed = 1 + compSize
    }
    // the LAST weight is implied: total must complete a power of two
    var total = 0L
    for (w <- weights) {
      if (w > 11) damage()
      if (w > 0) total += 1L << (w - 1)
    }
    if (total == 0) damage()
    val tableLog = highBit(total.toInt) + 1
    if (tableLog > 11) damage()
    val leftover = (1L << tableLog) - total
    // leftover must itself be a power of two (it IS the last weight)
    if (leftover <= 0 || (leftover & (leftover - 1)) != 0) damage()
    val lastWeight = highBit(leftover.toInt) + 1
    val allWeights = weights :+ lastWeight
    val nSymbols = allWeights.length
    if (nSymbols > 256) damage()
    // canonical fill: ascending weight (longest codes first), then
    // symbol order; each weight-w symbol spans 1 << (w-1) slots
    val table = new Array[Int](1 << tableLog)
    var posn = 0
    var w = 1
    while (w <= tableLog) {
      var s = 0
      while (s < nSymbols) {
        if (allWeights(s) == w) {
          val span = 1 << (w - 1)
          if (posn + span > table.length) damage()
          val entry = (s << 4) | (tableLog + 1 - w)
          var i = 0
          while (i < span) { table(posn + i) = entry; i += 1 }
          posn += span
        }
        s += 1
      }
      w += 1
    }
    if (posn != table.length) damage()
    (table, tableLog, consumed)
  }

  /** Decode one Huffman bitstream into exactly `want` bytes. */
  private def hufDecodeStream(b: Array[Byte], off: Int, end: Int,
                              table: Array[Int], log: Int,
                              out: Array[Byte], outOff: Int,
                              want: Int): Unit = {
    val bits = new BackBits(b, off, end)
    var i = 0
    while (i < want) {
      val idx = bits.peek(log)
      val e = table(idx)
      val nb = e & 0x0f
      if (nb == 0) damage()
      bits.skip(nb)
      out(outOff + i) = (e >>> 4).toByte
      i += 1
    }
    if (bits.remaining != 0) damage() // streams are sized exactly
  }

  // ---- literals section -------------------------------------------------

  /** Decode the literals section at `off`; returns (literals,
    * bytesConsumed).
    */
  private def readLiterals(b: Array[Byte], off: Int, end: Int,
                           ctx: FrameCtx): (Array[Byte], Int) = {
    if (off >= end) damage()
    val h0 = b(off) & 0xff
    val blockType = h0 & 3
    val sizeFormat = (h0 >> 2) & 3
    blockType match {
      case 0 | 1 => // Raw | RLE
        val (regen, hdr) = sizeFormat match {
          case 0 | 2 =>
            if ((sizeFormat & 1) == 0) (h0 >> 3, 1) // 5-bit size
            else {
              if (off + 2 > end) damage()
              ((h0 >> 4) | ((b(off + 1) & 0xff) << 4), 2) // 12-bit
            }
          case 1 =>
            if (off + 2 > end) damage()
            ((h0 >> 4) | ((b(off + 1) & 0xff) << 4), 2)
          case _ =>
            if (off + 3 > end) damage()
            ((h0 >> 4) | ((b(off + 1) & 0xff) << 4) |
              ((b(off + 2) & 0xff) << 12), 3) // 20-bit
        }
        if (regen < 0 || regen > (1 << 20) + (1 << 18)) damage()
        if (blockType == 0) {
          if (off + hdr + regen > end) damage()
          (java.util.Arrays.copyOfRange(b, off + hdr, off + hdr + regen),
            hdr + regen)
        } else {
          if (off + hdr + 1 > end) damage()
          val lit = new Array[Byte](regen)
          java.util.Arrays.fill(lit, b(off + hdr))
          (lit, hdr + 1)
        }
      case _ => // Compressed | Treeless
        // sizeFormat: 0 -> 1 stream, 10-bit sizes (3-byte header);
        // 1 -> 4 streams, 10-bit (3); 2 -> 4 streams, 14-bit (4);
        // 3 -> 4 streams, 18-bit (5)
        val (regen, comp, hdr, fourStreams) = sizeFormat match {
          case 0 | 1 =>
            if (off + 3 > end) damage()
            val v = (h0 >> 4) | ((b(off + 1) & 0xff) << 4) |
              ((b(off + 2) & 0xff) << 12)
            (v & 0x3ff, (v >> 10) & 0x3ff, 3, sizeFormat == 1)
          case 2 =>
            if (off + 4 > end) damage()
            val v = (h0 >> 4) | ((b(off + 1) & 0xff) << 4) |
              ((b(off + 2) & 0xff) << 12) | ((b(off + 3) & 0xff) << 20)
            (v & 0x3fff, (v >> 14) & 0x3fff, 4, true)
          case _ =>
            if (off + 5 > end) damage()
            val lo = (h0 >> 4) | ((b(off + 1) & 0xff) << 4) |
              ((b(off + 2) & 0xff) << 12) | ((b(off + 3) & 0xff) << 20)
            val v = lo.toLong | ((b(off + 4) & 0xffL) << 28)
            ((v & 0x3ffff).toInt, ((v >> 18) & 0x3ffff).toInt, 5, true)
        }
        if (regen > (1 << 20) + (1 << 18)) damage()
        var p = off + hdr
        val compEnd = off + hdr + comp
        if (compEnd > end) damage()
        if (blockType == 2) { // Compressed: new tree
          val (tb, lg, used) = readHufTable(b, p, compEnd)
          ctx.hufTable = tb; ctx.hufLog = lg
          p += used
        } else if (ctx.hufTable == null) damage() // Treeless, no prior
        val lit = new Array[Byte](regen)
        if (!fourStreams) {
          hufDecodeStream(b, p, compEnd, ctx.hufTable, ctx.hufLog,
            lit, 0, regen)
        } else {
          if (p + 6 > compEnd) damage()
          val s1 = Bytes.le16(b, p); val s2 = Bytes.le16(b, p + 2)
          val s3 = Bytes.le16(b, p + 4)
          val dStart = p + 6
          val total = compEnd - dStart
          if (s1 + s2 + s3 > total) damage()
          val seg = (regen + 3) / 4
          if (3 * seg > regen + 3) () // seg arithmetic is total by def
          val o1 = dStart
          val o2 = o1 + s1
          val o3 = o2 + s2
          val o4 = o3 + s3
          val last = regen - 3 * seg
          if (last < 0) damage()
          hufDecodeStream(b, o1, o2, ctx.hufTable, ctx.hufLog, lit, 0, seg)
          hufDecodeStream(b, o2, o3, ctx.hufTable, ctx.hufLog, lit, seg, seg)
          hufDecodeStream(b, o3, o4, ctx.hufTable, ctx.hufLog, lit,
            2 * seg, seg)
          hufDecodeStream(b, o4, compEnd, ctx.hufTable, ctx.hufLog, lit,
            3 * seg, last)
        }
        (lit, hdr + comp)
    }
  }

  // ---- sequences --------------------------------------------------------

  /** Decode + execute the sequences section over `[off, end)`, weaving
    * `literals` into the frame window.
    */
  private def runSequences(b: Array[Byte], off: Int, end: Int,
                           literals: Array[Byte], ctx: FrameCtx): Unit = {
    if (off >= end) damage()
    var p = off
    val b0 = b(p) & 0xff; p += 1
    val nSeq =
      if (b0 < 128) b0
      else if (b0 < 255) {
        if (p >= end) damage()
        val v = ((b0 - 128) << 8) + (b(p) & 0xff); p += 1; v
      } else {
        if (p + 2 > end) damage()
        val v = (b(p) & 0xff) + ((b(p + 1) & 0xff) << 8) + 0x7f00
        p += 2; v
      }
    if (nSeq == 0) {
      if (p != end) damage() // no sequence section payload allowed
      ctx.window.putRaw(literals, 0, literals.length)
      return
    }
    if (p >= end) damage()
    val modes = b(p) & 0xff; p += 1
    if ((modes & 3) != 0) damage() // reserved bits
    def pick(mode: Int, prev: FseTable, predef: FseTable, maxLog: Int,
             maxSym: Int): FseTable = mode match {
      case 0 => predef
      case 1 =>
        if (p >= end) damage()
        val sym = b(p) & 0xff; p += 1
        if (sym > maxSym) damage()
        rleTable(sym)
      case 2 =>
        val (t, used) = readFseTable(b, p, end, maxLog, maxSym)
        p += used
        t
      case _ =>
        if (prev == null) damage()
        prev
    }
    // order in the stream: LL, OF, ML
    val llT = pick((modes >> 6) & 3, ctx.llTable, PredefLL, 9, 35)
    val ofT = pick((modes >> 4) & 3, ctx.ofTable, PredefOF, 8, 31)
    val mlT = pick((modes >> 2) & 3, ctx.mlTable, PredefML, 9, 52)
    ctx.llTable = llT; ctx.ofTable = ofT; ctx.mlTable = mlT

    val bits = new BackBits(b, p, end)
    // state init order: LL, OF, ML
    var llS = bits.read(llT.log)
    var ofS = bits.read(ofT.log)
    var mlS = bits.read(mlT.log)
    var litPos = 0
    var seq = 0
    while (seq < nSeq) {
      val ofCode = ofT.symbol(ofS)
      val mlCode = mlT.symbol(mlS)
      val llCode = llT.symbol(llS)
      if (ofCode > 31 || mlCode > 52 || llCode > 35) damage()
      // value bits read in order: OF, ML, LL
      val ofValue =
        if (ofCode == 0) 1L
        else (1L << ofCode) + bits.read(ofCode) // ofCode ≤ 31 extra bits
      val ml = MLBase(mlCode) + bits.read(MLBits(mlCode))
      val ll = LLBase(llCode) + bits.read(LLBits(llCode))
      // repeat-offset resolution (RFC §3.1.1.3.2.1.1 table)
      var offset = 0
      if (ofValue > 3) {
        offset = (ofValue - 3).toInt
        if (ofValue - 3 > Int.MaxValue) damage()
        ctx.rep3 = ctx.rep2; ctx.rep2 = ctx.rep1; ctx.rep1 = offset
      } else {
        val idx = ofValue.toInt + (if (ll == 0) 1 else 0)
        idx match {
          case 1 => offset = ctx.rep1
          case 2 =>
            offset = ctx.rep2
            ctx.rep2 = ctx.rep1; ctx.rep1 = offset
          case 3 =>
            offset = ctx.rep3
            ctx.rep3 = ctx.rep2; ctx.rep2 = ctx.rep1; ctx.rep1 = offset
          case _ => // ll == 0 && ofValue == 3: rep1 - 1
            offset = ctx.rep1 - 1
            if (offset <= 0) damage()
            ctx.rep3 = ctx.rep2; ctx.rep2 = ctx.rep1; ctx.rep1 = offset
        }
      }
      if (litPos + ll > literals.length) damage()
      ctx.window.putRaw(literals, litPos, ll)
      litPos += ll
      ctx.window.copyMatch(offset, ml)
      seq += 1
      if (seq < nSeq) { // no state update after the final sequence
        llS = llT.base(llS) + bits.read(llT.nbBits(llS))
        mlS = mlT.base(mlS) + bits.read(mlT.nbBits(mlS))
        ofS = ofT.base(ofS) + bits.read(ofT.nbBits(ofS))
      }
    }
    if (bits.remaining != 0) damage() // the stream must end exactly
    // last literals: whatever the sequences did not consume
    ctx.window.putRaw(literals, litPos, literals.length - litPos)
  }

  /** Load a STRUCTURED dictionary's entropy section (RFC 8878 §5 /
    * the zstd format doc's Dictionary Format) into `ctx`: the
    * Huffman literals table, then FSE tables for OFFSETS, MATCH
    * LENGTHS, LITERALS LENGTHS (that order), then the three 4-byte
    * LE repeat offsets. These populate the Treeless/Repeat modes a
    * dictionary-primed frame's FIRST block may use. Returns the
    * offset where the dictionary CONTENT begins; Damage on any
    * malformed byte or a non-positive repeat offset.
    */
  private[sources] def loadDictEntropy(b: Array[Byte], off: Int,
                                       end: Int, ctx: FrameCtx): Int = {
    var p = off
    val (tb, lg, used) = readHufTable(b, p, end)
    ctx.hufTable = tb; ctx.hufLog = lg
    p += used
    val (ofT, u1) = readFseTable(b, p, end, 8, 31)
    p += u1
    val (mlT, u2) = readFseTable(b, p, end, 9, 52)
    p += u2
    val (llT, u3) = readFseTable(b, p, end, 9, 35)
    p += u3
    ctx.ofTable = ofT; ctx.mlTable = mlT; ctx.llTable = llT
    if (p + 12 > end) damage()
    val r1 = Bytes.le32(b, p); val r2 = Bytes.le32(b, p + 4)
    val r3 = Bytes.le32(b, p + 8)
    val contentLen = end - (p + 12)
    // each recent offset must be valid against the content alone
    if (r1 <= 0 || r2 <= 0 || r3 <= 0 || r1 > contentLen ||
      r2 > contentLen || r3 > contentLen) damage()
    ctx.rep1 = r1; ctx.rep2 = r2; ctx.rep3 = r3
    p + 12
  }

  /** Decode one COMPRESSED block's content into the frame window. */
  private[sources] def decompressBlock(b: Array[Byte], off: Int, len: Int,
                                       ctx: FrameCtx): Unit = {
    if (len <= 0 || off < 0 || off + len > b.length) damage()
    val end = off + len
    val (literals, used) = readLiterals(b, off, end, ctx)
    runSequences(b, off + used, end, literals, ctx)
  }
}
