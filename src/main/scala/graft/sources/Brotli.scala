package graft.sources

/** Brotli decoder (RFC 7932) from first principles — the last parquet
  * codec (4) the engine could not read in either direction.
  *
  * Everything here is built from the public RFC: the LSB-first bit
  * stream, WBITS header, meta-block framing (compressed, uncompressed,
  * metadata-skip), canonical prefix codes (simple 1-4 symbol form and
  * the complex form with the fixed code-length code, HSKIP, and the
  * brotli-specific 16/17 repeat accumulation), block-switch machinery
  * for the three symbol categories, literal context modeling
  * (Appendix C lookup table), the 704-symbol insert&copy alphabet, the
  * distance ring buffer with its 16 short codes, NPOSTFIX/NDIRECT
  * distance buckets, and the 122,784-byte static dictionary (Appendix
  * A) with the 121 word transforms (Appendix B, ferment = the RFC's
  * UTF-8-aware uppercasing).
  *
  * The Appendix data tables ship as resources extracted from the RFC's
  * reference data (scripts/make_brotli_fixture.py documents the
  * provenance and pins the layout against the RFC's own examples);
  * BrotliSpec decodes real libbrotli-encoded streams at quality 1, 6
  * and 11 byte-exactly — q11 output exercises the dictionary and
  * transform paths.
  *
  * Totality: any malformation — truncated stream, oversubscribed
  * code, invalid window bits, distance before the data, transform id
  * out of range — yields None, never a throw and never partial
  * output.
  */
object Brotli {

  import Bytes.{Damage, damage}

  // ---- RFC 7932 appendix data (resources) ---------------------------------

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(name)
    if (in == null)
      throw new IllegalStateException(s"missing resource $name")
    try {
      val out = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n > 0) { out.write(tmp, 0, n); n = in.read(tmp) }
      out.toByteArray
    } finally in.close()
  }

  private lazy val Dict = resource("/graft/brotli-dictionary.bin")
  private lazy val CtxLut = resource("/graft/brotli-context.bin")

  /** (prefix, op, suffix) — ops: 0 identity, 1-9 omit-last-N,
    * 10 ferment-first, 11 ferment-all, 12-20 omit-first-N.
    */
  private lazy val Transforms: Array[(Array[Byte], Int, Array[Byte])] = {
    val b = resource("/graft/brotli-transforms.bin")
    var p = 1
    Array.fill(b(0) & 0xff) {
      val pl = b(p) & 0xff
      val pre = java.util.Arrays.copyOfRange(b, p + 1, p + 1 + pl)
      p += 1 + pl
      val op = b(p) & 0xff
      p += 1
      val sl = b(p) & 0xff
      val suf = java.util.Arrays.copyOfRange(b, p + 1, p + 1 + sl)
      p += 1 + sl
      (pre, op, suf)
    }
  }

  /** log2 word counts per word length 4..24 (Appendix A structure —
    * sums to the dictionary's 122,784 bytes).
    */
  private val DictSizeBits = Array(0, 0, 0, 0, 10, 10, 11, 11, 10, 10,
    10, 10, 10, 9, 9, 8, 7, 7, 8, 7, 7, 6, 6, 5, 5)
  private val DictOffsets: Array[Int] = {
    val o = new Array[Int](25)
    var acc = 0
    var l = 0
    while (l < 25) {
      o(l) = acc
      if (l >= 4) acc += l << DictSizeBits(l)
      l += 1
    }
    o
  }

  // ---- fixed tables (RFC §5, §6, §9.1) -------------------------------------

  private val InsLut = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CpyLut = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)
  private val InsOff = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26,
    34, 50, 66, 98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsBits = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4,
    4, 5, 5, 6, 7, 8, 9, 10, 12, 14, 24)
  private val CpyOff = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18,
    22, 30, 38, 54, 70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CpyBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3,
    3, 4, 4, 5, 5, 6, 7, 8, 9, 10, 24)
  private val BlkOff = Array(1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81,
    97, 113, 145, 177, 209, 241, 305, 369, 497, 753, 1265, 2289,
    4337, 8433, 16625)
  private val BlkBits = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5,
    5, 5, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13, 24)
  // distance short codes 4..15: ring slot (3=last .. 0=fourth) + delta
  private val ShortIdx =
    Array(3, 2, 1, 0, 3, 3, 3, 3, 3, 3, 2, 2, 2, 2, 2, 2)
  private val ShortDelta =
    Array(0, 0, 0, 0, -1, 1, -2, 2, -3, 3, -1, 1, -2, 2, -3, 3)
  private val ClOrder =
    Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  // ---- bit reader (LSB-first) -----------------------------------------------

  private final class BR(b: Array[Byte]) {
    var pos = 0
    val end: Int = b.length * 8
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        if (pos >= end) damage()
        v |= ((b(pos >>> 3) >>> (pos & 7)) & 1) << i
        pos += 1
        i += 1
      }
      v
    }
    def bit(): Int = bits(1)
    def align(): Unit = pos = (pos + 7) & ~7
    def byteAt: Int = pos >>> 3
  }

  // ---- canonical prefix codes ----------------------------------------------

  /** Canonical code over `lengths` (DEFLATE bit order: successive
    * stream bits extend the code MSB-first). `single` >= 0 marks the
    * zero-bit degenerate code.
    */
  private final class PrefixCode(val single: Int,
                                 lengths: Array[Int]) {
    private val count = new Array[Int](16)
    private val firstCode = new Array[Int](16)
    private val firstIdx = new Array[Int](16)
    private val symbols: Array[Int] =
      if (single >= 0) null
      else {
        lengths.foreach { l =>
          if (l < 0 || l > 15) damage()
          if (l > 0) count(l) += 1
        }
        var code = 0
        var idx = 0
        var l = 1
        while (l <= 15) {
          firstCode(l) = code
          firstIdx(l) = idx
          code = (code + count(l)) << 1
          idx += count(l)
          l += 1
        }
        // exact space: a readable code must tile the space fully
        var space = 0L
        lengths.foreach(l => if (l > 0) space += 32768L >> l)
        if (space != 32768L) damage()
        val syms = new Array[Int](idx)
        val next = firstIdx.clone()
        var s = 0
        while (s < lengths.length) {
          if (lengths(s) > 0) {
            syms(next(lengths(s))) = s
            next(lengths(s)) += 1
          }
          s += 1
        }
        syms
      }
    def read(br: BR): Int = {
      if (single >= 0) return single
      var code = 0
      var len = 0
      while (true) {
        code = (code << 1) | br.bit()
        len += 1
        if (len > 15) damage()
        if (count(len) > 0 && code >= firstCode(len) &&
          code - firstCode(len) < count(len))
          return symbols(firstIdx(len) + code - firstCode(len))
      }
      0
    }
  }

  /** The fixed code over code-length-code lengths (RFC §3.5):
    * symbols 0..5, lengths (2,4,3,2,2,4).
    */
  private lazy val ClClCode =
    new PrefixCode(-1, Array(2, 4, 3, 2, 2, 4) ++ Array.fill(12)(0))

  private def alphabetBits(alphabet: Int): Int =
    math.max(1, 32 - Integer.numberOfLeadingZeros(alphabet - 1))

  /** Read one prefix code (RFC §3.4 simple / §3.5 complex). */
  private def readCode(br: BR, alphabet: Int): PrefixCode = {
    if (alphabet < 1 || alphabet > 704) damage()
    val hskip = br.bits(2)
    if (hskip == 1) {
      // simple: 1-4 explicit symbols
      val nsym = br.bits(2) + 1
      val abits = alphabetBits(alphabet)
      val syms = new Array[Int](nsym)
      var i = 0
      while (i < nsym) {
        val s = br.bits(abits)
        if (s >= alphabet) damage()
        var j = 0
        while (j < i) { if (syms(j) == s) damage(); j += 1 }
        syms(i) = s
        i += 1
      }
      val lengths = new Array[Int](alphabet)
      nsym match {
        case 1 => return new PrefixCode(syms(0), null)
        case 2 =>
          lengths(syms(0)) = 1; lengths(syms(1)) = 1
        case 3 =>
          lengths(syms(0)) = 1
          lengths(syms(1)) = 2; lengths(syms(2)) = 2
        case 4 =>
          if (br.bit() == 0) syms.foreach(lengths(_) = 2)
          else {
            lengths(syms(0)) = 1
            lengths(syms(1)) = 2
            lengths(syms(2)) = 3; lengths(syms(3)) = 3
          }
      }
      new PrefixCode(-1, lengths)
    } else {
      // complex: code-length code in ClOrder, first `hskip` skipped
      val clLens = new Array[Int](18)
      var space = 0
      var numCl = 0
      var i = hskip
      while (i < 18 && space < 32) {
        val v = ClClCode.read(br)
        clLens(ClOrder(i)) = v
        if (v != 0) { space += 32 >> v; numCl += 1 }
        i += 1
      }
      if (numCl != 1 && space != 32) damage()
      val clCode =
        if (numCl == 1) new PrefixCode(clLens.indexWhere(_ != 0), null)
        else new PrefixCode(-1, clLens)
      // symbol lengths with 16/17 repeats and brotli's accumulation
      val lengths = new Array[Int](alphabet)
      var sym = 0
      var symSpace = 0L
      var prevLen = 8 // last emitted nonzero length, initial 8
      var repCode = 0
      var repCount = 0
      var nonzero = 0
      while (sym < alphabet && symSpace < 32768L) {
        val s = clCode.read(br)
        if (s < 16) {
          repCode = 0
          lengths(sym) = s
          sym += 1
          if (s != 0) {
            prevLen = s
            nonzero += 1
            symSpace += 32768L >> s
          }
        } else {
          val extraBits = if (s == 16) 2 else 3
          val extra = br.bits(extraBits)
          val oldCount = if (repCode == s) repCount else 0
          repCount =
            if (repCode == s)
              ((repCount - 2) << extraBits) + extra + 3
            else extra + 3
          repCode = s
          val emit = repCount - oldCount
          val len = if (s == 16) prevLen else 0
          if (sym + emit > alphabet) damage()
          var k = 0
          while (k < emit) {
            lengths(sym) = len
            sym += 1
            k += 1
          }
          if (len != 0) {
            nonzero += emit
            symSpace += (32768L >> len) * emit
          }
        }
      }
      if (symSpace > 32768L) damage()
      if (symSpace < 32768L) {
        if (nonzero != 1) damage()
        new PrefixCode(lengths.indexWhere(_ != 0), null)
      } else new PrefixCode(-1, lengths)
    }
  }

  // ---- header pieces --------------------------------------------------------

  private def windowBits(br: BR): Int =
    if (br.bit() == 0) 16
    else {
      val n = br.bits(3)
      if (n != 0) 17 + n
      else {
        val m = br.bits(3)
        if (m == 0) 17
        else if (m == 1) damage()
        else 8 + m
      }
    }

  private def varLenUint8(br: BR): Int =
    if (br.bit() == 0) 1
    else {
      val n = br.bits(3)
      (1 << n) + br.bits(n) + 1
    }

  /** Context map (RFC §7.3): RLE of zeros + optional inverse MTF. */
  private def readContextMap(br: BR, size: Int,
                             ntrees: Int): Array[Int] = {
    if (ntrees == 1) return new Array[Int](size)
    val rlemax = if (br.bit() == 0) 0 else br.bits(4) + 1
    val code = readCode(br, ntrees + rlemax)
    val cmap = new Array[Int](size)
    var i = 0
    while (i < size) {
      val s = code.read(br)
      if (s == 0) { cmap(i) = 0; i += 1 }
      else if (s <= rlemax) {
        val reps = (1 << s) + br.bits(s)
        if (i + reps > size) damage()
        var j = 0
        while (j < reps) { cmap(i) = 0; i += 1; j += 1 }
      } else {
        val v = s - rlemax
        if (v >= ntrees) damage()
        cmap(i) = v
        i += 1
      }
    }
    if (br.bit() == 1) {
      // inverse move-to-front over the map values
      val mtf = Array.tabulate(256)(identity)
      var k = 0
      while (k < size) {
        val idx = cmap(k)
        val v = mtf(idx)
        cmap(k) = v
        var j = idx
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        k += 1
      }
      if (cmap.exists(_ >= ntrees)) damage()
    }
    cmap
  }

  /** One category's block-switch state (RFC §6). */
  private final class BlockCat(br: BR, val nTypes: Int) {
    var btype = 0
    private var prevBtype = 1
    private val typeCode: PrefixCode =
      if (nTypes >= 2) readCode(br, nTypes + 2) else null
    private val countCode: PrefixCode =
      if (nTypes >= 2) readCode(br, 26) else null
    var blen: Int =
      if (nTypes >= 2) readCount(br) else Int.MaxValue
    private def readCount(br: BR): Int = {
      val s = countCode.read(br)
      if (s >= 26) damage()
      BlkOff(s) + br.bits(BlkBits(s))
    }
    def tick(br: BR): Unit = {
      if (blen == 0) {
        val s = typeCode.read(br)
        val nt =
          if (s == 0) prevBtype
          else if (s == 1) (btype + 1) % nTypes
          else s - 2
        if (nt >= nTypes) damage()
        prevBtype = btype
        btype = nt
        blen = readCount(br)
      }
      blen -= 1
    }
  }

  // ---- dictionary transforms (RFC Appendix B) -------------------------------

  private def ferment(w: Array[Byte], i: Int): Int = {
    val c = w(i) & 0xff
    if (c < 192) {
      if (c >= 'a' && c <= 'z') w(i) = (c ^ 32).toByte
      1
    } else if (c < 224) {
      if (i + 1 < w.length) w(i + 1) = (w(i + 1) ^ 32).toByte
      2
    } else {
      if (i + 2 < w.length) w(i + 2) = (w(i + 2) ^ 5).toByte
      3
    }
  }

  private def transformWord(word: Array[Byte],
                            tid: Int): Array[Byte] = {
    val (pre, op, suf) = Transforms(tid)
    var w = word
    if (op >= 1 && op <= 9) { // omit last N
      w =
        if (op >= w.length) Array.emptyByteArray
        else java.util.Arrays.copyOfRange(w, 0, w.length - op)
    } else if (op >= 12 && op <= 20) { // omit first N
      val n = op - 11
      w =
        if (n >= w.length) Array.emptyByteArray
        else java.util.Arrays.copyOfRange(w, n, w.length)
    } else if (op == 10) {
      w = w.clone(); if (w.nonEmpty) ferment(w, 0)
    } else if (op == 11) {
      w = w.clone()
      var i = 0
      while (i < w.length) i += ferment(w, i)
    } else if (op != 0) damage()
    val out = new Array[Byte](pre.length + w.length + suf.length)
    System.arraycopy(pre, 0, out, 0, pre.length)
    System.arraycopy(w, 0, out, pre.length, w.length)
    System.arraycopy(suf, 0, out, pre.length + w.length, suf.length)
    out
  }

  // ---- decode ---------------------------------------------------------------

  /** Decode a complete brotli stream. None on ANY malformation or if
    * the output would exceed `maxOut`.
    */
  def decode(b: Array[Byte], maxOut: Int = 1 << 26)
      : Option[Array[Byte]] =
    try {
      val br = new BR(b)
      val wbits = windowBits(br)
      val winSize = (1 << wbits) - 16
      var buf = new Array[Byte](math.min(64 * 1024, maxOut + 1))
      var pos = 0
      def ensure(n: Int): Unit = {
        if (n < 0 || pos + n > maxOut) damage()
        while (pos + n > buf.length)
          buf = java.util.Arrays.copyOf(buf,
            math.min(math.max(buf.length * 2, pos + n),
              maxOut + 64))
      }
      // distance ring buffer: grows upward, last = rb((idx+3)&3)
      val rb = Array(16, 15, 11, 4)
      var rbIdx = 0

      var last = false
      while (!last) {
        last = br.bit() == 1
        val lastEmpty = last && br.bit() == 1
        if (!lastEmpty) {
          val mnib = br.bits(2)
          if (mnib == 3) {
            // metadata meta-block: skip MSKIPLEN bytes
            if (br.bit() != 0) damage()
            val nbytes = br.bits(2)
            var skip = 0
            var i = 0
            while (i < nbytes) {
              val v = br.bits(8)
              // a zero LAST byte is only invalid when it would make a
              // shorter MSKIPBYTES encoding possible (RFC 7932 §9.2 /
              // libbrotli decode.c): MSKIPBYTES=1 may carry value 0
              // (MSKIPLEN=1)
              if (nbytes > 1 && i == nbytes - 1 && v == 0) damage()
              skip |= v << (8 * i)
              i += 1
            }
            if (nbytes > 0) skip += 1
            br.align()
            if (br.byteAt + skip > b.length) damage()
            br.pos += skip * 8
          } else {
            val nibbles = mnib + 4
            val mlen = br.bits(4 * nibbles) + 1
            if (mnib > 0 && ((mlen - 1) >>> (4 * (nibbles - 1))) == 0)
              damage() // top nibble must be nonzero
            val uncompressed = !last && br.bit() == 1
            if (uncompressed) {
              br.align()
              ensure(mlen)
              val start = br.byteAt
              if (start + mlen > b.length) damage()
              System.arraycopy(b, start, buf, pos, mlen)
              pos += mlen
              br.pos += mlen * 8
            } else {
              // ---- compressed meta-block ----
              val catL = new BlockCat(br, varLenUint8(br))
              val catI = new BlockCat(br, varLenUint8(br))
              val catD = new BlockCat(br, varLenUint8(br))
              val npostfix = br.bits(2)
              val ndirect = br.bits(4) << npostfix
              val cmodes = Array.fill(catL.nTypes)(br.bits(2))
              val ntreesL = varLenUint8(br)
              val cmapL = readContextMap(br, catL.nTypes * 64, ntreesL)
              val ntreesD = varLenUint8(br)
              val cmapD = readContextMap(br, catD.nTypes * 4, ntreesD)
              val litCodes =
                Array.fill(ntreesL)(readCode(br, 256))
              val icCodes =
                Array.fill(catI.nTypes)(readCode(br, 704))
              val distAlphabet = 16 + ndirect + (48 << npostfix)
              val distCodes =
                Array.fill(ntreesD)(readCode(br, distAlphabet))

              var toDecode = mlen
              while (toDecode > 0) {
                catI.tick(br)
                val icSym = icCodes(catI.btype).read(br)
                val rangeIdx = icSym >> 6
                val implicitDist = rangeIdx < 2
                val lutIdx =
                  if (implicitDist) rangeIdx else rangeIdx - 2
                val insCode = InsLut(lutIdx) + ((icSym >> 3) & 7)
                val cpyCode = CpyLut(lutIdx) + (icSym & 7)
                val insLen = InsOff(insCode) + br.bits(InsBits(insCode))
                val cpyLen = CpyOff(cpyCode) + br.bits(CpyBits(cpyCode))
                // literals, context-modeled
                var i = 0
                while (i < insLen) {
                  if (toDecode == 0) damage()
                  catL.tick(br)
                  val mode = cmodes(catL.btype)
                  val p1 = if (pos > 0) buf(pos - 1) & 0xff else 0
                  val p2 = if (pos > 1) buf(pos - 2) & 0xff else 0
                  val ctx = (CtxLut(mode * 512 + p1) & 0xff) |
                    (CtxLut(mode * 512 + 256 + p2) & 0xff)
                  val lit =
                    litCodes(cmapL(catL.btype * 64 + ctx)).read(br)
                  ensure(1)
                  buf(pos) = lit.toByte
                  pos += 1
                  toDecode -= 1
                  i += 1
                }
                if (toDecode > 0) {
                  val maxDist = math.min(pos.toLong, winSize.toLong)
                  var dist = 0L
                  var push = false
                  if (implicitDist) dist = rb((rbIdx + 3) & 3).toLong
                  else {
                    catD.tick(br)
                    val dctx = math.min(cpyLen - 2, 3)
                    val dsym =
                      distCodes(cmapD(catD.btype * 4 + dctx)).read(br)
                    if (dsym < 16) {
                      if (dsym == 0) dist = rb((rbIdx + 3) & 3).toLong
                      else {
                        val dv = rb((rbIdx + ShortIdx(dsym)) & 3) +
                          ShortDelta(dsym)
                        if (dv <= 0) damage()
                        dist = dv.toLong
                        push = true
                      }
                    } else if (dsym < 16 + ndirect) {
                      dist = (dsym - 16 + 1).toLong
                      push = true
                    } else {
                      val c = dsym - 16 - ndirect
                      val postfix = c & ((1 << npostfix) - 1)
                      val hc = c >>> npostfix
                      val nbits = 1 + (hc >> 1)
                      if (nbits > 24) damage()
                      val off = ((2L + (hc & 1)) << nbits) - 4L
                      dist = ((off + br.bits(nbits)) << npostfix) +
                        postfix + ndirect + 1
                      push = true
                    }
                  }
                  if (dist <= maxDist) {
                    if (cpyLen > toDecode) damage()
                    ensure(cpyLen)
                    val d = dist.toInt
                    var j = 0
                    while (j < cpyLen) {
                      buf(pos) = buf(pos - d)
                      pos += 1
                      j += 1
                    }
                    toDecode -= cpyLen
                    if (push) {
                      rb(rbIdx & 3) = d
                      rbIdx += 1
                    }
                  } else {
                    // static dictionary reference
                    if (cpyLen < 4 || cpyLen > 24) damage()
                    val wordId = dist - maxDist - 1
                    val sb = DictSizeBits(cpyLen)
                    val index = (wordId & ((1L << sb) - 1)).toInt
                    val tid = (wordId >>> sb).toInt
                    if (tid >= Transforms.length || wordId < 0)
                      damage()
                    val word = java.util.Arrays.copyOfRange(Dict,
                      DictOffsets(cpyLen) + index * cpyLen,
                      DictOffsets(cpyLen) + (index + 1) * cpyLen)
                    val w = transformWord(word, tid)
                    if (w.length > toDecode) damage()
                    ensure(w.length)
                    System.arraycopy(w, 0, buf, pos, w.length)
                    pos += w.length
                    toDecode -= w.length
                    // dictionary hits never enter the ring buffer
                  }
                }
              }
            }
          }
        }
      }
      Some(java.util.Arrays.copyOf(buf, pos))
    } catch {
      case _: Damage => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
}
