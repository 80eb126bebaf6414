package graft.sources

/** Brotli ENCODER (RFC 7932) from first principles — the write twin
  * of [[Brotli]], closing parquet codec 4 in BOTH directions (every
  * parquet codec the format defines is now own-code both ways).
  *
  * Emits the simplest spec-valid compressed form: WBITS=22, one
  * block type per category, no context maps (NTREES=1), NPOSTFIX=0 /
  * NDIRECT=0, explicit distances only (the ring-buffer short codes
  * are a decode-side obligation, not an encode-side one), greedy
  * hash-chain LZ77 (the house match-finder shape — [[Lz4Encode]],
  * [[LzmaEncode]]), and per-meta-block Huffman codes over the
  * observed literal / insert©​ / distance symbol frequencies,
  * serialized as RFC §3.5 complex prefix codes (fixed code-length
  * code, zero runs via 17 WITH the consecutive-repeat accumulation
  * rule) or §3.4 simple codes when ≤4 symbols are used. Inputs over
  * 4 MiB split into chained meta-blocks; matches may reach back
  * across blocks (one window, per the format).
  *
  * Validation: BrotliSpec round-trips through the engine's own
  * decoder AND through CPython's ctypes binding of libbrotlidec (the
  * reference C decoder) — own bytes, foreign reader.
  */
object BrotliEncode {

  private val WBits = 22
  private val WinSize = (1 << WBits) - 16
  private val BlockCap = 1 << 22 // meta-block payload cap (≤ 2^24)
  private val MinMatch = 4
  private val ChainDepth = 48
  private val HashBits = 16

  // insert / copy length code tables (RFC §5, shared with the reader)
  private val InsOff = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26,
    34, 50, 66, 98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsBits = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4,
    4, 5, 5, 6, 7, 8, 9, 10, 12, 14, 24)
  private val CpyOff = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18,
    22, 30, 38, 54, 70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CpyBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3,
    3, 4, 4, 5, 5, 6, 7, 8, 9, 10, 24)
  // (insHigh, cpyHigh) -> IC cell for EXPLICIT distances (cell - 2)
  private val CellOf: Map[(Int, Int), Int] = Map(
    (0, 0) -> 0, (0, 1) -> 1, (1, 0) -> 2, (1, 1) -> 3, (0, 2) -> 4,
    (2, 0) -> 5, (1, 2) -> 6, (2, 1) -> 7, (2, 2) -> 8)
  private val ClOrder =
    Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)
  // the fixed code over code-length-code lengths: value -> (code, len)
  // (canonical over lengths (2,4,3,2,2,4) for symbols 0..5)
  private val ClClCode: Array[(Int, Int)] =
    canonical(Array(2, 4, 3, 2, 2, 4))

  // ---- bit writer (LSB-first) ----------------------------------------------

  private final class BW {
    val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var n = 0
    def bits(v: Int, len: Int): Unit = {
      acc |= (v.toLong & ((1L << len) - 1)) << n
      n += len
      while (n >= 8) {
        out.write((acc & 0xff).toInt)
        acc >>>= 8
        n -= 8
      }
    }
    /** MSB-first code bits (prefix codes are read code-MSB-first). */
    def code(c: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) { bits((c >>> i) & 1, 1); i -= 1 }
    }
    def flush(): Array[Byte] = {
      if (n > 0) { out.write((acc & 0xff).toInt); acc = 0; n = 0 }
      out.toByteArray
    }
  }

  // ---- canonical codes ------------------------------------------------------

  /** (code, len) per symbol from lengths — the reader's assignment:
    * sorted by (len, sym), codes counted up per length.
    */
  private def canonical(lengths: Array[Int]): Array[(Int, Int)] = {
    val count = new Array[Int](16)
    lengths.foreach(l => if (l > 0) count(l) += 1)
    val next = new Array[Int](16)
    var c = 0
    var l = 1
    while (l <= 15) {
      next(l) = c
      c = (c + count(l)) << 1
      l += 1
    }
    val out = new Array[(Int, Int)](lengths.length)
    var s = 0
    while (s < lengths.length) {
      if (lengths(s) > 0) {
        out(s) = (next(lengths(s)), lengths(s))
        next(lengths(s)) += 1
      } else out(s) = null
      s += 1
    }
    out
  }

  /** Huffman code lengths, limited to `maxLen`, Kraft-exact (the
    * reader requires the space to tile exactly). Symbols with zero
    * frequency get length 0. Requires >= 2 used symbols.
    */
  private def huffmanLengths(freq: Array[Long],
                             maxLen: Int): Array[Int] = {
    val used = freq.indices.filter(freq(_) > 0)
    require(used.length >= 2)
    // plain Huffman over (freq, node) heap
    final case class Node(f: Long, sym: Int, l: Node, r: Node)
    val pq = new java.util.PriorityQueue[Node](
      used.length, (a: Node, b: Node) => java.lang.Long.compare(a.f, b.f))
    used.foreach(s => pq.add(Node(freq(s), s, null, null)))
    while (pq.size > 1) {
      val a = pq.poll(); val b = pq.poll()
      pq.add(Node(a.f + b.f, -1, a, b))
    }
    val lens = new Array[Int](freq.length)
    def depth(n: Node, d: Int): Unit =
      if (n.sym >= 0) lens(n.sym) = math.max(1, d)
      else { depth(n.l, d + 1); depth(n.r, d + 1) }
    depth(pq.poll(), 0)
    // clamp + exact Kraft repair in units of 2^-maxLen
    var k = 0L
    lens.indices.foreach { s =>
      if (lens(s) > maxLen) lens(s) = maxLen
      if (lens(s) > 0) k += 1L << (maxLen - lens(s))
    }
    val target = 1L << maxLen
    while (k > target) {
      // lengthen the longest sub-max symbol (smallest step first)
      val s = lens.indices.filter(i =>
        lens(i) > 0 && lens(i) < maxLen).maxBy(lens(_))
      k -= 1L << (maxLen - lens(s) - 1)
      lens(s) += 1
    }
    var fixable = true
    while (k < target && fixable) {
      // shorten the deepest symbol whose step still fits
      val cands = lens.indices.filter(i => lens(i) > 1 &&
        k + (1L << (maxLen - lens(i))) <= target)
      if (cands.isEmpty) fixable = false
      else {
        val s = cands.maxBy(lens(_))
        k += 1L << (maxLen - lens(s))
        lens(s) -= 1
      }
    }
    require(k == target, s"kraft $k != $target")
    lens
  }

  // ---- prefix-code serialization (RFC §3.4 / §3.5) --------------------------

  /** Write the code for `freq` over `alphabet`; returns the per-symbol
    * (code, len) table used for the data (null entries = unused).
    * Zero used symbols is legal for a code that is never consulted —
    * a 1-symbol simple code over symbol 0 is emitted.
    */
  private def writeCode(bw: BW, freq: Array[Long],
                        alphabet: Int): Array[(Int, Int)] = {
    val abits = math.max(1,
      32 - Integer.numberOfLeadingZeros(alphabet - 1))
    val used = freq.indices.filter(freq(_) > 0)
    if (used.length <= 4) {
      // simple code (HSKIP = 1)
      bw.bits(1, 2)
      val syms =
        if (used.isEmpty) Seq(0)
        else if (used.length == 3)
          // the first listed symbol takes the 1-bit code
          Seq(used.maxBy(freq(_))) ++
            used.filterNot(_ == used.maxBy(freq(_))).sorted
        else used.sorted
      bw.bits(syms.length - 1, 2)
      syms.foreach(s => bw.bits(s, abits))
      if (syms.length == 4) bw.bits(0, 1) // flat (2,2,2,2)
      val lengths = new Array[Int](alphabet)
      syms.length match {
        case 1 => return freq.indices
          .map(s => if (s == syms.head) (0, 0) else null).toArray
        case 2 => syms.foreach(lengths(_) = 1)
        case 3 =>
          lengths(syms.head) = 1
          syms.tail.foreach(lengths(_) = 2)
        case 4 => syms.foreach(lengths(_) = 2)
      }
      canonical(lengths)
    } else {
      // complex code (HSKIP = 0)
      val lens = huffmanLengths(freq, 15)
      // RLE the length sequence: literals + 17-runs for zeros (with
      // the consecutive-17 accumulation rule)
      val clSyms = Seq.newBuilder[(Int, Int)] // (cl symbol, extra)
      var i = 0
      while (i < alphabet) {
        if (lens(i) == 0) {
          var run = 0
          while (i + run < alphabet && lens(i + run) == 0) run += 1
          // never spend a run on trailing zeros — the reader stops
          // at full space
          val trailing = i + run == alphabet
          if (trailing) i = alphabet
          else {
            // consecutive 17s ACCUMULATE in every conforming reader
            // (RFC 3.5), so alternate 17-runs with a literal zero to
            // keep each run independent — simple and unambiguous
            var left = run
            var after17 = false
            while (left > 0) {
              if (left >= 3 && !after17) {
                val take = math.min(left, 10)
                clSyms += ((17, take - 3))
                left -= take
                after17 = true
              } else {
                clSyms += ((0, -1))
                left -= 1
                after17 = false
              }
            }
            i += run
          }
        } else {
          clSyms += ((lens(i), -1))
          i += 1
        }
      }
      val seq = clSyms.result()
      // code-length code over the cl symbols actually used
      val clFreq = new Array[Long](18)
      seq.foreach { case (s, _) => clFreq(s) += 1 }
      val clLens: Array[Int] =
        if (clFreq.count(_ > 0) == 1) {
          // single used cl symbol: give it length 1 and donate the
          // sibling to an arbitrary other symbol? The reader accepts
          // numCl == 1 as a zero-bit code — emit just that one.
          val only = clFreq.indexWhere(_ > 0)
          val a = new Array[Int](18)
          a(only) = 1 // written below; reader treats single as 0-bit
          a
        } else huffmanLengths(clFreq, 5)
      val singleCl = clFreq.count(_ > 0) == 1
      bw.bits(0, 2) // HSKIP = 0
      // cl lengths in ClOrder until the space fills
      var space = 0
      var j = 0
      while (j < 18 && space < 32) {
        val v = clLens(ClOrder(j))
        val (cc, cl) = ClClCode(v)
        bw.code(cc, cl)
        if (v != 0) space += 32 >> v
        j += 1
      }
      val clCode = canonical(clLens)
      seq.foreach { case (s, extra) =>
        if (!singleCl) {
          val (cc, cl) = clCode(s)
          bw.code(cc, cl)
        }
        // a single-cl-symbol code is zero-bit: nothing to write
        if (s == 17) bw.bits(extra, 3)
        else if (s == 16) bw.bits(extra, 2)
      }
      canonical(lens)
    }
  }

  // ---- LZ77 parse -----------------------------------------------------------

  private final case class Cmd(insStart: Int, insLen: Int,
                               cpyLen: Int, dist: Int)

  private def insCodeOf(v: Int): Int = {
    var c = 23
    while (c > 0 && InsOff(c) > v) c -= 1
    c
  }
  private def cpyCodeOf(v: Int): Int = {
    var c = 23
    while (c > 0 && CpyOff(c) > v) c -= 1
    c
  }
  /** Explicit distance symbol under NPOSTFIX=0/NDIRECT=0: 16 + hcode
    * with nbits = 1 + (hcode >> 1), plus the extra-bit payload.
    */
  private def distCodeOf(dist: Int): (Int, Int, Int) = {
    var h = 0
    while (true) {
      val nbits = 1 + (h >> 1)
      val off = ((2L + (h & 1)) << nbits) - 4L
      if (dist - 1 >= off && dist - 1 - off < (1L << nbits))
        return (16 + h, (dist - 1 - off).toInt, nbits)
      h += 1
    }
    (0, 0, 0)
  }

  private def parse(b: Array[Byte], from: Int, until: Int,
                    head: Array[Int], prev: Array[Int]): Seq[Cmd] = {
    def h4(i: Int): Int = {
      val v = Bytes.le32(b, i)
      (v * 0x9E3779B1) >>> (32 - HashBits)
    }
    val cmds = Seq.newBuilder[Cmd]
    var i = from
    var litStart = from
    while (i < until) {
      var bestLen = 0
      var bestDist = 0
      if (i + MinMatch <= until) {
        var j = head(h4(i))
        var depth = ChainDepth
        while (j >= 0 && depth > 0) {
          val d = i - j
          if (d >= 1 && d <= WinSize) {
            var l = 0
            val cap = until - i
            while (l < cap && b(j + l) == b(i + l)) l += 1
            if (l > bestLen ||
              (l == bestLen && d < bestDist)) {
              if (l >= MinMatch) { bestLen = l; bestDist = d }
            }
          }
          val jn = prev(j & (prev.length - 1))
          // prev slots alias across the ring: a clobbered slot can
          // point forward — the chain must walk strictly backwards
          j = if (jn >= j) -1 else jn
          depth -= 1
        }
      }
      if (bestLen >= MinMatch) {
        cmds += Cmd(litStart, i - litStart, bestLen, bestDist)
        // index the matched region (sparsely for speed)
        val end = i + bestLen
        while (i < end && i + MinMatch <= until) {
          val h = h4(i)
          prev(i & (prev.length - 1)) = head(h)
          head(h) = i
          i += 1
        }
        i = end
        litStart = i
      } else {
        if (i + MinMatch <= until) {
          val h = h4(i)
          prev(i & (prev.length - 1)) = head(h)
          head(h) = i
        }
        i += 1
      }
    }
    if (litStart < until)
      cmds += Cmd(litStart, until - litStart, 2, 0) // trailing inserts
    val out = cmds.result()
    if (out.isEmpty) Seq(Cmd(from, 0, 2, 0)) else out
  }

  // ---- encode ---------------------------------------------------------------

  /** Encode `data` as a complete brotli stream. */
  def compress(data: Array[Byte]): Array[Byte] = {
    val bw = new BW
    // WBITS = 22: '1' then 3-bit value 5 (17 + 5)
    bw.bits(1, 1)
    bw.bits(5, 3)
    if (data.isEmpty) {
      bw.bits(1, 1) // ISLAST
      bw.bits(1, 1) // ISLASTEMPTY
      return bw.flush()
    }
    val head = Array.fill(1 << HashBits)(-1)
    val prev = Array.fill(1 << 18)(-1)
    var at = 0
    while (at < data.length) {
      val until = math.min(data.length, at + BlockCap)
      val mlen = until - at
      val last = until == data.length
      bw.bits(if (last) 1 else 0, 1)
      if (last) bw.bits(0, 1) // ISLASTEMPTY = 0
      val nibbles =
        if (mlen <= (1 << 16)) 4
        else if (mlen <= (1 << 20)) 5
        else 6
      bw.bits(nibbles - 4, 2)
      bw.bits(mlen - 1, 4 * nibbles)
      if (!last) bw.bits(0, 1) // ISUNCOMPRESSED = 0
      // one block type per category
      bw.bits(0, 1); bw.bits(0, 1); bw.bits(0, 1)
      bw.bits(0, 2) // NPOSTFIX
      bw.bits(0, 4) // NDIRECT
      bw.bits(0, 2) // CMODE (single literal block type)
      bw.bits(0, 1) // NTREESL = 1
      bw.bits(0, 1) // NTREESD = 1
      val cmds = parse(data, at, until, head, prev)
      // frequencies
      val litF = new Array[Long](256)
      val icF = new Array[Long](704)
      val distF = new Array[Long](64)
      val emitted = Seq.newBuilder[(Cmd, Int, Int, Int, Int, Int)]
      var produced = 0
      cmds.foreach { c =>
        val ins = insCodeOf(c.insLen)
        val cpy = cpyCodeOf(c.cpyLen)
        val cell = CellOf((ins >> 3, cpy >> 3)) + 2
        val sym = (cell << 6) | ((ins & 7) << 3) | (cpy & 7)
        icF(sym) += 1
        var k = 0
        while (k < c.insLen) {
          litF(data(c.insStart + k) & 0xff) += 1
          k += 1
        }
        produced += c.insLen
        val copies = produced < mlen
        val (dsym, dextra, dbits) =
          if (copies) distCodeOf(c.dist) else (0, 0, 0)
        if (copies) {
          distF(dsym) += 1
          produced += c.cpyLen
        }
        emitted += ((c, sym, ins, cpy,
          if (copies) dsym else -1, dextra))
      }
      require(produced == mlen, s"parse covered $produced != $mlen")
      val litCode = writeCode(bw, litF, 256)
      val icCode = writeCode(bw, icF, 704)
      val distCode = writeCode(bw, distF, 64)
      // data
      emitted.result().foreach { case (c, sym, ins, cpy, dsym, dx) =>
        val (ic, il) = icCode(sym)
        bw.code(ic, il)
        bw.bits(c.insLen - InsOff(ins), InsBits(ins))
        bw.bits(c.cpyLen - CpyOff(cpy), CpyBits(cpy))
        var k = 0
        while (k < c.insLen) {
          val (lc, ll) = litCode(data(c.insStart + k) & 0xff)
          bw.code(lc, ll)
          k += 1
        }
        if (dsym >= 0) {
          val (dc, dl) = distCode(dsym)
          bw.code(dc, dl)
          val nbits = 1 + ((dsym - 16) >> 1)
          bw.bits(dx, nbits)
        }
      }
      at = until
    }
    bw.flush()
  }
}
