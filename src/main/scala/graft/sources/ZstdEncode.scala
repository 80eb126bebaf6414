package graft.sources

/** Zstandard COMPRESSOR (RFC 8878 write side): greedy LZ77 over
  * 4-byte hash chains turned into zstd sequences, encoded as
  * Compressed_Blocks with Huffman-or-raw literals and the three
  * sequence channels FSE-coded under whichever of the spec's modes
  * is smallest per block — PREDEFINED distributions (no description
  * on the wire), RLE (one code), or FSE_Compressed (a custom
  * normalized distribution + the §4.1.1 table description, both
  * written here). The backward sequence bitstream is the exact
  * mirror of [[ZstdEntropy.decompressBlock]]'s reads: fields emitted
  * in reverse decode order (per-boundary state bits OF←ML←LL,
  * per-sequence extras LL←ML←OF, init states ML←OF←LL last, padding
  * marker on top), FSE states chosen by the inverse walk over the
  * SAME table spread [[ZstdEntropy.buildFseTable]] builds, so write
  * and read agree by construction.
  *
  * The algorithm is deliberately simple and fully deterministic:
  * fixed hash, chain limit 64, greedy nearest-longest match (min 4),
  * per-64 KiB-block sequence derivation with a per-block raw
  * fallback when the entropy form does not win. Output frames are
  * single-segment with a 4-byte content size and an XXH64 content
  * checksum; ZstdSpec pins that zstd-jni (libzstd) decodes every
  * output byte-exact and the engine's own [[Zstd.walk]] round-trips
  * it.
  */
object ZstdEncode {

  import Bytes.{Damage, damage}

  // ---- FSE encode transform ----------------------------------------------

  /** The encode-side view of one predefined table: for each symbol,
    * its decode states in increasing index order (their nextState
    * values are consecutive from the effective count), plus the
    * accuracy log. Encoding runs the decoder's transition backward:
    * with encoder state X in [size, 2*size), emitting symbol s finds
    * nb with (X >> nb) in [c, 2c), outputs X's low nb bits, and moves
    * to the state whose nextState is X >> nb.
    */
  private final class FseEnc(counts: Array[Int], val log: Int) {
    private val size = 1 << log
    private val table = ZstdEntropy.buildFseTable(counts, log)
    private val cEff: Array[Int] =
      counts.map(c => if (c == -1) 1 else c)
    private val statesOf: Array[Array[Int]] = {
      val buf = Array.fill(counts.length)(Array.newBuilder[Int])
      var u = 0
      while (u < size) { buf(table.symbol(u)) += u; u += 1 }
      buf.map(_.result())
    }
    /** A canonical start state for `sym` (encoder init = the decode
      * chain's LAST state, free to choose; first spread state keeps
      * the layout deterministic).
      */
    def initState(sym: Int): Int = {
      if (sym >= statesOf.length || statesOf(sym).isEmpty) damage()
      size + statesOf(sym)(0)
    }
    /** Encode `sym` against encoder state `x`; returns (bits, nb,
      * newX) where the decoder at newX-size reads nb bits = bits to
      * land on x-size.
      */
    def encode(sym: Int, x: Int): (Int, Int, Int) = {
      if (sym >= statesOf.length || statesOf(sym).isEmpty) damage()
      val c = cEff(sym)
      var nb = 0
      while ((x >> nb) >= 2 * c) nb += 1
      val v = x >> nb
      if (v < c) damage()
      (x & ((1 << nb) - 1), nb, size + statesOf(sym)(v - c))
    }
  }

  private lazy val EncLL = new FseEnc(ZstdEntropy.PredefLLCounts, 6)
  private lazy val EncML = new FseEnc(ZstdEntropy.PredefMLCounts, 6)
  private lazy val EncOF = new FseEnc(ZstdEntropy.PredefOFCounts, 5)

  // ---- custom sequence tables (modes RLE / FSE_Compressed) ---------------

  /** One channel's coding choice: `mode` per the spec (0 predefined,
    * 1 RLE, 2 FSE_Compressed), the on-wire description bytes (empty /
    * the symbol byte / the FSE table description), and the encode
    * transform.
    */
  private final case class ChannelPlan(mode: Int, desc: Array[Byte],
                                       enc: FseEnc)

  /** Normalize a code histogram onto a 2^log table: proportional
    * shares rounded down, zero shares become the spec's
    * less-than-one (-1, one high-end state), the remainder folded
    * into the most frequent symbol. None when the fold would drive
    * it non-positive (skewed tiny inputs — predefined wins there
    * anyway).
    */
  private def normalizeCounts(hist: Array[Long],
                              log: Int): Option[Array[Int]] = {
    val total = hist.sum
    if (total < 2) return None
    val size = 1 << log
    val norm = new Array[Int](hist.length)
    var used = 0
    var maxS = -1
    var maxV = -1L
    var s = 0
    while (s < hist.length) {
      if (hist(s) > 0) {
        val share = ((hist(s) * size) / total).toInt
        norm(s) = if (share == 0) -1 else share
        used += (if (share == 0) 1 else share)
        if (hist(s) > maxV) { maxV = hist(s); maxS = s }
      }
      s += 1
    }
    val slack = size - used
    if (maxS < 0 || norm(maxS) <= 0 || norm(maxS) + slack < 1) None
    else {
      norm(maxS) += slack
      Some(norm)
    }
  }

  /** The FSE table description (RFC §4.1.1 write side): 4-bit
    * accuracy-log field, then the variable-precision normalized
    * counts with the zero-repeat escape — the exact mirror of the
    * reader's phased small/large walk. Forward LSB-first bitstream,
    * zero-padded to a byte.
    */
  private def writeFseCounts(norm: Array[Int], log: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var buf = 0L
    var nb = 0
    def put(v: Int, n: Int): Unit = {
      if (v < 0 || n < 0 || (n < 31 && (v >> n) != 0)) damage()
      buf |= (v.toLong & ((1L << n) - 1)) << nb
      nb += n
      while (nb >= 8) { out.write((buf & 0xff).toInt); buf >>>= 8; nb -= 8 }
    }
    put(log - 5, 4)
    val tableSize = 1 << log
    var remaining = tableSize + 1
    var threshold = tableSize
    var nBits = log + 1
    var sym = 0
    var prevZero = false
    while (remaining > 1) {
      if (sym >= norm.length) damage() // counts must tile the table
      if (prevZero) {
        // 2-bit repeat flags over the FOLLOWING zero symbols
        var z = 0
        while (sym + z < norm.length && norm(sym + z) == 0) z += 1
        var left = z
        while (left >= 3) { put(3, 2); left -= 3 }
        put(left, 2)
        sym += z
        prevZero = false
      } else {
        val count = norm(sym)
        if (count < -1) damage()
        val v = count + 1 // stored form: -1 -> 0, 0 -> 1, n -> n+1
        val max = (2 * threshold - 1) - remaining
        if (v < max) put(v, nBits - 1)
        else if (v < threshold) put(v, nBits)
        else put(v + max, nBits)
        if (count >= 0) remaining -= count else remaining += count
        sym += 1
        prevZero = count == 0
        while (remaining > 1 && remaining < threshold) {
          nBits -= 1; threshold >>= 1
        }
      }
    }
    if (remaining != 1) damage()
    if (nb > 0) out.write((buf & 0xff).toInt)
    out.toByteArray
  }

  /** Choose a channel's adaptive plan: RLE when every sequence uses
    * one code; a custom FSE table (description + transform) when the
    * histogram normalizes; None -> stick with predefined.
    */
  private def planChannel(codes: Vector[Int], maxSym: Int,
                          maxLog: Int): Option[ChannelPlan] =
    try planChannel0(codes, maxSym, maxLog)
    catch { case _: Damage => None } // fall back, never fail

  private def planChannel0(codes: Vector[Int], maxSym: Int,
                           maxLog: Int): Option[ChannelPlan] = {
    if (codes.isEmpty) return None
    val first = codes.head
    if (codes.forall(_ == first)) {
      // RLE: one state, zero bits; counts place the symbol alone
      val counts = new Array[Int](first + 1)
      counts(first) = 1
      return Some(ChannelPlan(1, Array(first.toByte),
        new FseEnc(counts, 0)))
    }
    val hist = new Array[Long](maxSym + 1)
    codes.foreach { c =>
      if (c > maxSym) return None
      hist(c) += 1
    }
    val total = codes.length
    // FSE_optimalTableLog shape: ~log2(total) - 2, clamped [5, maxLog]
    val log = math.min(maxLog,
      math.max(5, 31 - Integer.numberOfLeadingZeros(total - 1) - 2))
    normalizeCounts(hist, log).map { norm =>
      // trim to the last coded symbol (the description stops at
      // remaining == 1; trailing zeros are never transmitted)
      val lastSym = norm.lastIndexWhere(_ != 0)
      ChannelPlan(2, writeFseCounts(norm.take(lastSym + 1), log),
        new FseEnc(norm, log))
    }
  }

  // ---- code-from-value (RFC §3.1.1.3.2.1.1) ------------------------------

  private def llCode(ll: Int): Int = {
    if (ll < 0) damage()
    if (ll <= 15) ll
    else {
      var c = ZstdEntropy.LLBase.length - 1
      while (ZstdEntropy.LLBase(c) > ll) c -= 1
      c
    }
  }

  private def mlCode(ml: Int): Int = {
    if (ml < 3) damage()
    if (ml <= 34) ml - 3
    else {
      var c = ZstdEntropy.MLBase.length - 1
      while (ZstdEntropy.MLBase(c) > ml) c -= 1
      c
    }
  }

  // ---- backward bitstream writer -----------------------------------------

  /** Collects (value, nbits) fields in DECODE order; `finish` writes
    * them REVERSED, LSB-first, so [[ZstdEntropy]]'s backward reader
    * consumes them first-to-last, then the 1-bit padding marker.
    */
  private final class BackSink {
    private val vals = Array.newBuilder[Int]
    private val lens = Array.newBuilder[Int]
    def field(v: Int, n: Int): Unit = {
      if (n < 0 || n > 31 || (n < 31 && (v >> n) != 0) || v < 0) damage()
      vals += v; lens += n
    }
    def finish(): Array[Byte] = {
      val vv = vals.result()
      val ll = lens.result()
      val out = new java.io.ByteArrayOutputStream()
      var buf = 0L
      var nb = 0
      def put(v: Int, n: Int): Unit = {
        buf |= (v.toLong & ((1L << n) - 1)) << nb
        nb += n
        while (nb >= 8) { out.write((buf & 0xff).toInt); buf >>>= 8; nb -= 8 }
      }
      var i = vv.length - 1
      while (i >= 0) { put(vv(i), ll(i)); i -= 1 }
      put(1, 1) // padding marker
      if (nb > 0) out.write((buf & 0xff).toInt)
      out.toByteArray
    }
  }

  // ---- sequence derivation (greedy LZ77) ---------------------------------

  /** One zstd sequence: `ll` literals, then a match of `ml` >= 4 at
    * `offset` back.
    */
  private final case class Seqn(ll: Int, ml: Int, offset: Int)

  /** Tokenize `data[from, until)` into sequences + trailing literal
    * count. Matches look back to `data[0]` (the whole frame window).
    */
  private def findSequences(data: Array[Byte], from: Int, until: Int,
                            head: Array[Int], prev: Array[Int])
      : (Vector[Seqn], Int) = {
    val Mask = head.length - 1
    val n = until
    def hash(i: Int): Int =
      (((data(i) & 0xff) << 18) ^ ((data(i + 1) & 0xff) << 12) ^
        ((data(i + 2) & 0xff) << 6) ^ (data(i + 3) & 0xff)) *
        0x9e3779b1 >>> (32 - Integer.numberOfTrailingZeros(head.length))
    def insert(i: Int): Unit = if (i + 4 <= n) {
      val h = hash(i) & Mask
      prev(i & Mask) = head(h)
      head(h) = i
    }
    val out = Vector.newBuilder[Seqn]
    var lit = 0
    var i = from
    while (i < until) {
      var bestLen = 0
      var bestDist = 0
      if (i + 4 <= until) {
        var cand = head(hash(i) & Mask)
        var chain = 0
        while (cand >= 0 && i - cand <= (1 << 22) && chain < 64) {
          if (cand < i) {
            var l = 0
            val maxL = math.min(65535, until - i)
            while (l < maxL && data(cand + l) == data(i + l)) l += 1
            // distance-dependent floor: a far match pays its offset
            // in extra bits, so short matches at long range LOSE to
            // Huffman'd literals (observed on hex corpora)
            val dist = i - cand
            val floor =
              if (dist < 1024) 4 else if (dist < 65536) 6 else 8
            if (l > bestLen && l >= floor) { bestLen = l; bestDist = dist }
          }
          val nxt = prev(cand & Mask)
          cand = if (nxt >= cand) -1 else nxt // ring-stale guard
          chain += 1
        }
      }
      if (bestLen >= 4) {
        out += Seqn(lit, bestLen, bestDist)
        lit = 0
        var k = i
        val stop = i + bestLen
        while (k < stop) { insert(k); k += 1 }
        i = stop
      } else {
        insert(i)
        lit += 1
        i += 1
      }
    }
    (out.result(), lit)
  }

  // ---- Huffman literals (RFC §4.2) ---------------------------------------

  /** Optimal length-limited code lengths by package-merge (limit L,
    * deterministic tie-breaks). `freqs` indexed by symbol VALUE
    * 0..maxSym; absent symbols get length 0. Requires >= 2 present
    * symbols.
    */
  private def packageMerge(freqs: Array[Long], L: Int): Array[Int] = {
    val n = freqs.count(_ > 0)
    if (n < 2) damage()
    // a coin: (weight, per-symbol counts); items sorted by
    // (freq, symbol) — stable and deterministic
    final case class Coin(w: Long, cnt: Array[Int])
    val items = freqs.indices.filter(freqs(_) > 0).map { s =>
      val c = new Array[Int](freqs.length)
      c(s) = 1
      Coin(freqs(s), c)
    }.sortBy(c => (c.w, c.cnt.indexOf(1))).toVector
    var list = items
    var d = L - 1
    while (d >= 1) {
      val packages = list.grouped(2).collect {
        case Vector(a, b) =>
          val c = new Array[Int](freqs.length)
          var i = 0
          while (i < c.length) { c(i) = a.cnt(i) + b.cnt(i); i += 1 }
          Coin(a.w + b.w, c)
      }.toVector
      // stable merge by weight; items before packages on ties
      val out = Vector.newBuilder[Coin]
      var ii = 0
      var pi = 0
      while (ii < items.length || pi < packages.length) {
        if (pi >= packages.length ||
          (ii < items.length && items(ii).w <= packages(pi).w)) {
          out += items(ii); ii += 1
        } else { out += packages(pi); pi += 1 }
      }
      list = out.result()
      d -= 1
    }
    val lengths = new Array[Int](freqs.length)
    list.take(2 * (n - 1)).foreach { c =>
      var i = 0
      while (i < c.cnt.length) { lengths(i) += c.cnt(i); i += 1 }
    }
    lengths
  }

  /** FSE-compressed Huffman WEIGHTS (RFC §4.2.1, header < 128): the
    * weight stream under a custom FSE table read by TWO INTERLEAVED
    * states — s1 carries even emission indices, s2 odd, transitions
    * interleaved in round order, and the final one or two weights
    * emitted from the states' current values as the stream exhausts.
    * The construction is VALIDATED by decoding with the engine's own
    * [[ZstdEntropy.readHufTable]] and comparing the rebuilt table —
    * any termination subtlety (a zero-bit final state would keep the
    * decoder emitting) falls back to the direct form rather than
    * shipping wrong bytes.
    */
  private def fseWeightsDesc(wts: Array[Int], expected: Array[Int],
                             expectedLog: Int): Option[Array[Byte]] =
    try {
      val n = wts.length
      if (n < 2) return None
      val hist = new Array[Long](wts.max + 1)
      wts.foreach(w => hist(w) += 1)
      val log = math.min(6,
        math.max(5, 31 - Integer.numberOfLeadingZeros(n - 1) - 2))
      val norm = normalizeCounts(hist, log).getOrElse(return None)
      val countsDesc =
        writeFseCounts(norm.take(norm.lastIndexWhere(_ != 0) + 1), log)
      val enc = new FseEnc(norm, log)
      val chA = wts.indices.collect { case i if i % 2 == 0 => wts(i) }
      val chB = wts.indices.collect { case i if i % 2 == 1 => wts(i) }
      if (chB.isEmpty) return None
      def chain(codes: IndexedSeq[Int]): (Int, Array[(Int, Int)]) = {
        var x = enc.initState(codes.last)
        val trans = new Array[(Int, Int)](codes.length - 1)
        var i = codes.length - 2
        while (i >= 0) {
          val (bits, nb, nx) = enc.encode(codes(i), x)
          trans(i) = (bits, nb); x = nx; i -= 1
        }
        (x - (1 << log), trans)
      }
      val (aInit, aTrans) = chain(chA)
      val (bInit, bTrans) = chain(chB)
      val sink = new BackSink()
      sink.field(aInit, log)
      sink.field(bInit, log)
      var i = 0
      while (i < aTrans.length || i < bTrans.length) {
        if (i < aTrans.length) {
          val (v, nb) = aTrans(i); sink.field(v, nb)
        }
        if (i < bTrans.length) {
          val (v, nb) = bTrans(i); sink.field(v, nb)
        }
        i += 1
      }
      val stream = sink.finish()
      val comp = countsDesc.length + stream.length
      if (comp >= 128) return None
      val out = new Array[Byte](1 + comp)
      out(0) = comp.toByte
      System.arraycopy(countsDesc, 0, out, 1, countsDesc.length)
      System.arraycopy(stream, 0, out, 1 + countsDesc.length,
        stream.length)
      // decode-own-write gate: the own reader must rebuild the exact
      // table from these bytes, consuming them exactly
      val (tb, lg, used) = ZstdEntropy.readHufTable(out, 0, out.length)
      if (used == out.length && lg == expectedLog &&
        java.util.Arrays.equals(tb, expected)) Some(out)
      else None
    } catch { case _: Damage => None }

  /** Build the Huffman-compressed literals section (header + tree
    * description — direct 4-bit weights or the FSE-compressed form,
    * whichever is smaller — + 1 or 4 streams), or None when it
    * cannot win: fewer than 2 distinct bytes, or no size win over
    * the raw form.
    */
  private def huffLiteralsSection(lit: Array[Byte]): Option[Array[Byte]] = {
    val regen = lit.length
    if (regen < 16 || regen > (1 << 17)) return None
    val freqs = new Array[Long](256)
    lit.foreach(b => freqs(b & 0xff) += 1)
    val maxSym = 255 - freqs.reverseIterator.takeWhile(_ == 0L).length
    if (maxSym < 0 || freqs(maxSym) == 0) return None
    if (freqs.count(_ > 0) < 2) return None
    val nb0 = packageMerge(java.util.Arrays.copyOf(freqs, maxSym + 1), 11)
    val tableLog = nb0.max
    if (tableLog < 1 || tableLog > 11) return None
    // Kraft equality check (package-merge optimum guarantees it)
    var kraft = 0L
    nb0.foreach(nb => if (nb > 0) kraft += 1L << (tableLog - nb))
    if (kraft != (1L << tableLog)) return None
    val weights = nb0.map(nb => if (nb == 0) 0 else tableLog + 1 - nb)
    // canonical fill (the decoder's exact layout) -> per-symbol codes
    // + the packed table the FSE-weights validation compares against
    val codes = new Array[Int](maxSym + 1)
    val expected = new Array[Int](1 << tableLog)
    var posn = 0
    var w = 1
    var aligned = true
    while (w <= tableLog) {
      var s = 0
      while (s <= maxSym) {
        if (weights(s) == w) {
          val span = 1 << (w - 1)
          if (posn % span != 0) aligned = false
          codes(s) = posn >> (w - 1)
          val entry = (s << 4) | (tableLog + 1 - w)
          var j = 0
          while (j < span) { expected(posn + j) = entry; j += 1 }
          posn += span
        }
        s += 1
      }
      w += 1
    }
    if (!aligned || posn != (1 << tableLog)) return None
    // tree description: direct 4-bit weights (symbols 0..maxSym-1,
    // the last implied — needs maxSym <= 128) vs the FSE-compressed
    // form; smallest valid form wins
    val nW = maxSym
    val directDesc: Option[Array[Byte]] =
      if (nW > 128) None
      else {
        val d = new java.io.ByteArrayOutputStream()
        d.write(127 + nW)
        var i = 0
        while (i < nW) {
          val hi = weights(i)
          val lo = if (i + 1 < nW) weights(i + 1) else 0
          d.write((hi << 4) | lo)
          i += 2
        }
        Some(d.toByteArray)
      }
    val fseDesc = fseWeightsDesc(weights.take(nW), expected, tableLog)
    val descBytes = (directDesc, fseDesc) match {
      case (Some(a), Some(b)) => if (b.length < a.length) b else a
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => return None
    }
    val desc = new java.io.ByteArrayOutputStream()
    desc.write(descBytes, 0, descBytes.length)
    def stream(from: Int, until: Int): Array[Byte] = {
      val sink = new BackSink()
      var k = from
      while (k < until) {
        val s = lit(k) & 0xff
        sink.field(codes(s), tableLog + 1 - weights(s))
        k += 1
      }
      sink.finish()
    }
    val four = regen >= 256
    val body = new java.io.ByteArrayOutputStream()
    val db = desc.toByteArray
    body.write(db, 0, db.length)
    if (!four) {
      val st = stream(0, regen)
      body.write(st, 0, st.length)
    } else {
      val seg = (regen + 3) / 4
      val s1 = stream(0, seg)
      val s2 = stream(seg, 2 * seg)
      val s3 = stream(2 * seg, 3 * seg)
      val s4 = stream(3 * seg, regen)
      if (s1.length > 65535 || s2.length > 65535 || s3.length > 65535)
        return None
      Bytes.putLe16(body, s1.length); Bytes.putLe16(body, s2.length)
      Bytes.putLe16(body, s3.length)
      body.write(s1, 0, s1.length); body.write(s2, 0, s2.length)
      body.write(s3, 0, s3.length); body.write(s4, 0, s4.length)
    }
    val comp = body.size()
    // section header: blockType 2 (Compressed, fresh tree)
    val hdr = new java.io.ByteArrayOutputStream()
    if (!four && regen <= 1023 && comp <= 1023) {
      val v = regen | (comp << 10)
      hdr.write(2 | (0 << 2) | ((v & 0xf) << 4))
      hdr.write((v >> 4) & 0xff); hdr.write((v >> 12) & 0xff)
    } else if (four && regen <= 1023 && comp <= 1023) {
      val v = regen | (comp << 10)
      hdr.write(2 | (1 << 2) | ((v & 0xf) << 4))
      hdr.write((v >> 4) & 0xff); hdr.write((v >> 12) & 0xff)
    } else if (four && regen <= 16383 && comp <= 16383) {
      val v = regen | (comp << 14)
      hdr.write(2 | (2 << 2) | ((v & 0xf) << 4))
      hdr.write((v >> 4) & 0xff); hdr.write((v >> 12) & 0xff)
      hdr.write((v >> 20) & 0xff)
    } else if (four && regen <= 262143 && comp <= 262143) {
      val v = regen.toLong | (comp.toLong << 18)
      hdr.write(2 | (3 << 2) | ((v & 0xf) << 4).toInt)
      hdr.write(((v >> 4) & 0xff).toInt)
      hdr.write(((v >> 12) & 0xff).toInt)
      hdr.write(((v >> 20) & 0xff).toInt)
      hdr.write(((v >> 28) & 0xff).toInt)
    } else return None
    val out = new java.io.ByteArrayOutputStream()
    hdr.writeTo(out)
    body.writeTo(out)
    // must beat the raw section to be worth shipping
    val rawSize = rawLiteralsHeader(regen).length + regen
    if (out.size() < rawSize) Some(out.toByteArray) else None
  }

  /** Literals section: Huffman-compressed when it wins, else raw. */
  private def literalsSection(lit: Array[Byte]): Array[Byte] =
    huffLiteralsSection(lit).getOrElse {
      val h = rawLiteralsHeader(lit.length)
      val out = new Array[Byte](h.length + lit.length)
      System.arraycopy(h, 0, out, 0, h.length)
      System.arraycopy(lit, 0, out, h.length, lit.length)
      out
    }

  // ---- block assembly -----------------------------------------------------

  /** Raw_Literals_Block: smallest size format that fits. */
  private def rawLiteralsHeader(n: Int): Array[Byte] = {
    if (n <= 31) Array[Byte]((n << 3).toByte) // size_format 00
    else if (n <= 4095) Array[Byte]( // size_format 01 (12-bit)
      (((n & 0x0f) << 4) | 0x04).toByte, ((n >> 4) & 0xff).toByte)
    else Array[Byte]( // size_format 11 (20-bit)
      (((n & 0x0f) << 4) | 0x0c).toByte, ((n >> 4) & 0xff).toByte,
      ((n >> 12) & 0xff).toByte)
  }

  /** Encode one block's content as a Compressed_Block body, or None
    * when the entropy form does not beat storing the bytes raw.
    */
  private def compressedBlockBody(data: Array[Byte], from: Int,
                                  until: Int, head: Array[Int],
                                  prev: Array[Int],
                                  adaptiveTables: Boolean)
      : Option[Array[Byte]] = {
    val (seqs, lastLit) = findSequences(data, from, until, head, prev)
    val blockLen = until - from
    if (seqs.isEmpty) {
      // no matches: a compressed block can still win on Huffman
      // literals alone (nSeq = 0 -> the decoder requires the section
      // to end right after the count byte)
      return huffLiteralsSection(
        java.util.Arrays.copyOfRange(data, from, until)).flatMap { ls =>
        val body = java.util.Arrays.copyOf(ls, ls.length + 1)
        body(ls.length) = 0 // nSeq = 0
        if (body.length < blockLen) Some(body) else None
      }
    }
    val nSeq = seqs.length
    // literals buffer = the ll runs + trailing literals, in order
    val lits = new java.io.ByteArrayOutputStream()
    var p = from
    seqs.foreach { s =>
      lits.write(data, p, s.ll)
      p += s.ll + s.ml
    }
    lits.write(data, p, lastLit)
    val litBytes = lits.toByteArray
    // per-channel codes
    val llCodes = seqs.map(s => llCode(s.ll))
    val mlCodes = seqs.map(s => mlCode(s.ml))
    val ofCodes = seqs.map { s =>
      val ofValue = s.offset.toLong + 3
      val c = 63 - java.lang.Long.numberOfLeadingZeros(ofValue)
      if (c > 28) damage() // beyond the predefined distribution
      c.toInt
    }

    /** One full Sequences_Section for a choice of channel plans
      * (decode order LL, OF, ML for both the modes byte and the
      * table descriptions, per the reader's pick() walk).
      */
    def buildSection(llP: ChannelPlan, ofP: ChannelPlan,
                     mlP: ChannelPlan): Array[Byte] = {
      val sink = new BackSink()
      def chain(enc: FseEnc, codes: Vector[Int])
          : (Int, Array[(Int, Int)]) = {
        var x = enc.initState(codes(nSeq - 1))
        val trans = new Array[(Int, Int)](nSeq - 1)
        var i = nSeq - 2
        while (i >= 0) {
          val (bits, nb, nx) = enc.encode(codes(i), x)
          trans(i) = (bits, nb)
          x = nx
          i -= 1
        }
        (x - (1 << enc.log), trans) // decode init state d_0
      }
      val (llInit, llTrans) = chain(llP.enc, llCodes)
      val (ofInit, ofTrans) = chain(ofP.enc, ofCodes)
      val (mlInit, mlTrans) = chain(mlP.enc, mlCodes)
      // decode read order: LL, OF, ML init states...
      sink.field(llInit, llP.enc.log)
      sink.field(ofInit, ofP.enc.log)
      sink.field(mlInit, mlP.enc.log)
      var i = 0
      while (i < nSeq) {
        val s = seqs(i)
        // ...then per sequence: OF extra, ML extra, LL extra...
        val ofValue = s.offset.toLong + 3
        val oc = ofCodes(i)
        sink.field((ofValue - (1L << oc)).toInt, oc)
        val mc = mlCodes(i)
        sink.field(s.ml - ZstdEntropy.MLBase(mc), ZstdEntropy.MLBits(mc))
        val lc = llCodes(i)
        sink.field(s.ll - ZstdEntropy.LLBase(lc), ZstdEntropy.LLBits(lc))
        // ...then (not after the last) state bits LL, ML, OF
        if (i < nSeq - 1) {
          val (lb, ln) = llTrans(i)
          sink.field(lb, ln)
          val (mb, mn) = mlTrans(i)
          sink.field(mb, mn)
          val (ob, on) = ofTrans(i)
          sink.field(ob, on)
        }
        i += 1
      }
      val stream = sink.finish()
      val out = new java.io.ByteArrayOutputStream()
      if (nSeq < 128) out.write(nSeq)
      else if (nSeq < 0x7f00) {
        out.write(((nSeq >> 8) & 0xff) + 128); out.write(nSeq & 0xff)
      } else {
        out.write(255)
        val v = nSeq - 0x7f00
        Bytes.putLe16(out, v)
      }
      out.write((llP.mode << 6) | (ofP.mode << 4) | (mlP.mode << 2))
      out.write(llP.desc, 0, llP.desc.length)
      out.write(ofP.desc, 0, ofP.desc.length)
      out.write(mlP.desc, 0, mlP.desc.length)
      out.write(stream, 0, stream.length)
      out.toByteArray
    }

    val llPred = ChannelPlan(0, Array.emptyByteArray, EncLL)
    val ofPred = ChannelPlan(0, Array.emptyByteArray, EncOF)
    val mlPred = ChannelPlan(0, Array.emptyByteArray, EncML)
    val predSection = buildSection(llPred, ofPred, mlPred)
    // adaptive variant: RLE / custom-FSE per channel where it's
    // legal and the description pays for itself (smaller section)
    val section =
      if (!adaptiveTables) predSection
      else {
        val adaptive = buildSection(
          planChannel(llCodes, 35, 9).getOrElse(llPred),
          planChannel(ofCodes, 31, 8).getOrElse(ofPred),
          planChannel(mlCodes, 52, 9).getOrElse(mlPred))
        if (adaptive.length < predSection.length) adaptive
        else predSection
      }
    val out = new java.io.ByteArrayOutputStream()
    val ls = literalsSection(litBytes)
    out.write(ls, 0, ls.length)
    out.write(section, 0, section.length)
    val body = out.toByteArray
    if (body.length < blockLen) Some(body) else None
  }

  /** Compress `raw` into ONE zstd frame: single-segment, 4-byte
    * content size, XXH64 content checksum, 64 KiB input blocks each
    * emitted compressed or raw (whichever is smaller).
    */
  def compress(raw: Array[Byte],
               adaptiveTables: Boolean = true): Array[Byte] = {
    require(raw.length <= (1 << 26), s"input too large: ${raw.length}")
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
    out.write(0x28); out.write(0xb5); out.write(0x2f); out.write(0xfd)
    // descriptor: FCS code 2 (4 bytes) | single-segment | checksum
    out.write(0xa4)
    val n = raw.length
    Bytes.putLe32(out, n)
    val BlockIn = 1 << 16
    // hash state is FRAME-global: matches may reach earlier blocks
    // (the decoder window is the whole single-segment frame)
    val head = new Array[Int](1 << 15)
    java.util.Arrays.fill(head, -1)
    val prev = new Array[Int](1 << 15)
    var p = 0
    do {
      val len = math.min(BlockIn, n - p)
      val last = if (p + len >= n) 1 else 0
      // any internal inconsistency (a damage() guard reached if the
      // offset cap or block size is ever widened) degrades to a raw
      // block instead of escaping as a throw
      (try compressedBlockBody(raw, p, p + len, head, prev,
        adaptiveTables)
      catch { case _: Damage => None }) match {
        case Some(body) =>
          val hdr = (body.length << 3) | (2 << 1) | last
          out.write(hdr & 0xff); out.write((hdr >> 8) & 0xff)
          out.write((hdr >> 16) & 0xff)
          out.write(body, 0, body.length)
        case None =>
          val hdr = (len << 3) | last
          out.write(hdr & 0xff); out.write((hdr >> 8) & 0xff)
          out.write((hdr >> 16) & 0xff)
          out.write(raw, p, len)
      }
      p += len
    } while (p < n)
    val ck = XxHash64.hash(raw, 0L)
    Bytes.putLe32(out, ck.toInt)
    out.toByteArray
  }

  /** DICTIONARY TRAINING, cover-lite (the ZDICT role, from first
    * principles): rank the samples' k-grams by frequency, then
    * repeatedly take the hottest gram not already in the dictionary
    * and extend its window inside its first occurrence while the
    * covered k-grams stay within half the seed's heat — recovering
    * whole boilerplate runs, not just isolated shingles. Hot content
    * goes at the END of the dictionary (the zstd convention: the
    * most-referenced bytes sit at the smallest offsets). Fully
    * deterministic: ties break on gram bytes, samples scan in the
    * given order.
    */
  def trainDict(samples: Seq[Array[Byte]], maxSize: Int = 1 << 14,
                k: Int = 16): Array[Byte] = {
    require(k >= 4 && maxSize >= k)
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    val firstAt =
      scala.collection.mutable.HashMap.empty[String, (Int, Int)]
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1
    samples.zipWithIndex.foreach { case (s, si) =>
      var i = 0
      while (i + k <= s.length) {
        val g = new String(s, i, k, iso)
        counts(g) = counts.getOrElse(g, 0) + 1
        if (!firstAt.contains(g)) firstAt(g) = (si, i)
        i += 1
      }
    }
    val ranked = counts.toSeq.filter(_._2 >= 2)
      .sortBy { case (g, c) => (-c, g) }
    val segs = Seq.newBuilder[Array[Byte]] // hottest first
    var total = 0
    val dictStr = new StringBuilder // ISO view for substring checks
    val it = ranked.iterator
    while (total < maxSize && it.hasNext) {
      val (g, c) = it.next()
      if (dictStr.indexOf(g) < 0) {
        val (si, at) = firstAt(g)
        val s = samples(si)
        var lo = at
        var hi = at + k
        def heat(p: Int): Int =
          if (p < 0 || p + k > s.length) 0
          else counts.getOrElse(new String(s, p, k, iso), 0)
        while (heat(lo - 1) * 2 >= c && total + (hi - lo) < maxSize)
          lo -= 1
        while (heat(hi - k + 1) * 2 >= c && total + (hi - lo) < maxSize)
          hi += 1
        val seg = java.util.Arrays.copyOfRange(s, lo, hi)
        if (total + seg.length <= maxSize) {
          segs += seg
          total += seg.length
          dictStr.append(new String(seg, iso))
        }
      }
    }
    // hottest LAST: reverse the greedy order
    val out = new java.io.ByteArrayOutputStream(total)
    segs.result().reverse.foreach(b => out.write(b, 0, b.length))
    out.toByteArray
  }

  /** Wrap trained content as a STRUCTURED dictionary (RFC 8878 §5:
    * magic ‖ 4-byte LE id ‖ entropy tables ‖ three 4-byte LE repeat
    * offsets ‖ content): the nameable form — frames carry the id and
    * any holder of the dictionary resolves it. The entropy section
    * is minimal-but-legal: a two-symbol direct-weights Huffman table
    * and the RFC's PREDEFINED distributions serialized as FSE table
    * descriptions (the own encoder always writes its own block
    * tables, so these only need to be valid, and libzstd loads them
    * exactly like any trained tables); repeat offsets 1/4/8 (the
    * frame-initial defaults). Content must be >= 8 bytes so the
    * offsets validate.
    */
  def buildDictionary(content: Array[Byte], id: Long): Array[Byte] = {
    require(id > 0 && id <= 0xffffffffL, s"dict id out of range: $id")
    require(content.length >= 8, "content must cover the offsets")
    val out = new java.io.ByteArrayOutputStream(content.length + 64)
    out.write(0x37); out.write(0xa4); out.write(0x30); out.write(0xec)
    Bytes.putLe32(out, id.toInt)
    // Huffman: direct representation, 2 weights stated... the RFC's
    // header >= 128 form: Number_of_Weights = header - 127, the LAST
    // symbol's weight implied. Two 1-weights + implied 1 = symbols
    // {0,1,2}, a legal (if useless) table.
    out.write(127 + 2)
    out.write(0x11) // two 4-bit weights of 1
    // FSE descriptions: OF, ML, LL — the predefined distributions
    val of = writeFseCounts(ZstdEntropy.PredefOFCounts, 5)
    val ml = writeFseCounts(ZstdEntropy.PredefMLCounts, 6)
    val ll = writeFseCounts(ZstdEntropy.PredefLLCounts, 6)
    out.write(of, 0, of.length)
    out.write(ml, 0, ml.length)
    out.write(ll, 0, ll.length)
    // repeat offsets 1, 4, 8 — the frame-initial defaults
    Seq(1, 4, 8).foreach { r =>
      Bytes.putLe32(out, r)
    }
    out.write(content, 0, content.length)
    out.toByteArray
  }

  /** Compress against a STRUCTURED dictionary: the frame header
    * NAMES the dictionary (4-byte dictID) and the dictionary's
    * content primes the match window, so only a holder of that
    * dictionary can decode — [[Zstd.walkWithDicts]] or libzstd with
    * the same dictionary loaded. Blocks always declare their own
    * entropy tables (the dict tables are for interop, not reuse).
    */
  def compressWithStructuredDict(raw: Array[Byte],
                                 dict: Zstd.Dict,
                                 adaptiveTables: Boolean = true)
      : Array[Byte] = {
    require(dict.id > 0, "structured compression needs a nameable id")
    val dc = dict.content
    require(raw.length <= (1 << 26), s"input too large: ${raw.length}")
    require(dc.length <= (1 << 21), s"dict too large: ${dc.length}")
    val data = new Array[Byte](dc.length + raw.length)
    System.arraycopy(dc, 0, data, 0, dc.length)
    System.arraycopy(raw, 0, data, dc.length, raw.length)
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
    out.write(0x28); out.write(0xb5); out.write(0x2f); out.write(0xfd)
    // FCS code 2 | single-segment | checksum | dictIdFlag 3 (4 bytes)
    out.write(0xa7)
    val id = dict.id
    Bytes.putLe32(out, id.toInt)
    val n = raw.length
    Bytes.putLe32(out, n)
    val head = new Array[Int](1 << 15)
    java.util.Arrays.fill(head, -1)
    val prev = new Array[Int](1 << 15)
    compressedBlockBody(data, 0, dc.length, head, prev,
      adaptiveTables = false) // seed chains over the dict content
    val BlockIn = 1 << 16
    var p = dc.length
    do {
      val len = math.min(BlockIn, data.length - p)
      val last = if (p + len >= data.length) 1 else 0
      (try compressedBlockBody(data, p, p + len, head, prev,
        adaptiveTables)
      catch { case _: Damage => None }) match {
        case Some(body) =>
          val hdr = (body.length << 3) | (2 << 1) | last
          out.write(hdr & 0xff); out.write((hdr >> 8) & 0xff)
          out.write((hdr >> 16) & 0xff)
          out.write(body, 0, body.length)
        case None =>
          val hdr = (len << 3) | last
          out.write(hdr & 0xff); out.write((hdr >> 8) & 0xff)
          out.write((hdr >> 16) & 0xff)
          out.write(data, p, len)
      }
      p += len
    } while (p < data.length)
    val ck = XxHash64.hash(raw, 0L)
    Bytes.putLe32(out, ck.toInt)
    out.toByteArray
  }

  /** PREFIX-DICTIONARY compression (RFC 8878 raw-content dictionary
    * — the small-document trick at corpus scale: thousands of
    * near-identical KB-sized docs share one trained prefix, and each
    * frame's matches reach into it instead of re-stating the
    * boilerplate). The window is `dict ++ raw`; the hash chains are
    * pre-seeded over the dictionary, so the very first bytes of
    * content can match into it; the frame itself is standard — no
    * dictID (raw dictionaries carry none), content size and XXH64
    * checksum measure `raw` alone. Decode with
    * [[Zstd.walkWithDict]] or libzstd's ZSTD_decompress_usingDict.
    */
  def compressWithDict(raw: Array[Byte], dict: Array[Byte],
                       adaptiveTables: Boolean = true): Array[Byte] = {
    if (dict.isEmpty) return compress(raw, adaptiveTables)
    require(raw.length <= (1 << 26), s"input too large: ${raw.length}")
    // keep every (pos - dictStart) offset under the matcher's 2^22
    // reach so dictionary matches stay encodable from block one
    require(dict.length <= (1 << 21), s"dict too large: ${dict.length}")
    val data = new Array[Byte](dict.length + raw.length)
    System.arraycopy(dict, 0, data, 0, dict.length)
    System.arraycopy(raw, 0, data, dict.length, raw.length)
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
    out.write(0x28); out.write(0xb5); out.write(0x2f); out.write(0xfd)
    out.write(0xa4) // FCS code 2 | single-segment | checksum
    val n = raw.length
    Bytes.putLe32(out, n)
    val head = new Array[Int](1 << 15)
    java.util.Arrays.fill(head, -1)
    val prev = new Array[Int](1 << 15)
    // seed the chains over the dictionary (sequences discarded —
    // only the insertions matter)
    compressedBlockBody(data, 0, dict.length, head, prev,
      adaptiveTables = false)
    val BlockIn = 1 << 16
    var p = dict.length
    do {
      val len = math.min(BlockIn, data.length - p)
      val last = if (p + len >= data.length) 1 else 0
      (try compressedBlockBody(data, p, p + len, head, prev,
        adaptiveTables)
      catch { case _: Damage => None }) match {
        case Some(body) =>
          val hdr = (body.length << 3) | (2 << 1) | last
          out.write(hdr & 0xff); out.write((hdr >> 8) & 0xff)
          out.write((hdr >> 16) & 0xff)
          out.write(body, 0, body.length)
        case None =>
          val hdr = (len << 3) | last
          out.write(hdr & 0xff); out.write((hdr >> 8) & 0xff)
          out.write((hdr >> 16) & 0xff)
          out.write(data, p, len)
      }
      p += len
    } while (p < data.length)
    val ck = XxHash64.hash(raw, 0L)
    Bytes.putLe32(out, ck.toInt)
    out.toByteArray
  }
}
