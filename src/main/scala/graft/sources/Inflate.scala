package graft.sources

/** A from-scratch DEFLATE DECODER (RFC 1951 read side): stored
  * (BTYPE=00), fixed-Huffman (01), and dynamic-Huffman (10) blocks,
  * the full §3.2.7 header walk (HLIT/HDIST/HCLEN, the code-length
  * code's permuted order, 16/17/18 repeat symbols), canonical
  * MSB-first Huffman decode, and 32 KiB-window back-references. The
  * read twin of [[Deflate]]'s encoder — with it, the engine holds
  * DEFLATE in BOTH directions from first principles, like its zstd /
  * lz4 / snappy / bzip2 stacks (JDK `Inflater` remains the hot-path
  * consumer in the scan operators; this decoder is the
  * cross-validation twin and the q333 round-trip law's reader).
  *
  * Totality: any malformation — an over-subscribed or gapless-code
  * violation, a distance past the window, a length past `cap`, a
  * bitstream over-read — returns None, never a throw.
  *
  * Spec source: RFC 1951 §3.2.2 (canonical codes), §3.2.4 (stored),
  * §3.2.6 (fixed tables), §3.2.7 (dynamic header).
  */
object Inflate {

  private val LenBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17,
    19, 23, 27, 31, 35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195,
    227, 258)
  private val LenExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2,
    2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
  private val DistBase = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49,
    65, 97, 129, 193, 257, 385, 513, 769, 1025, 1537, 2049, 3073,
    4097, 6145, 8193, 12289, 16385, 24577)
  private val DistExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5,
    5, 6, 6, 7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13)
  /** §3.2.7's code-length-code transmission order. */
  private val ClOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4,
    12, 3, 13, 2, 14, 1, 15)

  import Bytes.{Damage, damage}

  private final class BitSrc(b: Array[Byte], var pos: Int) {
    private var buf = 0L
    private var nb = 0
    def bits(n: Int): Int = {
      while (nb < n) {
        if (pos >= b.length) damage()
        buf |= (b(pos) & 0xffL) << nb
        pos += 1
        nb += 8
      }
      val v = (buf & ((1L << n) - 1)).toInt
      buf >>>= n
      nb -= n
      v
    }
    def alignByte(): Unit = { val drop = nb % 8; buf >>>= drop; nb -= drop }
    /** Bytes of lookahead still buffered (for stored-block copy). */
    def bufferedBytes: Int = nb / 8
  }

  /** Canonical decoder for one code-length vector: per-bit walk over
    * (count, firstCode, symbol table) — RFC 1951 §3.2.2's ordering.
    * Rejects over-subscribed codes; an incomplete code is legal only
    * for the one-symbol degenerate form (§3.2.7 allows a single
    * distance code of length 1).
    */
  private final class Huff(lens: Array[Int]) {
    private val MaxLen = 15
    private val count = new Array[Int](MaxLen + 1)
    lens.foreach { l => if (l < 0 || l > MaxLen) damage(); count(l) += 1 }
    private val total = lens.count(_ > 0)
    // Kraft check: left > 0 means incomplete (allowed only degenerate)
    locally {
      var left = 1
      var l = 1
      while (l <= MaxLen) {
        left <<= 1
        left -= count(l)
        if (left < 0) damage() // over-subscribed
        l += 1
      }
      if (left > 0 && total > 1) damage()
    }
    private val offs = new Array[Int](MaxLen + 2)
    locally {
      var l = 1
      while (l <= MaxLen) { offs(l + 1) = offs(l) + count(l); l += 1 }
    }
    private val syms = new Array[Int](total)
    locally {
      val next = offs.clone()
      var s = 0
      while (s < lens.length) {
        if (lens(s) > 0) { syms(next(lens(s))) = s; next(lens(s)) += 1 }
        s += 1
      }
    }
    def decode(in: BitSrc): Int = {
      var code = 0
      var first = 0
      var index = 0
      var l = 1
      while (l <= MaxLen) {
        code |= in.bits(1)
        val c = count(l)
        if (code - first < c) return syms(index + (code - first))
        index += c
        first = (first + c) << 1
        code <<= 1
        l += 1
      }
      damage()
    }
  }

  private lazy val FixedLit = new Huff(Array.tabulate(288)(i =>
    if (i <= 143) 8 else if (i <= 255) 9 else if (i <= 279) 7 else 8))
  // 32 five-bit codes: 30 real distances + the two reserved symbols
  // (§3.2.6) — the reserved pair completes the Kraft sum; decoding
  // one is rejected by the ds > 29 guard below
  private lazy val FixedDist = new Huff(Array.fill(32)(5))

  /** Inflate one raw-DEFLATE stream starting at `off`; output bounded
    * by `cap`. Returns (payload, bytesConsumed) — the consumed length
    * lets member walks stride to the next frame. None on any
    * malformation.
    */
  def inflateRaw(b: Array[Byte], off: Int = 0,
                 cap: Int = 1 << 26): Option[(Array[Byte], Int)] = {
    try {
      val in = new BitSrc(b, off)
      val out = new java.io.ByteArrayOutputStream(1 << 12)
      val window = new Array[Byte](1 << 15)
      var wpos = 0
      def push(v: Byte): Unit = {
        out.write(v & 0xff)
        window(wpos) = v
        wpos = (wpos + 1) & 0x7fff
        if (out.size() > cap) damage()
      }
      var fin = false
      while (!fin) {
        fin = in.bits(1) == 1
        in.bits(2) match {
          case 0 => // stored
            in.alignByte()
            // LEN/NLEN ride the byte stream (possibly via the buffer)
            val len = in.bits(16)
            val nlen = in.bits(16)
            if ((len ^ 0xffff) != nlen) damage()
            var i = 0
            while (i < len) { push(in.bits(8).toByte); i += 1 }
          case btype if btype == 1 || btype == 2 =>
            val (lit, dist) =
              if (btype == 1) (FixedLit, FixedDist)
              else {
                val hlit = in.bits(5) + 257
                val hdist = in.bits(5) + 1
                val hclen = in.bits(4) + 4
                if (hlit > 286 || hdist > 30) damage()
                val clLens = new Array[Int](19)
                var i = 0
                while (i < hclen) {
                  clLens(ClOrder(i)) = in.bits(3); i += 1
                }
                val cl = new Huff(clLens)
                val lens = new Array[Int](hlit + hdist)
                var at = 0
                while (at < lens.length) {
                  cl.decode(in) match {
                    case 16 =>
                      if (at == 0) damage()
                      val rep = 3 + in.bits(2)
                      if (at + rep > lens.length) damage()
                      val v = lens(at - 1)
                      var r = 0
                      while (r < rep) { lens(at) = v; at += 1; r += 1 }
                    case 17 =>
                      val rep = 3 + in.bits(3)
                      if (at + rep > lens.length) damage()
                      at += rep
                    case 18 =>
                      val rep = 11 + in.bits(7)
                      if (at + rep > lens.length) damage()
                      at += rep
                    case v =>
                      lens(at) = v; at += 1
                  }
                }
                if (lens(256) == 0) damage() // end-of-block must exist
                (new Huff(lens.take(hlit)),
                  new Huff(lens.drop(hlit)))
              }
            var eob = false
            while (!eob) {
              val sym = lit.decode(in)
              if (sym < 256) push(sym.toByte)
              else if (sym == 256) eob = true
              else {
                if (sym > 285) damage()
                val li = sym - 257
                val len = LenBase(li) + in.bits(LenExtra(li))
                val ds = dist.decode(in)
                if (ds > 29) damage()
                val d = DistBase(ds) + in.bits(DistExtra(ds))
                if (d > out.size()) damage() // before stream start
                var i = 0
                var rp = (wpos - d) & 0x7fff
                while (i < len) {
                  val v = window(rp)
                  push(v)
                  rp = (rp + 1) & 0x7fff
                  i += 1
                }
              }
            }
          case _ => damage() // BTYPE 11 reserved
        }
      }
      val consumed = in.pos - off - in.bufferedBytes
      Some((out.toByteArray, consumed))
    } catch { case _: Damage => None }
  }
}
