package graft.sources

/** From-scratch LZMA2 / LZMA decoder (the public LZMA specification
  * shipped with the 7-Zip SDK, plus xz-file-format.txt for the chunk
  * layer) — the last archive codec the corpus meets that the engine
  * did not yet own. The three layers:
  *
  *  - the RANGE DECODER: 32-bit range/code, 11-bit adaptive
  *    probabilities (shift-5 updates), top-renormalization at 2^24,
  *    direct bits through the code-minus-range trick;
  *  - the LZMA state machine: 12 states, matched/unmatched literals
  *    with (lc, lp) context mixing, match/rep/shortrep branches, the
  *    4-slot rep-distance history, bit-tree length coders
  *    (2..273), position slots with aligned/spec-pos tails;
  *  - LZMA2 chunking: per-chunk range-coder re-init, reset levels
  *    0..3 (none / state / state+props / state+props+dict),
  *    uncompressed chunks, and the position context measured from
  *    the last dictionary reset.
  *
  * Totality law: malformed input — a bad first byte, a distance past
  * the dictionary, a chunk overrunning its declared sizes, output
  * over `cap` — is None, never a throw and never partial garbage.
  */
object Lzma2 {

  import Bytes.{Damage, damage}

  private val InitProb: Short = 1024

  private final class Rc(b: Array[Byte], var p: Int, val end: Int) {
    var range: Int = -1 // 0xFFFFFFFF
    var code: Int = 0
    def init(): Unit = {
      if (p >= end || b(p) != 0) damage()
      p += 1
      var i = 0
      code = 0
      while (i < 4) {
        if (p >= end) damage()
        code = (code << 8) | (b(p) & 0xff); p += 1; i += 1
      }
      range = -1
    }
    private def normalize(): Unit = {
      if ((range & 0xff000000) == 0) {
        if (p >= end) damage()
        range <<= 8
        code = (code << 8) | (b(p) & 0xff)
        p += 1
      }
    }
    def bit(probs: Array[Short], i: Int): Int = {
      val prob = probs(i)
      val bound = (range >>> 11) * prob
      // unsigned compare of code < bound
      if ((code ^ Int.MinValue) < (bound ^ Int.MinValue)) {
        range = bound
        probs(i) = (prob + ((2048 - prob) >>> 5)).toShort
        normalize()
        0
      } else {
        range -= bound
        code -= bound
        probs(i) = (prob - (prob >>> 5)).toShort
        normalize()
        1
      }
    }
    def direct(n: Int): Int = {
      var res = 0
      var i = n
      while (i > 0) {
        range = range >>> 1
        code -= range
        val t = 0 - (code >>> 31)
        code += range & t
        if (code == range) damage() // spec: corruption marker
        normalize()
        res = (res << 1) + t + 1
        i -= 1
      }
      res
    }
    def tree(probs: Array[Short], off: Int, n: Int): Int = {
      var m = 1
      var i = 0
      while (i < n) { m = (m << 1) + bit(probs, off + m); i += 1 }
      m - (1 << n)
    }
    def treeReverse(probs: Array[Short], off: Int, n: Int): Int = {
      var m = 1
      var sym = 0
      var i = 0
      while (i < n) {
        val x = bit(probs, off + m)
        m = (m << 1) + x
        sym |= x << i
        i += 1
      }
      sym
    }
  }

  private final class LenCoder {
    val choice = Array.fill[Short](2)(InitProb)
    val low = Array.fill[Short](16 * 8)(InitProb)
    val mid = Array.fill[Short](16 * 8)(InitProb)
    val high = Array.fill[Short](256)(InitProb)
    def decode(rc: Rc, posState: Int): Int = {
      if (rc.bit(choice, 0) == 0) 2 + rc.tree(low, posState << 3, 3)
      else if (rc.bit(choice, 1) == 0)
        10 + rc.tree(mid, posState << 3, 3)
      else 18 + rc.tree(high, 0, 8)
    }
  }

  private final class State(val lc: Int, val lp: Int, val pb: Int) {
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
    val lenC = new LenCoder
    val repLenC = new LenCoder
    val literals = Array.fill[Short](0x300 << (lc + lp))(InitProb)
  }

  /** The decode window: full output kept (the corpus cap bounds it),
    * with the dictionary-reset point for position contexts and match
    * reach.
    */
  private final class Win(cap: Int) {
    var bytes: Array[Byte] = Array.emptyByteArray
    var len = 0
    var dictStart = 0
    def push(x: Byte): Unit = {
      if (len >= cap) damage()
      if (len >= bytes.length) {
        val n = math.max(1024, bytes.length * 2)
        bytes = java.util.Arrays.copyOf(bytes, n)
      }
      bytes(len) = x
      len += 1
    }
  }

  /** Decode an LZMA2 payload (as framed inside an xz block) starting
    * at `off`, producing exactly `want` bytes. The position context
    * and match window run from the last dictionary reset.
    */
  def decode(b: Array[Byte], off: Int, want: Long,
             cap: Int = 1 << 26): Option[Array[Byte]] = {
    if (want < 0 || want > cap) return None
    try {
      val win = new Win(cap)
      var p = off
      var state: State = null
      var done = false
      while (!done) {
        if (p >= b.length) damage()
        val c = b(p) & 0xff; p += 1
        if (c == 0x00) done = true
        else if (c == 0x01 || c == 0x02) {
          if (c == 0x01) win.dictStart = win.len
          if (p + 2 > b.length) damage()
          val sz = (((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1
          p += 2
          if (p + sz > b.length) damage()
          var i = 0
          while (i < sz) { win.push(b(p + i)); i += 1 }
          p += sz
          // raw chunks reset the LZMA state machine's continuity
          state = null
        } else if ((c & 0x80) != 0) {
          if (p + 4 > b.length) damage()
          val usz = (((c & 0x1f) << 16) |
            ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1
          val csz = (((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)) + 1
          p += 4
          val reset = (c >> 5) & 3
          if (reset >= 2) {
            if (p >= b.length) damage()
            val prop = b(p) & 0xff; p += 1
            if (prop > 224) damage()
            val lc = prop % 9
            val rest = prop / 9
            val lp = rest % 5
            val pb = rest / 5
            if (pb > 4) damage()
            state = new State(lc, lp, pb)
          } else if (reset == 1) {
            if (state == null) damage()
            val s = new State(state.lc, state.lp, state.pb)
            state = s
          } else if (state == null) damage()
          if (reset == 3) win.dictStart = win.len
          if (p + csz > b.length) damage()
          val rc = new Rc(b, p, p + csz)
          rc.init()
          val target = win.len.toLong + usz
          decodeSymbols(rc, state, win, target, allowMarker = false)
          if (rc.p != p + csz) damage() // chunk must consume exactly
          p += csz
        } else damage()
      }
      if (win.len.toLong != want) damage()
      Some(java.util.Arrays.copyOf(win.bytes, win.len))
    } catch {
      case _: Damage => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** Legacy `.lzma` ("alone" format, what `lzma.FORMAT_ALONE` /
    * old lzma-utils write): props byte + LE32 dict size + LE64
    * uncompressed size (all-ones = unknown, terminated by the
    * end-of-stream marker), then one raw LZMA stream.
    */
  def decodeAlone(b: Array[Byte],
                  cap: Int = 1 << 26): Option[Array[Byte]] = {
    try {
      if (b.length < 14) return None
      val prop = b(0) & 0xff
      if (prop > 224) return None
      val lc = prop % 9
      val rest = prop / 9
      val lp = rest % 5
      val pb = rest / 5
      if (pb > 4) return None
      var size = 0L
      var k = 0
      while (k < 8) { size |= (b(5 + k) & 0xffL) << (8 * k); k += 1 }
      val known = size != -1L
      if (known && (size < 0 || size > cap)) return None
      val win = new Win(cap)
      val s = new State(lc, lp, pb)
      val rc = new Rc(b, 13, b.length)
      rc.init()
      val hitMarker = decodeSymbols(rc, s, win,
        if (known) size else cap.toLong + 1, allowMarker = true)
      if (known) {
        if (win.len.toLong != size) return None
      } else if (!hitMarker) return None
      Some(java.util.Arrays.copyOf(win.bytes, win.len))
    } catch {
      case _: Damage => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** The LZMA symbol loop: decode until the window reaches `target`
    * (or the end-of-stream marker, when legal). Returns true iff the
    * marker ended the stream.
    */
  private def decodeSymbols(rc: Rc, s: State, win: Win, target: Long,
                            allowMarker: Boolean): Boolean = {
    val pbMask = (1 << s.pb) - 1
    val lpMask = (1 << s.lp) - 1
    var winLen = win.len
    def push(x: Byte): Unit = { win.push(x); winLen = win.len }
    val dictStart = win.dictStart
    def winBytes: Array[Byte] = win.bytes
    locally {
      locally {
        locally {
          while (winLen < target) {
            val pos = winLen - dictStart
            val posState = pos & pbMask
            if (rc.bit(s.isMatch, (s.st << 4) + posState) == 0) {
              // literal
              val prev =
                if (winLen > dictStart) winBytes(winLen - 1) & 0xff
                else 0
              val litOff = 0x300 * (((pos & lpMask) << s.lc) +
                (prev >>> (8 - s.lc)))
              var sym = 1
              if (s.st >= 7) {
                if (s.rep0 < 0 || winLen - s.rep0 - 1 < dictStart)
                  damage()
                var matchByte = winBytes(winLen - s.rep0 - 1) & 0xff
                var break = false
                while (!break && sym < 0x100) {
                  val matchBit = (matchByte >> 7) & 1
                  matchByte = (matchByte << 1) & 0xff
                  val x = s.literals
                  val bitv = rc.bit(x,
                    litOff + ((1 + matchBit) << 8) + sym)
                  sym = (sym << 1) | bitv
                  if (matchBit != bitv) break = true
                }
              }
              while (sym < 0x100)
                sym = (sym << 1) | rc.bit(s.literals, litOff + sym)
              push((sym & 0xff).toByte)
              s.st = if (s.st < 4) 0 else if (s.st < 10) s.st - 3
              else s.st - 6
            } else {
              var len = 0
              if (rc.bit(s.isRep, s.st) == 0) {
                // MATCH: new distance
                s.rep3 = s.rep2; s.rep2 = s.rep1; s.rep1 = s.rep0
                len = s.lenC.decode(rc, posState)
                val lenState = math.min(len - 2, 3)
                val slot = rc.tree(s.posSlot, (lenState << 6), 6)
                if (slot < 4) s.rep0 = slot
                else {
                  val nd = (slot >> 1) - 1
                  var dist = (2 | (slot & 1)) << nd
                  if (slot < 14)
                    dist += rc.treeReverse(s.specPos,
                      dist - slot - 1, nd)
                  else {
                    dist += rc.direct(nd - 4) << 4
                    dist += rc.treeReverse(s.align, 0, 4)
                  }
                  s.rep0 = dist
                }
                if (s.rep0 == -1) {
                  // end-of-stream marker (dist 0xFFFFFFFF)
                  if (allowMarker) return true
                  damage() // not legal inside LZMA2 chunks
                }
                s.st = if (s.st < 7) 7 else 10
              } else {
                // REP branches
                if (rc.bit(s.isRepG0, s.st) == 0) {
                  if (rc.bit(s.isRep0Long,
                      (s.st << 4) + posState) == 0) {
                    // SHORTREP: one byte at rep0
                    s.st = if (s.st < 7) 9 else 11
                    if (s.rep0 < 0 || winLen - s.rep0 - 1 < dictStart)
                      damage()
                    push(winBytes(winLen - s.rep0 - 1))
                    len = -1 // handled
                  }
                } else {
                  var dist = 0
                  if (rc.bit(s.isRepG1, s.st) == 0) dist = s.rep1
                  else if (rc.bit(s.isRepG2, s.st) == 0) {
                    dist = s.rep2; s.rep2 = s.rep1
                  } else {
                    dist = s.rep3; s.rep3 = s.rep2; s.rep2 = s.rep1
                  }
                  s.rep1 = s.rep0
                  s.rep0 = dist
                }
                if (len != -1) {
                  len = s.repLenC.decode(rc, posState)
                  s.st = if (s.st < 7) 8 else 11
                }
              }
              if (len > 0) {
                // copy len bytes from rep0 back
                if (s.rep0 < 0 || winLen - s.rep0 - 1 < dictStart)
                  damage()
                var i = 0
                while (i < len) {
                  push(winBytes(winLen - s.rep0 - 1))
                  i += 1
                }
              }
            }
            if (winLen > target) damage() // match overran the target
          }
        }
      }
    }
    false
  }
}

/** The xz flavor of CRC64 (ECMA-182 polynomial, reflected form
  * 0xC96C5795D7870F42, init/xorout all-ones) — what verifies an xz
  * block's decoded bytes when the stream declares check type 4.
  */
object Crc64 {
  private val table: Array[Long] = {
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var c = i.toLong
      var k = 0
      while (k < 8) {
        c = if ((c & 1L) != 0) (c >>> 1) ^ 0xC96C5795D7870F42L
            else c >>> 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }
  def of(b: Array[Byte], off: Int, len: Int): Long = {
    var c = -1L
    var i = off
    while (i < off + len) {
      c = table(((c ^ b(i)) & 0xff).toInt) ^ (c >>> 8)
      i += 1
    }
    ~c
  }
}
