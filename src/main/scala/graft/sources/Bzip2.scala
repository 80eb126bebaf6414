package graft.sources

/** bzip2 decoder, from scratch. No JDK class reads .bz2, yet web
  * corpora (Wikipedia dumps, old Common Crawl segments, dataset
  * tarballs) still ship in it — the engine owns the decode so a
  * .tar.bz2 sweep stays a zero-exchange scan-task walk instead of a
  * preprocessing detour through external tools.
  *
  * The format is public (the bzip2 format specification and the
  * reference bzlib's decompress tables): per stream "BZh"+level, then
  * blocks framed by the 48-bit pi/sqrt(pi) magics, each block a
  * pipeline of five reversible stages the decoder runs backwards —
  * Huffman groups (2–6 tables switched every 50 symbols via
  * MTF+unary-coded selectors, delta-coded code lengths), RUNA/RUNB
  * bijective run lengths of the MTF zero symbol, MTF over the used
  * byte map, inverse BWT from the 24-bit origin pointer, and the
  * final 4-run RLE. Every block's CRC (MSB-first 0x04c11db7) and the
  * stream's combined CRC are verified; concatenated streams are
  * walked. Malformation — bad magic, randomized blocks, code lengths
  * out of 1..20, a selector beyond nGroups, output overflow, a CRC
  * lie — yields None (the totality law every other walk follows).
  *
  * Pinned against CPython's bz2 module (the independent encoder) by
  * Bzip2Spec and the q238/q239 oracles.
  */
object Bzip2 {

  import Bytes.{Damage, damage}

  /** CRC32, MSB-first, polynomial 0x04c11db7 (bzip2's own, NOT zlib's). */
  private val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04c11db7 else c << 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private final class Bits(b: Array[Byte]) {
    var pos = 0L // bit position
    val total: Long = b.length.toLong * 8
    def bit(): Int = {
      if (pos >= total) damage()
      val v = (b((pos >> 3).toInt) >> (7 - (pos & 7).toInt)) & 1
      pos += 1
      v
    }
    def bits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
  }

  /** Per-thread BWT block buffer (max 900 KB at level 9) — see the
    * reuse note at its use site in [[decodeBlock]].
    */
  private val blockBuf: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](0))

  private val BlockMagic = 0x314159265359L // BCD pi
  private val EosMagic = 0x177245385090L // BCD sqrt(pi)

  /** Decompress a complete .bz2 byte stream (concatenated streams
    * allowed). None on any malformation or CRC mismatch. Output capped
    * at `cap` bytes (adversarial-allocation bound).
    */
  def decompress(b: Array[Byte], cap: Int = 1 << 26): Option[Array[Byte]] = {
    try {
      // initial-capacity hint only; b.length * 4 overflows Int past
      // 512 MB and a negative capacity throws OUTSIDE the Damage family
      val out = new java.io.ByteArrayOutputStream(math.min(b.length, 1 << 16))
      val in = new Bits(b)
      var firstStream = true
      var more = true
      while (more) {
        // stream header: only byte-aligned "BZh1".."BZh9"
        if ((in.pos & 7) != 0) damage()
        if (in.pos >= in.total) { more = false }
        else {
          if (in.bits(8) != 'B' || in.bits(8) != 'Z' || in.bits(8) != 'h')
            damage()
          val level = in.bits(8).toInt - '0'
          if (level < 1 || level > 9) damage()
          firstStream = false
          val maxBlock = level * 100000
          var combined = 0
          var eos = false
          while (!eos) {
            val magic = in.bits(48)
            if (magic == EosMagic) {
              val streamCrc = in.bits(32).toInt
              if (streamCrc != combined) damage()
              // skip padding to the byte boundary
              in.pos = (in.pos + 7) & ~7L
              eos = true
            } else if (magic == BlockMagic) {
              val blockCrc = decodeBlock(in, maxBlock, out, cap)
              combined = ((combined << 1) | (combined >>> 31)) ^ blockCrc
            } else damage()
          }
          if (in.pos >= in.total) more = false // else: another stream
        }
      }
      if (firstStream) return None // empty input is not a bzip2 stream
      Some(out.toByteArray)
    } catch { case _: Damage => None }
  }

  /** Decode one block into `out`; returns the block's declared CRC
    * (already verified against the decoded bytes).
    */
  private def decodeBlock(in: Bits, maxBlock: Int,
                          out: java.io.ByteArrayOutputStream,
                          cap: Int): Int = {
    val declaredCrc = in.bits(32).toInt
    if (in.bit() != 0) damage() // randomized blocks: deprecated, reject
    val origPtr = in.bits(24).toInt
    // used-byte map: 16-bit coarse map, then one 16-bit fine map each
    val coarse = in.bits(16).toInt
    val used = new Array[Int](256)
    var nUsed = 0
    var i = 0
    while (i < 16) {
      if ((coarse & (0x8000 >> i)) != 0) {
        val fine = in.bits(16).toInt
        var j = 0
        while (j < 16) {
          if ((fine & (0x8000 >> j)) != 0) { used(nUsed) = i * 16 + j; nUsed += 1 }
          j += 1
        }
      }
      i += 1
    }
    if (nUsed < 1) damage()
    val alphaSize = nUsed + 2
    val nGroups = in.bits(3).toInt
    if (nGroups < 2 || nGroups > 6) damage()
    val nSelectors = in.bits(15).toInt
    if (nSelectors < 1) damage()
    // selectors: unary counts, MTF-decoded over the group list
    val selectors = new Array[Int](nSelectors)
    val gmtf = Array.tabulate(nGroups)(identity)
    i = 0
    while (i < nSelectors) {
      var j = 0
      while (in.bit() == 1) { j += 1; if (j >= nGroups) damage() }
      val g = gmtf(j)
      while (j > 0) { gmtf(j) = gmtf(j - 1); j -= 1 }
      gmtf(0) = g
      selectors(i) = g
      i += 1
    }
    // per-group delta-coded code lengths -> canonical decode tables
    val limit = Array.ofDim[Int](nGroups, 24)
    val base = Array.ofDim[Int](nGroups, 24)
    val perm = Array.ofDim[Int](nGroups, alphaSize)
    val minLens = new Array[Int](nGroups)
    val len = new Array[Int](alphaSize)
    var g = 0
    while (g < nGroups) {
      var curr = in.bits(5).toInt
      i = 0
      while (i < alphaSize) {
        var spin = 0
        while ({
          if (curr < 1 || curr > 20) damage()
          in.bit() == 1
        }) {
          if (in.bit() == 0) curr += 1 else curr -= 1
          spin += 1
          if (spin > 40) damage()
        }
        len(i) = curr
        i += 1
      }
      // hbCreateDecodeTables (bzlib's canonical construction)
      var minLen = 32; var maxLen = 0
      i = 0
      while (i < alphaSize) {
        if (len(i) > maxLen) maxLen = len(i)
        if (len(i) < minLen) minLen = len(i)
        i += 1
      }
      var pp = 0
      var l = minLen
      while (l <= maxLen) {
        i = 0
        while (i < alphaSize) {
          if (len(i) == l) { perm(g)(pp) = i; pp += 1 }
          i += 1
        }
        l += 1
      }
      java.util.Arrays.fill(base(g), 0)
      java.util.Arrays.fill(limit(g), 0)
      i = 0
      while (i < alphaSize) { base(g)(len(i) + 1) += 1; i += 1 }
      i = 1
      while (i < 24) { base(g)(i) += base(g)(i - 1); i += 1 }
      var vec = 0
      l = minLen
      while (l <= maxLen) {
        vec += base(g)(l + 1) - base(g)(l)
        limit(g)(l) = vec - 1
        vec <<= 1
        l += 1
      }
      l = minLen + 1
      while (l <= maxLen) {
        base(g)(l) = ((limit(g)(l - 1) + 1) << 1) - base(g)(l)
        l += 1
      }
      minLens(g) = minLen
      g += 1
    }
    // symbol stream: groups of 50, tables switched by selector
    var groupNo = -1
    var groupPos = 0
    def getSym(): Int = {
      if (groupPos == 0) {
        groupNo += 1
        if (groupNo >= nSelectors) damage()
        groupPos = 50
      }
      groupPos -= 1
      val t = selectors(groupNo)
      var zn = minLens(t)
      if (zn < 1 || zn > 20) damage()
      var zvec = in.bits(zn).toInt
      while (zvec > limit(t)(zn)) {
        zn += 1
        if (zn > 20) damage()
        zvec = (zvec << 1) | in.bit()
      }
      val idx = zvec - base(t)(zn)
      if (idx < 0 || idx >= alphaSize) damage()
      perm(t)(idx)
    }
    val eob = alphaSize - 1
    // MTF + run decode into the BWT block. The buffer is REUSED per
    // thread: a fresh Array[Byte](maxBlock) is a 100k–900k zero-fill
    // per block, which dominates end-to-end decode for small inputs
    // (the corpus-blob shape: thousands of ~100-byte members each
    // paying a 900 KB allocation). Only cells [0, n) are ever written
    // then read, so stale bytes past n are unreachable.
    val block = {
      val b = blockBuf.get()
      if (b.length >= maxBlock) b
      else { val nb = new Array[Byte](maxBlock); blockBuf.set(nb); nb }
    }
    var n = 0
    val mtf = new Array[Int](256)
    i = 0
    while (i < nUsed) { mtf(i) = used(i); i += 1 }
    var sym = getSym()
    while (sym != eob) {
      if (sym <= 1) { // RUNA/RUNB: bijective base-2 run of mtf(0)
        var run = 0L
        var weight = 1L
        while (sym <= 1) {
          run += (if (sym == 0) weight else 2 * weight)
          weight <<= 1
          if (run > maxBlock) damage()
          sym = getSym()
        }
        if (n + run > maxBlock) damage()
        val v = mtf(0).toByte
        var k = 0L
        while (k < run) { block(n) = v; n += 1; k += 1 }
      } else {
        val idx = sym - 1
        if (idx >= nUsed) damage()
        val v = mtf(idx)
        var k = idx
        while (k > 0) { mtf(k) = mtf(k - 1); k -= 1 }
        mtf(0) = v
        if (n >= maxBlock) damage()
        block(n) = v.toByte
        n += 1
        sym = getSym()
      }
    }
    if (n < 1 || origPtr >= n) damage()
    // inverse BWT: counting sort builds the successor vector
    val counts = new Array[Int](256)
    i = 0
    while (i < n) { counts(block(i) & 0xff) += 1; i += 1 }
    val starts = new Array[Int](256)
    var acc = 0
    i = 0
    while (i < 256) { starts(i) = acc; acc += counts(i); i += 1 }
    val next = new Array[Int](n)
    i = 0
    while (i < n) {
      val bb = block(i) & 0xff
      next(starts(bb)) = i
      starts(bb) += 1
      i += 1
    }
    // walk + final-RLE undo + CRC, single pass
    var crc = 0xffffffff
    def push(v: Int): Unit = {
      if (out.size() >= cap) damage()
      out.write(v)
      crc = (crc << 8) ^ crcTable(((crc >>> 24) ^ v) & 0xff)
    }
    var p = next(origPtr)
    var emitted = 0
    var last = -1
    var runLen = 0
    while (emitted < n) {
      val v = block(p) & 0xff
      p = next(p)
      emitted += 1
      if (runLen == 4) { // the byte after a 4-run is an extra count
        var k = 0
        while (k < v) { push(last); k += 1 }
        runLen = 0
        last = -1
      } else {
        if (v == last) runLen += 1 else { last = v; runLen = 1 }
        push(v)
      }
    }
    if (runLen == 4) damage() // block ended right before its count byte
    crc = ~crc
    if (crc != declaredCrc) damage()
    declaredCrc
  }
}
