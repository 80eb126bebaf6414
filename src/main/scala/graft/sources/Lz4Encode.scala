package graft.sources

/** LZ4 block COMPRESSOR (lz4_Block_format.md write side): greedy
  * LZ77 over 4-byte hash chains emitted as LZ4 sequences — token
  * (literal-length nibble / matchLength-4 nibble, 15 extending with
  * 255-run bytes), verbatim literals, LE16 offset (1..65535), with
  * the format's end restrictions enforced (the last 5 bytes are
  * literals; no match starts within 12 bytes of the end). Fully
  * deterministic (fixed hash, chain limit 64, nearest-longest
  * greedy), so byte oracles can pin it; Lz4Spec pins that lz4-java
  * (the reference implementation's JNI binding) decodes every output
  * byte-exact and the engine's own [[Lz4.decompressBlock]]
  * round-trips it.
  *
  * [[hadoopFrame]] wraps blocks in the BE32 length-pair framing
  * Hadoop codecs (and parquet codec id 5) use — the write twin of
  * [[Lz4.decompressFramed]].
  */
object Lz4Encode {

  /** Compress one raw LZ4 block. Always a valid block for any input
    * (worst case: all literals, ~0.4% expansion).
    */
  def compressBlock(data: Array[Byte]): Array[Byte] = {
    val n = data.length
    require(n <= (1 << 26), s"block too large: $n")
    val out = new java.io.ByteArrayOutputStream(n / 2 + 16)
    def writeLen(v0: Int): Unit = {
      // the 255-run extension after a saturated (15) nibble
      var v = v0
      while (v >= 255) { out.write(255); v -= 255 }
      out.write(v)
    }
    val Mask = (1 << 15) - 1
    val head = new Array[Int](1 << 15)
    java.util.Arrays.fill(head, -1)
    val prev = new Array[Int](1 << 15)
    def hash(i: Int): Int =
      ((((data(i) & 0xff) << 18) ^ ((data(i + 1) & 0xff) << 12) ^
        ((data(i + 2) & 0xff) << 6) ^ (data(i + 3) & 0xff)) *
        0x9e3779b1 >>> 17) & Mask
    def insert(i: Int): Unit = if (i + 4 <= n) {
      val h = hash(i)
      prev(i & Mask) = head(h)
      head(h) = i
    }
    var litStart = 0
    var i = 0
    // end restrictions: no match may START in the last 12 bytes, and
    // every match must END at least 5 literals before the block end
    val matchLimit = n - 12
    while (i < n) {
      var bestLen = 0
      var bestDist = 0
      if (i < matchLimit && i + 4 <= n) {
        var cand = head(hash(i))
        var chain = 0
        while (cand >= 0 && i - cand <= 65535 && chain < 64) {
          if (cand < i) {
            var l = 0
            val maxL = n - 5 - i // the last 5 bytes stay literals
            while (l < maxL && data(cand + l) == data(i + l)) l += 1
            if (l > bestLen && l >= 4) { bestLen = l; bestDist = i - cand }
          }
          val nxt = prev(cand & Mask)
          cand = if (nxt >= cand) -1 else nxt // ring-stale guard
          chain += 1
        }
      }
      if (bestLen >= 4) {
        val litLen = i - litStart
        val mlx = bestLen - 4
        val token = (math.min(15, litLen) << 4) | math.min(15, mlx)
        out.write(token)
        if (litLen >= 15) writeLen(litLen - 15)
        out.write(data, litStart, litLen)
        Bytes.putLe16(out, bestDist)
        if (mlx >= 15) writeLen(mlx - 15)
        var k = i
        val stop = i + bestLen
        while (k < stop) { insert(k); k += 1 }
        i = stop
        litStart = i
      } else {
        insert(i)
        i += 1
      }
    }
    // final sequence: literals only
    val litLen = n - litStart
    out.write(math.min(15, litLen) << 4)
    if (litLen >= 15) writeLen(litLen - 15)
    out.write(data, litStart, litLen)
    out.toByteArray
  }

  /** Hadoop BE32 length-pair framing (parquet codec id 5): one
    * chunk-length header per `bufSize` of input, each covered by
    * `bufSize`-bounded blocks with their compressed lengths — the
    * exact layout [[Lz4.decompressFramed]] consumes.
    */
  def hadoopFrame(data: Array[Byte],
                  bufSize: Int = 256 * 1024): Array[Byte] = {
    require(bufSize > 0)
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 32)
    var p = 0
    do {
      val chunk = math.min(bufSize, data.length - p)
      Bytes.putBe32(out, chunk)
      var q = p
      val chunkEnd = p + chunk
      while (q < chunkEnd) {
        val blockIn = math.min(bufSize, chunkEnd - q)
        val block = compressBlock(
          java.util.Arrays.copyOfRange(data, q, q + blockIn))
        Bytes.putBe32(out, block.length)
        out.write(block, 0, block.length)
        q += blockIn
      }
      p = chunkEnd
    } while (p < data.length)
    out.toByteArray
  }
}
