package graft.sources

/** LZ4 block decompression, from scratch. The block format is public
  * and tiny (lz4_Block_format.md in the lz4 repo): a stream of
  * sequences, each
  *
  *   token          — high nibble literal length, low nibble
  *                    match length - 4; nibble 15 extends with
  *                    255-run bytes (add each byte, stop at < 255)
  *   literals       — copied verbatim
  *   LE16 offset    — distance back into the OUTPUT (1..65535; 0 is
  *                    malformed), absent in the final sequence
  *   match copy     — matchLen bytes from out[pos - offset], copied
  *                    FORWARD byte-by-byte so an offset smaller than
  *                    the length replicates the overlap run (that is
  *                    the format's RLE idiom, not a corner case)
  *
  * The final sequence is literals-only: input ends exactly after its
  * literals. Parquet's LZ4_RAW codec (id 7, the layout pyarrow writes
  * for `compression="lz4"`) is one such block per page payload;
  * Hadoop's legacy framing (parquet codec id 5, what parquet-mr/Spark
  * write) wraps blocks in BE32 length pairs — [[decompressFramed]].
  *
  * Totality law (the house posture): truncation, a zero or
  * out-of-window offset, literals past the input, output overrun or
  * shortfall — None, never a throw and never partial garbage. Decode
  * is exact-size: the caller says how many bytes the block must
  * produce (parquet page headers declare it), and anything else is
  * malformation. Lz4Spec pins this decoder against lz4-java (the JNI
  * reference implementation) as writer, fast and HC compressors both.
  */
object Lz4 {

  /** Decode ONE raw LZ4 block from `b[off, off+len)` to exactly
    * `want` bytes.
    */
  def decompressBlock(b: Array[Byte], off: Int, len: Int,
                      want: Int): Option[Array[Byte]] =
    decode(b, off, len, want, exact = true)

  /** Decode ONE raw LZ4 block whose output size is NOT declared
    * anywhere (ORC's chunk framing): up to `cap` bytes, returning
    * exactly what the sequences produce. The literals-only
    * final-sequence law still holds.
    */
  def decompressBounded(b: Array[Byte], off: Int, len: Int,
                        cap: Int): Option[Array[Byte]] =
    decode(b, off, len, cap, exact = false)

  private def decode(b: Array[Byte], off: Int, len: Int,
                     want: Int, exact: Boolean): Option[Array[Byte]] = {
    if (off < 0 || len < 0 || want < 0 ||
      off.toLong + len > b.length) return None
    val end = off + len
    val out = new Array[Byte](want)
    var ip = off
    var op = 0
    // the empty block: a single zero token (empty last sequence) — but
    // writers emit NOTHING for want=0 pages; accept both spellings
    if (want == 0 && len == 0) return Some(out)
    while (ip < end) {
      val token = b(ip) & 0xff
      ip += 1
      // literal run
      var litLen = token >>> 4
      if (litLen == 15) {
        var v = 255
        while (v == 255) {
          if (ip >= end) return None
          v = b(ip) & 0xff; ip += 1
          litLen += v
          if (litLen < 0) return None // Int overflow = forged run
        }
      }
      // Long comparisons: a forged 255-run can push litLen near
      // Int.MaxValue, where `ip + litLen` wraps negative and an Int
      // check would pass straight into the arraycopy
      if (ip.toLong + litLen > end || op.toLong + litLen > want) return None
      System.arraycopy(b, ip, out, op, litLen)
      ip += litLen; op += litLen
      if (ip == end) {
        // last sequence: literals only, no offset — exact mode must
        // land on `want`; bounded mode returns what was produced
        return if (op == want) Some(out)
        else if (!exact) Some(java.util.Arrays.copyOf(out, op))
        else None
      }
      // match
      if (ip + 2 > end) return None
      val offset = (b(ip) & 0xff) | ((b(ip + 1) & 0xff) << 8)
      ip += 2
      if (offset == 0 || offset > op) return None
      var matchLen = (token & 15) + 4
      if ((token & 15) == 15) {
        var v = 255
        while (v == 255) {
          if (ip >= end) return None
          v = b(ip) & 0xff; ip += 1
          matchLen += v
          if (matchLen < 0) return None
        }
      }
      if (op.toLong + matchLen > want) return None
      var src = op - offset
      var i = 0
      while (i < matchLen) { out(op + i) = out(src + i); i += 1 }
      op += matchLen
    }
    // input exhausted without a literals-only final sequence
    None
  }

  /** Decode a Hadoop-framed LZ4 payload (parquet codec id 5 — what
    * parquet-mr and Spark write for `lz4`) to exactly `want` bytes:
    * repeated groups of
    *
    *   BE32 uncompressedChunkLen, then one or more
    *   { BE32 compressedBlockLen, raw LZ4 block } until the chunk's
    *   uncompressed bytes are produced.
    *
    * Hadoop splits at its 256 KB buffer, so a parquet page is almost
    * always one group with one block — but the walk accepts the
    * general layout. Inner blocks carry no per-block uncompressed
    * size; each is decoded against the REMAINING chunk need, capped at
    * the buffer size, which is exactly how Hadoop's BlockDecompressor
    * stream consumes them.
    */
  def decompressFramed(b: Array[Byte], off: Int, len: Int,
                       want: Int): Option[Array[Byte]] = {
    if (off < 0 || len < 0 || want < 0 ||
      off.toLong + len > b.length) return None
    val end = off + len
    val HadoopBuf = 256 * 1024
    val out = new java.io.ByteArrayOutputStream(want)
    var ip = off
    while (ip < end) {
      if (ip + 4 > end) return None
      val chunkLen = Bytes.be32(b, ip); ip += 4
      if (chunkLen < 0 || out.size().toLong + chunkLen > want) return None
      var remaining = chunkLen
      while (remaining > 0) {
        if (ip + 4 > end) return None
        val compLen = Bytes.be32(b, ip); ip += 4
        if (compLen < 0 || ip + compLen > end) return None
        val blockOut = math.min(remaining, HadoopBuf)
        val dec = decompressBlock(b, ip, compLen, blockOut)
          .getOrElse(return None)
        out.write(dec)
        ip += compLen
        remaining -= blockOut
      }
    }
    if (out.size() == want) Some(out.toByteArray) else None
  }
}
