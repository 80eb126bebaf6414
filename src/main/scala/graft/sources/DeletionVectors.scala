package graft.sources

/** Delta-Lake DELETION VECTORS (public PROTOCOL.md, "Deletion
  * Vectors") — the Delta side of merge-on-read: instead of rewriting
  * a data file to delete rows, the writer re-adds it with a
  * `deletionVector` descriptor naming the dead ROW POSITIONS, stored
  * as a 64-bit roaring bitmap either INLINE (Z85 text in the log) or
  * in a `.bin` DV FILE addressed by offset. Live rows = the file's
  * rows minus the bitmap. A reader that ignores descriptors
  * resurrects deleted rows — the same failure class q262 pins on
  * Iceberg.
  *
  * Three from-scratch layers, all from public specs:
  *
  *  - Z85 (the ZeroMQ spec delta names): 5 text chars per 4 bytes,
  *    base-85 big-endian over the fixed 85-char alphabet. Decodes
  *    both inline vectors and the UUID inside a `u`-storage path
  *    (last 20 chars -> 16 bytes -> canonical UUID ->
  *    `deletion_vector_<uuid>.bin`).
  *  - The DV file frame: 1-byte format version (1) at file start;
  *    each vector at its descriptor offset as
  *    `<BE32 size><data><BE32 CRC-32 of data>`, size matching the
  *    descriptor's sizeInBytes.
  *  - RoaringBitmapArray "portable" serialization (delta's 64-bit
  *    extension over the public RoaringFormatSpec): LE32 magic
  *    1681511377, LE64 bitmap count, then each 32-bit bitmap —
  *    cookies 12346 (no runs, LE32 container count) / 12347 (run
  *    flags, count-1 in the high 16 bits), per-container key and
  *    cardinality-1 shorts, optional offset table, then array
  *    (LE16 values), bitmap (1024 LE64 words) or run (LE16 pairs)
  *    containers. Value = (bitmapIndex << 32) | low32.
  *
  * Totality law: any malformation — bad alphabet char, frame size or
  * CRC mismatch, unknown cookie, container overrun, cardinality
  * disagreeing with the descriptor — is None, never a throw.
  */
object DeletionVectors {

  import Bytes.{Damage, Reader, damage}

  // ---- Z85 ---------------------------------------------------------------

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyz" +
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Rev: Array[Int] = {
    val r = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => r(c.toInt) = i }
    r
  }

  /** Decode Z85 text (length must be a multiple of 5) to bytes. */
  def z85Decode(s: String): Option[Array[Byte]] = {
    if (s.length % 5 != 0) return None
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    var o = 0
    while (i < s.length) {
      var v = 0L
      var k = 0
      while (k < 5) {
        val c = s.charAt(i + k)
        if (c >= 128 || Z85Rev(c) < 0) return None
        v = v * 85 + Z85Rev(c)
        k += 1
      }
      if (v > 0xffffffffL) return None // over 2^32: not a Z85 group
      out(o) = ((v >>> 24) & 0xff).toByte
      out(o + 1) = ((v >>> 16) & 0xff).toByte
      out(o + 2) = ((v >>> 8) & 0xff).toByte
      out(o + 3) = (v & 0xff).toByte
      i += 5
      o += 4
    }
    Some(out)
  }

  /** Resolve a `u`-storage pathOrInlineDv to its DV file name: the
    * LAST 20 chars are the Z85 of a 16-byte UUID, anything before is
    * a directory prefix; file = `deletion_vector_<canonical uuid>.bin`.
    */
  def uuidPath(pathOrInlineDv: String): Option[String] = {
    if (pathOrInlineDv.length < 20) return None
    val prefix = pathOrInlineDv.dropRight(20)
    z85Decode(pathOrInlineDv.takeRight(20)).flatMap { b =>
      if (b.length != 16) None
      else {
        val uuid = new java.util.UUID(Bytes.be64(b, 0), Bytes.be64(b, 8))
          .toString
        Some((if (prefix.nonEmpty) prefix + "/" else "") +
          s"deletion_vector_$uuid.bin")
      }
    }
  }

  // ---- DV frames ---------------------------------------------------------

  /** Slice one vector's `data` out of a DV FILE: version byte 1 at
    * file start; at `offset`: BE32 size (must equal the descriptor's
    * sizeInBytes), data, BE32 CRC-32 of data.
    */
  def fileSlice(file: Array[Byte], offset: Long,
                sizeInBytes: Long): Option[Array[Byte]] = {
    if (file.length < 1 || file(0) != 1) return None
    // bound offset against the file with Long math BEFORE narrowing:
    // offsets in Int.MaxValue-3..Int.MaxValue would wrap `p + 4`
    if (offset < 1 || sizeInBytes <= 0 || sizeInBytes > (1 << 26) ||
      offset + 8 > file.length) return None
    val p = offset.toInt
    val size = Bytes.be32(file, p)
    if (size.toLong != sizeInBytes) return None
    if ((p + 4).toLong + size + 4 > file.length) return None
    val data = java.util.Arrays.copyOfRange(file, p + 4, p + 4 + size)
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    val q = p + 4 + size
    if (crc.getValue.toInt != Bytes.be32(file, q)) return None
    Some(data)
  }

  // ---- RoaringBitmapArray (portable) ------------------------------------

  private val PortableMagic = 1681511377
  private val MaxValues = 1 << 24

  /** Deserialize delta's portable RoaringBitmapArray into its sorted
    * 64-bit values.
    */
  def bitmap(d: Array[Byte]): Option[Array[Long]] = {
    try {
      val in = new Reader(d, 0, d.length)
      if (in.le32() != PortableMagic) return None
      val nBitmaps = in.le64()
      if (nBitmaps < 0 || nBitmaps > 64) return None
      val out = Seq.newBuilder[Long]
      var total = 0L
      var bm = 0L
      while (bm < nBitmaps) {
        val high = bm << 32
        val cookie = in.le32()
        var nRuns: Array[Boolean] = null
        val nContainers =
          if ((cookie & 0xffff) == 12347) {
            val n = (cookie >>> 16) + 1
            if (n <= 0 || n > (1 << 16)) damage()
            val bytes = (n + 7) / 8
            val flags = new Array[Boolean](n)
            var i = 0
            while (i < bytes) {
              val x = in.u8()
              var j = 0
              while (j < 8 && i * 8 + j < n) {
                flags(i * 8 + j) = ((x >> j) & 1) != 0
                j += 1
              }
              i += 1
            }
            nRuns = flags
            n
          } else if (cookie == 12346) {
            val n = in.le32()
            if (n < 0 || n > (1 << 16)) damage()
            n
          } else damage()
        val keys = new Array[Int](nContainers)
        val cards = new Array[Int](nContainers)
        var i = 0
        while (i < nContainers) {
          keys(i) = in.le16()
          cards(i) = in.le16() + 1
          i += 1
        }
        // offset table: always with the no-run cookie, and with runs
        // when the container count clears the NO_OFFSET_THRESHOLD (4)
        if (nRuns == null || nContainers >= 4) {
          var k = 0
          while (k < nContainers) { in.le32(); k += 1 }
        }
        i = 0
        while (i < nContainers) {
          val base = high | (keys(i).toLong << 16)
          val isRun = nRuns != null && nRuns(i)
          total += cards(i)
          if (total > MaxValues) damage()
          if (isRun) {
            val n = in.le16()
            var got = 0L
            var r = 0
            while (r < n) {
              val start = in.le16()
              val len = in.le16() + 1
              var v = 0
              while (v < len) { out += base | (start + v); v += 1 }
              got += len
              if (start + len > (1 << 16)) damage()
              r += 1
            }
            if (got != cards(i)) damage()
          } else if (cards(i) <= 4096) {
            var v = 0
            var prev = -1
            while (v < cards(i)) {
              val x = in.le16()
              if (x <= prev) damage() // array containers are sorted
              out += base | x
              prev = x
              v += 1
            }
          } else {
            var w = 0
            var got = 0
            while (w < 1024) {
              val word = in.le64()
              var bit = 0
              while (bit < 64) {
                if (((word >>> bit) & 1L) != 0) {
                  out += base | (w * 64 + bit)
                  got += 1
                }
                bit += 1
              }
              w += 1
            }
            if (got != cards(i)) damage()
          }
          i += 1
        }
        bm += 1
      }
      if (in.remaining != 0) damage() // trailing bytes = malformation
      Some(out.result().toArray)
    } catch { case _: Damage => None }
  }

  /** Inline (`i`-storage) vector: Z85 in the log, no frame. Z85 works
    * in 4-byte groups, so up to 3 zero pad bytes may trail the
    * serialized bitmap; sizeInBytes is the UNPADDED length and the
    * bitmap decode sees exactly that slice. Cardinality must match
    * the descriptor's claim.
    */
  def inlineBitmap(z85: String, sizeInBytes: Long,
                   cardinality: Long): Option[Array[Long]] =
    z85Decode(z85).flatMap { d =>
      if (sizeInBytes <= 0 || sizeInBytes > (1 << 26) ||
        d.length < sizeInBytes || d.length - sizeInBytes > 3) None
      else bitmap(java.util.Arrays.copyOf(d, sizeInBytes.toInt))
        .filter(_.length.toLong == cardinality)
    }
}
