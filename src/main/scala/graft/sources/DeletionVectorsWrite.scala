package graft.sources

/** WRITE side of Delta deletion vectors (the twin of
  * [[DeletionVectors]], q270's reader): RoaringBitmapArray portable
  * serialization (delta's 64-bit extension over the public
  * RoaringFormatSpec), Z85 text encoding for inline storage and
  * UUID paths, and the versioned/CRC-framed `.bin` DV file. Array
  * containers for cardinality <= 4096, bitmap containers above —
  * the no-run cookie 12346 with the mandatory offset table, byte-
  * compatible with org.roaringbitmap (RoaringBitmapSpec pins the
  * cross-read). Deterministic throughout.
  */
object DeletionVectorsWrite {

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyz" +
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"

  /** Z85-encode, zero-padding to a 4-byte group (the reader's
    * inline law allows up to 3 trailing pad bytes over sizeInBytes).
    */
  def z85Encode(b: Array[Byte]): String = {
    val pad = (4 - b.length % 4) % 4
    val d = java.util.Arrays.copyOf(b, b.length + pad)
    val sb = new StringBuilder(d.length / 4 * 5)
    var i = 0
    while (i < d.length) {
      var v = ((d(i) & 0xffL) << 24) | ((d(i + 1) & 0xffL) << 16) |
        ((d(i + 2) & 0xffL) << 8) | (d(i + 3) & 0xffL)
      val grp = new Array[Char](5)
      var k = 4
      while (k >= 0) {
        grp(k) = Z85Alphabet((v % 85).toInt)
        v /= 85
        k -= 1
      }
      sb.appendAll(grp)
      i += 4
    }
    sb.toString
  }

  /** The `u`-storage pathOrInlineDv for a UUID (no directory
    * prefix): Z85 of the 16 big-endian UUID bytes — 20 chars whose
    * [[DeletionVectors.uuidPath]] resolution is
    * `deletion_vector_<canonical uuid>.bin`.
    */
  def uuidPathEncode(uuid: java.util.UUID): String = {
    val b = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      b(i) = ((uuid.getMostSignificantBits >>> (56 - 8 * i)) & 0xff)
        .toByte
      b(i + 8) = ((uuid.getLeastSignificantBits >>> (56 - 8 * i)) &
        0xff).toByte
      i += 1
    }
    z85Encode(b)
  }

  /** Serialize sorted distinct 64-bit values as delta's portable
    * RoaringBitmapArray: LE32 magic, LE64 bitmap count (high-32
    * buckets, dense from 0), then each 32-bit bitmap with cookie
    * 12346, key/cardinality headers, the offset table, and array
    * (LE16) or bitmap (1024 LE64 words) container payloads.
    */
  def serializeBitmap(values: Seq[Long]): Array[Byte] = {
    require(values == values.sorted.distinct, "sorted distinct")
    require(values.forall(v => v >= 0), "non-negative")
    val out = new java.io.ByteArrayOutputStream()
    Bytes.putLe32(out, 1681511377)
    val nBitmaps = if (values.isEmpty) 0L else (values.last >>> 32) + 1
    require(nBitmaps <= 64, "bitmap count")
    Bytes.putLe64(out, nBitmaps)
    val byHigh = values.groupBy(_ >>> 32)
    var bm = 0L
    while (bm < nBitmaps) {
      val vs = byHigh.getOrElse(bm, Seq.empty).map(v => (v & 0xffffffffL).toInt)
      val byKey = vs.groupBy(v => v >>> 16).toSeq.sortBy(_._1)
      Bytes.putLe32(out, 12346)
      Bytes.putLe32(out, byKey.length)
      byKey.foreach { case (key, xs) =>
        Bytes.putLe16(out, key)
        Bytes.putLe16(out, xs.length - 1)
      }
      // offset table: byte offsets of each container's payload from
      // the start of THIS bitmap's serialization
      var off = 4 + 4 + 4 * byKey.length + 4 * byKey.length
      byKey.foreach { case (_, xs) =>
        Bytes.putLe32(out, off)
        off += (if (xs.length <= 4096) 2 * xs.length else 8192)
      }
      byKey.foreach { case (_, xs) =>
        if (xs.length <= 4096)
          xs.foreach(v => Bytes.putLe16(out, v & 0xffff))
        else {
          val words = new Array[Long](1024)
          xs.foreach { v =>
            val low = v & 0xffff
            words(low >>> 6) |= 1L << (low & 63)
          }
          words.foreach(Bytes.putLe64(out, _))
        }
      }
      bm += 1
    }
    out.toByteArray
  }

  /** Frame vectors into a DV `.bin` file: version byte 1, then per
    * vector BE32 size + data + BE32 CRC-32. Returns the file bytes
    * and each vector's (offset, sizeInBytes) for the descriptors.
    */
  def dvFile(vectors: Seq[Array[Byte]])
      : (Array[Byte], Seq[(Long, Long)]) = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(1)
    val offs = vectors.map { v =>
      val off = out.size.toLong
      Bytes.putBe32(out, v.length)
      out.write(v, 0, v.length)
      val crc = new java.util.zip.CRC32()
      crc.update(v)
      Bytes.putBe32(out, crc.getValue.toInt)
      (off, v.length.toLong)
    }
    (out.toByteArray, offs)
  }

  /** The deletionVector descriptor JSON fragment (canonical key
    * order, python json.dumps form).
    */
  def descriptorJson(storageType: String, pathOrInlineDv: String,
                     offset: Option[Long], sizeInBytes: Long,
                     cardinality: Long): String = {
    val off = offset.map(o => s""""offset": $o, """).getOrElse("")
    s"""{"cardinality": $cardinality, ${off}"pathOrInlineDv": "$pathOrInlineDv", "sizeInBytes": $sizeInBytes, "storageType": "$storageType"}"""
  }
}
