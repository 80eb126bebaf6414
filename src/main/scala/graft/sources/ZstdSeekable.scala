package graft.sources

/** The zstd SEEKABLE format (the public contrib spec shipped with
  * zstd, `seekable_format.md`): N independent zstd frames
  * concatenated, then one SKIPPABLE frame (magic 0x184D2A5E)
  * carrying the seek table — per-frame LE32 compressed/decompressed
  * sizes and a 9-byte footer (LE32 frame count, descriptor byte,
  * LE32 seekable magic 0x8F92EAB1). The xz-index story (q337) on the
  * zstd layer: a reader seeks straight to frame k and decodes it
  * alone — the shape a 1000-task scan wants from a multi-gigabyte
  * `.zst` that plain framing forces it to decompress serially.
  *
  * Both directions engine-owned: frames through [[ZstdEncode]], the
  * table parsed back against the forward walk. Totality: any
  * malformation — wrong magics, a table whose sizes do not tile the
  * payload exactly, truncation — is None.
  */
object ZstdSeekable {

  val SeekableMagic = 0x8F92EAB1
  private val SkippableMagic = 0x184D2A5E

  final case class SeekEntry(offset: Long, compressedSize: Long,
                             decompressedSize: Long)

  /** The seek-table skippable frame that closes a seekable `.zst`:
    * (compressed, decompressed) size per frame, no per-frame checksums.
    */
  private def putSeekTable(out: java.io.ByteArrayOutputStream,
                           entries: Seq[(Long, Long)]): Unit = {
    Bytes.putLe32(out, SkippableMagic)
    Bytes.putLe32(out, entries.length * 8 + 9)
    entries.foreach { case (cs, ds) =>
      Bytes.putLe32(out, cs.toInt); Bytes.putLe32(out, ds.toInt)
    }
    Bytes.putLe32(out, entries.length)
    out.write(0x00) // descriptor: no per-frame checksums
    Bytes.putLe32(out, SeekableMagic)
  }

  /** Write chunks as one seekable `.zst`: one own-encoder frame per
    * chunk plus the seek-table skippable frame.
    */
  def write(chunks: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val entries = chunks.map { c =>
      val f = ZstdEncode.compress(c)
      out.write(f, 0, f.length)
      (f.length.toLong, c.length.toLong)
    }
    putSeekTable(out, entries)
    out.toByteArray
  }

  /** Parse the seek table from the footer and cross-check it against
    * the payload: the compressed sizes must tile the bytes before
    * the table frame EXACTLY, and each tiled position must carry a
    * zstd frame magic.
    */
  def parse(b: Array[Byte]): Option[Seq[SeekEntry]] = {
    if (b.length < 17) return None
    if (Bytes.le32u(b, b.length - 4) != (SeekableMagic & 0xffffffffL))
      return None
    val descriptor = b(b.length - 5) & 0xff
    if ((descriptor & 0x7c) != 0) return None // reserved bits
    val withCk = (descriptor & 0x80) != 0
    val entryLen = if (withCk) 12 else 8
    val n = Bytes.le32u(b, b.length - 9)
    if (n < 0 || n > (1 << 20)) return None
    val tableContent = n * entryLen + 9
    val frameStart = b.length - 8 - tableContent
    if (frameStart < 0) return None
    if (Bytes.le32u(b, frameStart.toInt) != (SkippableMagic & 0xffffffffL))
      return None
    if (Bytes.le32u(b, frameStart.toInt + 4) != tableContent) return None
    val out = Seq.newBuilder[SeekEntry]
    var off = 0L
    var p = frameStart.toInt + 8
    var i = 0L
    while (i < n) {
      val cs = Bytes.le32u(b, p)
      val ds = Bytes.le32u(b, p + 4)
      if (cs < 0 || ds < 0 || off + cs > frameStart) return None
      // each entry must start at a zstd frame magic
      if (Bytes.le32u(b, off.toInt) != 0xfd2fb528L) return None
      out += SeekEntry(off, cs, ds)
      off += cs
      p += entryLen
      i += 1
    }
    if (off != frameStart.toLong) return None // sizes must tile exactly
    Some(out.result())
  }

  /** Random access: decode frame `k` ALONE (the parallel-scan unit) —
    * slices [offset, offset+size) and runs the own full decoder; the
    * decoded length must match the table's claim.
    */
  def frame(b: Array[Byte], e: SeekEntry): Option[Array[Byte]] =
    if (e.offset < 0 || e.offset + e.compressedSize > b.length) None
    else Zstd.walk(java.util.Arrays.copyOfRange(b, e.offset.toInt,
      (e.offset + e.compressedSize).toInt)) match {
      case Some(Seq(fr)) if fr.kind == "zstd" &&
        fr.decoded.length.toLong == e.decompressedSize =>
        Some(fr.decoded)
      case _ => None
    }

  // ---- seekable × structured dictionary (q406) -------------------------------

  /** Write chunks as a seekable `.zst` whose every frame NAMES one
    * structured dictionary (q395) — the shard-serving posture for a
    * small-document corpus: random access AND the shared-template
    * compression win at once. Each frame carries the dictID, so the
    * table still parses dictionary-free (seek metadata is not
    * secret), but frame content is unreachable without the named
    * dictionary.
    */
  def writeWithDict(chunks: Seq[Array[Byte]],
                    dict: Zstd.Dict): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val entries = chunks.map { c =>
      val f = ZstdEncode.compressWithStructuredDict(c, dict)
      out.write(f, 0, f.length)
      (f.length.toLong, c.length.toLong)
    }
    putSeekTable(out, entries)
    out.toByteArray
  }

  /** Random access under the named dictionary: frame `k` alone,
    * decoded through [[Zstd.walkWithDicts]]. None when the
    * dictionary is absent or wrong — the same fail-closed law as
    * the flat form, per frame.
    */
  def frameWithDicts(b: Array[Byte], e: SeekEntry,
                     dicts: Seq[Zstd.Dict]): Option[Array[Byte]] =
    if (e.offset < 0 || e.offset + e.compressedSize > b.length) None
    else Zstd.walkWithDicts(java.util.Arrays.copyOfRange(b,
      e.offset.toInt, (e.offset + e.compressedSize).toInt),
      dicts) match {
      case Some(Seq(fr)) if fr.kind == "zstd" &&
        fr.decoded.length.toLong == e.decompressedSize =>
        Some(fr.decoded)
      case _ => None
    }
}
