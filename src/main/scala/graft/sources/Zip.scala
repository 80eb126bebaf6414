package graft.sources

import org.apache.spark.sql.{Dataset, Encoders}

/** ZIP (PKWARE APPNOTE) central-directory walk — the container format a
  * crawl actually ships documents in: docx, epub, jar/apk, odt are all
  * ZIPs, and a 100 TB archive sweep reads each file's END (EOCD +
  * central directory) to inventory entries WITHOUT touching the
  * payloads. That tail-first access pattern is the whole point of the
  * format: the End Of Central Directory record sits at the end (behind
  * an up-to-64 KB comment), names the central directory's offset and
  * size, and each central-directory header carries the entry's name,
  * compression method, sizes, CRC-32, and local-header offset — a
  * pointer chase from the back, the mirror image of the MP4/TIFF
  * forward walks.
  *
  * Mirrors the reference's container-ingestion posture (cf.
  * `/root/reference/pdf_to_xlsx.py:126` — the reference's xlsx output
  * IS a zip, opened via openpyxl; this engine walks the directory
  * itself on the scan task, zero shuffles).
  *
  * Scope: single-disk archives, WITH ZIP64 (APPNOTE §4.4.1 / §4.5.3):
  * when the EOCD's 16/32-bit fields carry their 0xFFFF / 0xFFFFFFFF
  * escape values, the walk follows the EOCD64 locator (0x07064b50,
  * the 20 bytes preceding the EOCD) to the EOCD64 record (0x06064b50)
  * and takes entry count / directory size / offset from its 64-bit
  * fields; per-entry, escaped central-header size/offset fields
  * resolve through the 0x0001 "ZIP64 extended information" extra
  * field, whose 8-byte values appear IN ESCAPE ORDER (uncompressed,
  * compressed, local-header offset, disk) and only for the fields
  * actually escaped. A >4 GB archive and a >65,535-entry archive both
  * walk with the same code — the escapes are exercised by small blobs
  * in ZipSpec/q220 because the mechanism, not the payload size, is
  * what needs proving. Metadata only (no inflate here — entry payload
  * decode belongs to the format the entry contains). Malformed input —
  * no EOCD magic in the tail window, out-of-range directory span,
  * truncated header, an escape with no backing ZIP64 field, entry
  * whose local-header offset does not hold a local-header magic —
  * yields an empty result (byte-walk totality law: never a partial
  * inventory presented as complete).
  */
object Zip {
  import Bytes.{Damage, Reader}

  /** One input blob: a ZIP file's raw bytes. */
  case class ZipBlob(blob_id: Long, content: Array[Byte])

  /** One central-directory entry (metadata only — payloads are sliced
    * lazily by whoever consumes the entry, via `lfh_offset`).
    */
  case class ZipEntry(blob_id: Long, entry_name: String, method: Int,
                      crc32: Long, comp_size: Long, uncomp_size: Long,
                      lfh_offset: Long)

  private val EocdMagic = 0x06054b50L
  private val Eocd64Magic = 0x06064b50L
  private val Eocd64LocMagic = 0x07064b50L
  private val CdhMagic = 0x02014b50L
  private val LfhMagic = 0x04034b50L

  /** Walk one blob's central directory. Returns all entries, or Nil on
    * any malformation (totality law — see class doc).
    */
  def parseCentralDirectory(blobId: Long, b: Array[Byte]): Seq[ZipEntry] =
    // a read past the blob is Damage: the walk is Nil
    try walk(blobId, new Reader(b, 0, b.length))
    catch { case _: Damage => Nil }

  private def walk(blobId: Long, r: Reader): Seq[ZipEntry] = {
    val b = r.b
    // ---- EOCD: scan BACKWARD from the end through the comment window
    // (spec: comment ≤ 65535 bytes, EOCD is the last record) ----------
    if (b.length < 22) return Nil
    var eocd = -1
    var i = b.length - 22
    val floor = math.max(0, b.length - 22 - 65535)
    while (eocd < 0 && i >= floor) {
      if (r.at(i).le32u() == EocdMagic &&
        // the candidate is real only if its comment length reaches the
        // true end of file — guards against the magic appearing inside
        // a comment or payload
        i + 22 + r.at(i + 20).le16() == b.length) eocd = i
      i -= 1
    }
    if (eocd < 0) return Nil
    var nEntries = r.at(eocd + 10).le16().toLong
    var cdSize = r.at(eocd + 12).le32u()
    var cdOffset = r.at(eocd + 16).le32u()
    // ---- ZIP64: escaped EOCD fields resolve through locator + EOCD64.
    // The escape values are SENTINELS, not data — an archive whose true
    // count/size/offset hits them must write the ZIP64 records, so a
    // missing locator behind an escape is malformation, not a fallback.
    if (nEntries == 0xffffL || cdSize == 0xffffffffL ||
      cdOffset == 0xffffffffL) {
      val loc = eocd - 20
      if (loc < 0 || r.at(loc).le32u() != Eocd64LocMagic) return Nil
      // single disk
      if (r.at(loc + 4).le32() != 0 || r.at(loc + 16).le32() != 1) return Nil
      val e64 = r.at(loc + 8).le64()
      if (e64 < 0 || e64 + 56 > loc ||
        r.at(e64.toInt).le32u() != Eocd64Magic) return Nil
      val p = e64.toInt
      // single disk
      if (r.at(p + 16).le32u() != 0L || r.at(p + 20).le32u() != 0L) return Nil
      val total = r.at(p + 32).le64()
      if (r.at(p + 24).le64() != total) return Nil // entries-on-disk ≡ total
      nEntries = total
      cdSize = r.at(p + 40).le64()
      cdOffset = r.at(p + 48).le64()
      if (nEntries < 0 || cdSize < 0 || cdOffset < 0 ||
        cdOffset + cdSize > e64) return Nil
    } else if (nEntries < 0 || cdSize < 0 || cdOffset < 0 ||
      cdOffset + cdSize > eocd) return Nil
    // ---- central-directory walk --------------------------------------
    val out = scala.collection.mutable.ArrayBuffer.empty[ZipEntry]
    var pos = cdOffset.toInt
    var k = 0L
    while (k < nEntries) {
      if (r.at(pos).le32u() != CdhMagic || pos + 46 > b.length) return Nil
      val method = r.at(pos + 10).le16()
      val crc = r.at(pos + 16).le32u()
      var compSize = r.at(pos + 20).le32u()
      var uncompSize = r.at(pos + 24).le32u()
      val nameLen = r.at(pos + 28).le16()
      val extraLen = r.at(pos + 30).le16()
      val commentLen = r.at(pos + 32).le16()
      val diskStart = r.at(pos + 34).le16()
      var lfhOff = r.at(pos + 42).le32u()
      if (pos + 46 + nameLen + extraLen > b.length) return Nil
      // ZIP64 per-entry escapes → the 0x0001 extra field. Its 8-byte
      // values appear in escape order and ONLY for escaped fields.
      if (uncompSize == 0xffffffffL || compSize == 0xffffffffL ||
        lfhOff == 0xffffffffL || diskStart == 0xffff) {
        var p = pos + 46 + nameLen
        val end = p + extraLen
        var found = false
        while (!found && p + 4 <= end) {
          val id = r.at(p).le16()
          val sz = r.at(p + 2).le16()
          if (p + 4 + sz > end) return Nil
          if (id == 0x0001) {
            val x = new Reader(b, p + 4, p + 4 + sz)
            if (uncompSize == 0xffffffffL) uncompSize = x.le64()
            if (compSize == 0xffffffffL) compSize = x.le64()
            if (lfhOff == 0xffffffffL) lfhOff = x.le64()
            if (diskStart == 0xffff && x.le32() != 0) return Nil // single disk
            if (uncompSize < 0 || compSize < 0) return Nil
            found = true
          }
          p += 4 + sz
        }
        if (!found) return Nil // an escape with no backing ZIP64 field
      }
      // pointer-chase proof: the named local-header offset must hold a
      // local-header magic (a directory pointing into garbage is not an
      // inventory)
      if (lfhOff < 0 || lfhOff > b.length - 4L ||
        r.at(lfhOff.toInt).le32u() != LfhMagic) return Nil
      val name = new String(b, pos + 46, nameLen,
        java.nio.charset.StandardCharsets.UTF_8)
      out += ZipEntry(blobId, name, method, crc, compSize, uncompSize, lfhOff)
      pos += 46 + nameLen + extraLen + commentLen
      k += 1
    }
    // the walk must land exactly at the directory's stated end
    if (pos.toLong != cdOffset + cdSize) return Nil
    out.toSeq
  }

  /** Explode ZIP blobs into central-directory entries on the scan tasks
    * — zero shuffles, one archive per row (the [[Warc.records]] shape).
    */
  def entries(blobs: Dataset[ZipBlob]): Dataset[ZipEntry] = {
    implicit val enc = Encoders.product[ZipEntry]
    blobs.mapPartitions(_.flatMap(z => parseCentralDirectory(z.blob_id, z.content)))
  }
}
