package graft.sources

/** Iceberg Puffin statistics files (q356) — both directions, from the
  * published spec (iceberg.apache.org/puffin-spec): the sidecar a
  * planner reads BEFORE scanning 100 TB, carrying per-column NDV
  * sketches keyed to a snapshot.
  *
  * Layout:
  * {{{
  * Magic "PFA1"
  *   blob payloads (back to back, offsets recorded in the footer)
  * Magic "PFA1"
  *   FooterPayload        (UTF-8 JSON: {"blobs":[...],"properties":{}})
  *   FooterPayloadSize    (LE32, bytes of FooterPayload)
  *   Flags                (4 bytes; bit 0 of byte 0 = payload
  *                         compressed — this writer never sets it)
  * Magic "PFA1"
  * }}}
  *
  * Blob metadata fields are the spec's: type, fields, snapshot-id,
  * sequence-number, offset, length, properties (we record the
  * sketch's "ndv" property the way Iceberg's own writer does). JSON
  * is written canonically (sorted keys, ", "/": " separators) so the
  * bytes are md5-pinnable; reading walks the engine's own [[Json]].
  * Totality: wrong magic anywhere, bad offsets, or malformed JSON
  * yields None.
  */
object Puffin {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val Magic = Array[Byte]('P', 'F', 'A', '1')

  final case class Blob(tpe: String, fields: Seq[Int],
                        snapshotId: Long, sequenceNumber: Long,
                        data: Array[Byte],
                        properties: Map[String, String] = Map.empty)

  final case class BlobMeta(tpe: String, fields: Seq[Int],
                            snapshotId: Long, sequenceNumber: Long,
                            offset: Long, length: Long,
                            properties: Map[String, String])

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def write(blobs: Seq[Blob],
            properties: Map[String, String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic, 0, 4)
    val metas = blobs.map { b =>
      val off = out.size().toLong
      out.write(b.data, 0, b.data.length)
      val props = b.properties.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
        .mkString("{", ", ", "}")
      s"""{"fields": [${b.fields.mkString(", ")}], "length": ${b.data.length}, "offset": $off, "properties": $props, "sequence-number": ${b.sequenceNumber}, "snapshot-id": ${b.snapshotId}, "type": ${jstr(b.tpe)}}"""
    }
    val props = properties.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ", ", "}")
    val payload =
      s"""{"blobs": [${metas.mkString(", ")}], "properties": $props}"""
        .getBytes(Utf8)
    out.write(Magic, 0, 4)
    out.write(payload, 0, payload.length)
    val n = payload.length
    Bytes.putLe32(out, n)
    out.write(0); out.write(0); out.write(0); out.write(0) // flags
    out.write(Magic, 0, 4)
    out.toByteArray
  }

  /** Footer size in bytes (Magic + payload + size + flags + Magic) —
    * what Iceberg metadata records as file-footer-size-in-bytes.
    */
  def footerSize(file: Array[Byte]): Option[Int] = {
    val n = file.length
    if (n < 20) return None
    val pl = (file(n - 12) & 0xff) | (file(n - 11) & 0xff) << 8 |
      (file(n - 10) & 0xff) << 16 | (file(n - 9) & 0xff) << 24
    if (pl < 0 || pl > n - 20) None else Some(pl + 16)
  }

  /** Read the whole file: (blob metadata + payload bytes, file
    * properties). None on any malformation.
    */
  def read(file: Array[Byte])
      : Option[(Seq[(BlobMeta, Array[Byte])], Map[String, String])] = {
    import Json.{JArray, JLong, JObject, JString}
    val n = file.length
    def magicAt(i: Int) =
      i >= 0 && i + 4 <= n && file(i) == 'P' && file(i + 1) == 'F' &&
        file(i + 2) == 'A' && file(i + 3) == '1'
    if (!magicAt(0) || !magicAt(n - 4)) return None
    // flags: only bit 0 (compressed payload) defined; we fail closed
    // on anything set since this reader never writes compression
    if (file(n - 8) != 0 || file(n - 7) != 0 || file(n - 6) != 0 ||
      file(n - 5) != 0) return None
    val pl = footerSize(file).map(_ - 16).getOrElse(return None)
    val payloadStart = n - 12 - pl
    if (!magicAt(payloadStart - 4)) return None
    val payload =
      new String(file, payloadStart, pl, Utf8)
    Json.parse(payload) match {
      case Some(o: JObject) =>
        val props = o.get("properties") match {
          case Some(p: JObject) =>
            p.fields.collect { case (k, JString(v)) => (k, v) }.toMap
          case _ => Map.empty[String, String]
        }
        o.get("blobs") match {
          case Some(JArray(xs)) =>
            val metas = xs.map {
              case b: JObject =>
                val res = for {
                  tpe <- b.get("type").collect { case JString(x) => x }
                  off <- b.get("offset").collect { case JLong(x) => x }
                  len <- b.get("length").collect { case JLong(x) => x }
                  snap <- b.get("snapshot-id")
                    .collect { case JLong(x) => x }
                  seq <- b.get("sequence-number")
                    .collect { case JLong(x) => x }
                  fields <- b.get("fields").collect {
                    case JArray(fs) => fs.collect {
                      case JLong(x) => x.toInt
                    }
                  }
                  if off >= 4 && len >= 0 &&
                    off + len <= payloadStart - 4
                } yield {
                  val bp = b.get("properties") match {
                    case Some(p: JObject) => p.fields.collect {
                      case (k, JString(v)) => (k, v)
                    }.toMap
                    case _ => Map.empty[String, String]
                  }
                  (BlobMeta(tpe, fields, snap, seq, off, len, bp),
                    java.util.Arrays.copyOfRange(file, off.toInt,
                      (off + len).toInt))
                }
                res.getOrElse(return None)
              case _ => return None
            }
            Some((metas, props))
          case _ => None
        }
      case _ => None
    }
  }
}
