package graft.sources

/** Hudi LOG FILE walk (hudi.apache.org/tech-specs, "Log File
  * Format"): merge-on-read tables append updates and deletes to
  * `.{fileId}_{baseInstant}.log.{version}_{token}` files as a
  * sequence of framed blocks; the read view merges blocks whose
  * instants belong to COMPLETED deltacommits over the base file,
  * in instant order, last-wins per record key.
  *
  * Block frame (this engine's write/read contract, following the
  * spec's v1 layout): magic `#HUDI#`; BE64 blocksize = bytes from
  * the version field through the trailing total-length field; BE32
  * log format version (1); BE32 block type (0 command, 1 delete,
  * 2 corrupt, 3 avro data); header map (BE32 entry count, then per
  * entry BE32 key / BE32 length / UTF-8 value — keys 1 INSTANT_TIME,
  * 3 SCHEMA); BE64 content length; content; footer map (same
  * encoding); BE64 total block length INCLUDING the magic (the
  * spec's reverse-traversal pointer). Avro data content: BE32
  * content version, BE32 record count, then BE32 length + one bare
  * binary Avro datum per record under the header SCHEMA
  * ([[AvroGeneric.parseDatum]]). Delete content: BE32 content
  * version, BE32 key count, then BE32 length + UTF-8 record key per
  * entry — the spec's DeleteRecord array reduced to its keys, the
  * only field the merge consumes.
  *
  * Totality law: bad magic, framing fields that disagree, a record
  * that desyncs or leaves leftover bytes, an unparseable header
  * schema, or trailing garbage → None — never a throw, never
  * partial rows.
  */
object HudiLog {

  /** One decoded log block. `records` non-empty only for avro data
    * blocks, `deleteKeys` only for delete blocks.
    */
  final case class Block(blockType: Int, instant: String,
                         records: Vector[AvroGeneric.V],
                         deleteKeys: Vector[String],
                         /** Rollback COMMAND blocks name the instant
                           * they cancel here; empty otherwise.
                           */
                         target: String = "")

  val TypeCommand = 0
  val TypeDelete = 1
  val TypeCorrupt = 2
  val TypeAvroData = 3

  val HdrInstantTime = 1
  val HdrTargetInstant = 2
  val HdrSchema = 3

  private val Magic = "#HUDI#".getBytes(
    java.nio.charset.StandardCharsets.US_ASCII)
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val MaxBlocks = 1 << 12
  private val MaxEntries = 1 << 20

  import Bytes.{Damage, Reader, damage, putBe32, putBe64}

  /** BE32-count map of BE32 key -> length-prefixed UTF-8 value. */
  private def readMap(in: Reader): Map[Int, String] = {
    val n = in.be32()
    if (n < 0 || n > 64) damage()
    var m = Map.empty[Int, String]
    var i = 0
    while (i < n) {
      val k = in.be32()
      m += (k -> in.utf8(in.len(in.be32())))
      i += 1
    }
    m
  }

  /** A data or delete block's content: BE32 version, BE32 count, then
    * that many BE32-length-prefixed entries and nothing after them.
    */
  private def entries(content: Reader): Vector[Array[Byte]] = {
    content.skip(4)
    val n = content.be32()
    if (n < 0 || n > MaxEntries) damage()
    val out = Vector.fill(n)(content.bytes(content.len(content.be32())))
    if (content.remaining != 0) damage()
    out
  }

  /** Walk a complete log file into its blocks, in file order. */
  def parse(b: Array[Byte]): Option[Vector[Block]] = {
    try {
      val out = Vector.newBuilder[Block]
      val in = new Reader(b, 0, b.length)
      var nBlocks = 0
      while (in.remaining > 0) {
        nBlocks += 1
        if (nBlocks > MaxBlocks) return None
        val blockStart = in.pos
        if (!java.util.Arrays.equals(in.bytes(6), Magic)) return None
        val blockSize = in.be64()
        // blocksize covers version..totalLen inclusive; the empty
        // block is 4+4+4+8+4+8 = 32 bytes
        if (blockSize < 32 || blockSize > in.remaining) return None
        val blockEnd = in.pos + blockSize.toInt
        val version = in.be32()
        if (version != 1) return None
        val blockType = in.be32()
        val header = readMap(in)
        val contentLen = in.be64()
        if (contentLen < 0 || contentLen > blockEnd - in.pos) return None
        val content = in.sub(contentLen.toInt)
        readMap(in) // footer
        if (in.pos + 8 != blockEnd) return None
        val totalLen = in.be64()
        if (totalLen != (blockEnd - blockStart).toLong) return None
        val instant = header.getOrElse(HdrInstantTime, return None)
        val block = blockType match {
          case TypeAvroData =>
            val schemaJson = header.getOrElse(HdrSchema, return None)
            val schema = AvroGeneric.parseSchema(schemaJson)
              .getOrElse(return None)
            val recs = entries(content).map { one =>
              AvroGeneric.parseDatum(one, 0, schema) match {
                case Some((v, end)) if end == one.length => v
                case _ => return None // desync or leftover bytes
              }
            }
            Block(blockType, instant, recs, Vector.empty)
          case TypeDelete =>
            Block(blockType, instant, Vector.empty,
              entries(content).map(new String(_, Utf8)))
          case TypeCommand | TypeCorrupt =>
            Block(blockType, instant, Vector.empty, Vector.empty,
              header.getOrElse(HdrTargetInstant, ""))
          case _ => return None
        }
        out += block
      }
      val r = out.result()
      if (r.isEmpty) None else Some(r)
    } catch { case _: Damage => None }
  }

  // ---- write side (the fixture-free spec round trip) ---------------------

  private def wMap(out: java.io.ByteArrayOutputStream,
                   m: Seq[(Int, String)]): Unit = {
    putBe32(out, m.length)
    m.foreach { case (k, v) =>
      val vb = v.getBytes(Utf8)
      putBe32(out, k); putBe32(out, vb.length); out.write(vb, 0, vb.length)
    }
  }

  /** Emit one framed block (the exact layout [[parse]] reads). */
  def writeBlock(blockType: Int, header: Seq[(Int, String)],
                 content: Array[Byte]): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    putBe32(body, 1) // format version
    putBe32(body, blockType)
    wMap(body, header)
    putBe64(body, content.length.toLong)
    body.write(content, 0, content.length)
    wMap(body, Seq.empty) // footer
    val blockSize = body.size() + 8 // + trailing total-length field
    val totalLen = 6 + 8 + blockSize
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic, 0, 6)
    putBe64(out, blockSize.toLong)
    body.writeTo(out)
    putBe64(out, totalLen.toLong)
    out.toByteArray
  }

  /** Avro data block content: BE32 version 1, BE32 count, BE32
    * length + bare datum per record.
    */
  def dataContent(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    putBe32(out, 1)
    putBe32(out, records.length)
    records.foreach { r => putBe32(out, r.length); out.write(r, 0, r.length) }
    out.toByteArray
  }

  /** Delete block content: BE32 version 1, BE32 count, BE32 length +
    * UTF-8 key per entry.
    */
  def deleteContent(keys: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    putBe32(out, 1)
    putBe32(out, keys.length)
    keys.foreach { k =>
      val kb = k.getBytes(Utf8)
      putBe32(out, kb.length); out.write(kb, 0, kb.length)
    }
    out.toByteArray
  }
}
