package graft.sources

import org.apache.spark.sql.{Dataset, Encoders}

/** Avro OBJECT CONTAINER FILE walk (the Apache Avro 1.x spec's file
  * format) — the canonical data-lake container: Kafka dumps, Sqoop
  * exports, and event-log archives all ship as `.avro`. The layout:
  *
  * {{{
  *   "Obj" 0x01                                  4-byte magic
  *   file metadata: map<string, bytes>           avro.schema, avro.codec
  *   16-byte sync marker
  *   per block: record count (zigzag varint),
  *              byte size    (zigzag varint),
  *              payload      (deflated when codec=deflate),
  *              16-byte sync marker               MUST equal the header's
  * }}}
  *
  * Every integer is a ZIGZAG VARINT (n → (n<<1)^(n>>63), then 7-bit
  * little-endian groups with a continuation MSB) — the format has no
  * fixed-width numbers at all. The per-block sync marker is the crash
  * -recovery mechanism (a reader seeks to the next sync after damage);
  * HERE a sync mismatch ends the walk — report damage, don't resync
  * silently — and earlier blocks are kept (the gzip-member posture:
  * crawl-scale files are routinely cut mid-block).
  *
  * The write side, [[write]], frames its blocks through
  * [[AvroWrite.framed]], the engine's one container writer.
  *
  * Scope: the `(long, string)` record schema the corpus queries use
  * (id + payload — the Kafka-dump shape), codecs `null`, `deflate`
  * (raw DEFLATE per the spec) and `snappy` (block payload + 4-byte
  * big-endian CRC32 of the uncompressed bytes, decoded by the
  * engine's OWN [[Snappy]]). One blob per
  * scan task, records exploded with zero shuffles ([[Warc.records]] /
  * [[Zip.entries]] posture). Malformed header, unknown codec, a block
  * whose payload does not parse into exactly `count` records, or a
  * varint running past the buffer → the walk stops with what it has
  * (blocks are independent); a malformed HEADER yields Nil.
  */
object Avro {
  import Bytes.{Reader, damage}

  /** One input blob: an .avro container's raw bytes. */
  case class AvroBlob(blob_id: Long, content: Array[Byte])

  /** One decoded record with its container coordinates. */
  case class AvroRecord(blob_id: Long, block_idx: Int, rec_idx: Int,
                        rec_id: Long, payload: String,
                        codec: String, sync_ok: Boolean)

  private val Magic = Array[Byte]('O', 'b', 'j', 1)

  /** An Avro string or bytes payload: zigzag length, then the bytes. */
  private[sources] def str(r: Reader): String = r.utf8(r.len(r.zigzag()))

  /** The container header's metadata map: count-prefixed blocks of
    * string pairs, 0-terminated. A negative count (the block-size
    * form) is not emitted by any writer this walk targets: Damage.
    */
  private[sources] def meta(r: Reader): Map[String, String] = {
    val m = Map.newBuilder[String, String]
    var n = r.zigzag()
    while (n != 0) {
      if (n < 0) damage()
      var i = 0L
      while (i < n) { m += str(r) -> str(r); i += 1 }
      n = r.zigzag()
    }
    m.result()
  }

  /** The corpus record schema, as the writer declares it. */
  val SchemaJson: String =
    """{"type":"record","name":"doc","fields":[""" +
      """{"name":"rec_id","type":"long"},""" +
      """{"name":"payload","type":"string"}]}"""

  /** Write an object container file through [[AvroWrite.framed]]:
    * `(rec_id, payload)` records in blocks of `blockRecords`, with the
    * given 16-byte sync marker. Block bodies are the layout the size
    * oracle pins: `deflate` is JDK zlib at level 6 (the q190-pinned
    * canonical level), `snappy` and `zstandard` are their stored
    * (literal-only / raw-block) forms, legal and deterministic.
    */
  def write(records: Seq[(Long, String)], sync: Array[Byte],
            codec: String = "null", blockRecords: Int = 5): Array[Byte] = {
    require(codec == "null" || codec == "deflate" ||
      codec == "snappy" || codec == "zstandard", s"codec $codec")
    require(blockRecords > 0, "blockRecords must be positive")
    import AvroGeneric.{VLong, VRecord, VString}
    val blocks = records.grouped(blockRecords).map(_.map {
      case (id, payload) =>
        VRecord(Vector("rec_id" -> VLong(id), "payload" -> VString(payload)))
    })
    AvroWrite.framed(SchemaJson, codec, sync, blocks) { raw =>
      codec match {
        case "null" => raw
        case "zstandard" => Zstd.frameStored(raw)
        case "snappy" =>
          AvroWrite.withCrc32(Snappy.compressStored(raw), raw)
        case _ =>
          val d = new java.util.zip.Deflater(6, true)
          try {
            d.setInput(raw); d.finish()
            val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
            val chunk = new Array[Byte](8192)
            while (!d.finished()) bos.write(chunk, 0, d.deflate(chunk))
            bos.toByteArray
          } finally d.end()
      }
    }
  }

  /** Walk one container. Malformed header → Nil; damage mid-stream
    * (bad sync, truncated block, payload not parsing into exactly
    * `count` records) ends the walk keeping earlier blocks, with the
    * failing block's records carrying `sync_ok=false` when it is the
    * sync that broke (damage counted, not vanished).
    */
  def parse(blobId: Long, b: Array[Byte]): Seq[AvroRecord] = {
    if (b.length < 20 || !Magic.indices.forall(i => b(i) == Magic(i)))
      return Nil
    val r = new Reader(b, 4, b.length)
    val m = Bytes.total(meta(r)).getOrElse(return Nil)
    val codec = m.getOrElse("avro.codec", "null")
    val schema = m.getOrElse("avro.schema", null)
    // The record layout below is a CONTRACT, not an assumption: the
    // declared schema must be the (long, string) shape this walk
    // decodes, field order and types included — whitespace-insensitive,
    // since writers serialize the JSON differently. Anything else
    // routes to a full Avro stack rather than misreading varints as
    // the wrong fields.
    if (schema == null ||
      schema.replaceAll("\\s", "") != SchemaJson.replaceAll("\\s", ""))
      return Nil
    if (codec != "null" && codec != "deflate" && codec != "snappy" &&
      codec != "zstandard")
      return Nil // route elsewhere
    if (r.remaining < 16) return Nil
    val sync = r.bytes(16)
    // ---- block walk ----------------------------------------------------
    val out = scala.collection.mutable.ArrayBuffer.empty[AvroRecord]
    var blockIdx = 0
    var stop = false
    while (!stop && r.remaining > 0) {
      val head = Bytes.total {
        val cnt = r.zigzag()
        if (cnt <= 0) damage()
        val len = r.len(r.zigzag())
        if (len > r.remaining - 16) damage()
        (cnt, len)
      }
      if (head.isEmpty) stop = true
      else {
        val (cnt, dataLen) = head.get
        val dataOff = r.pos
        val raw: Array[Byte] =
          if (codec == "null")
            java.util.Arrays.copyOfRange(b, dataOff, dataOff + dataLen)
          else if (codec == "snappy")
            snappyBlock(b, dataOff, dataLen)
          else if (codec == "zstandard")
            // one zstd frame per block, engine-owned full decode
            Zstd.walk(java.util.Arrays.copyOfRange(
                b, dataOff, dataOff + dataLen)) match {
              case Some(Seq(fr)) if fr.kind == "zstd" => fr.decoded
              case _ => null
            }
          else {
            val inf = new java.util.zip.Inflater(true)
            try {
              inf.setInput(b, dataOff, dataLen)
              val bos = new java.io.ByteArrayOutputStream(dataLen * 2 + 64)
              val chunk = new Array[Byte](8192)
              var err = false
              while (!err && !inf.finished()) {
                val n =
                  try inf.inflate(chunk)
                  catch {
                    case _: java.util.zip.DataFormatException =>
                      err = true; 0
                  }
                if (n > 0) bos.write(chunk, 0, n)
                else if (!err && !inf.finished()) err = true
                // adversarial-allocation bound (same 2^26 cap as the
                // PNG/GIF/JPEG decoders): a crafted ~1000:1 block must
                // hit the damage path, not grow the task heap unbounded
                if (bos.size() > (1 << 26)) err = true
              }
              if (err) null else bos.toByteArray
            } finally inf.end()
          }
        // records: exactly `cnt` (id, payload) pairs, nothing left
        val recs = if (raw == null) None else Bytes.total {
          val rr = new Reader(raw, 0, raw.length)
          val recs = scala.collection.mutable.ArrayBuffer
            .empty[(Long, String)]
          var i = 0L
          while (i < cnt) { recs += (rr.zigzag() -> str(rr)); i += 1 }
          if (rr.remaining != 0) damage()
          recs
        }
        if (recs.isEmpty) stop = true
        else {
          r.skip(dataLen)
          val syncOk = (0 until 16).forall(i => r.u8().toByte == sync(i))
          recs.get.zipWithIndex.foreach { case ((id, pl), ri) =>
            out += AvroRecord(blobId, blockIdx, ri, id, pl, codec, syncOk)
          }
          if (!syncOk) stop = true // damage observable, walk ends
          blockIdx += 1
        }
      }
    }
    out.toSeq
  }

  /** Explode containers into records on the scan tasks — zero shuffles,
    * one file per row.
    */
  def records(blobs: Dataset[AvroBlob]): Dataset[AvroRecord] = {
    implicit val enc = Encoders.product[AvroRecord]
    blobs.mapPartitions(_.flatMap(a => parse(a.blob_id, a.content)))
  }

  /** Decode one snappy-codec block: the last 4 payload bytes are the
    * BIG-ENDIAN CRC32 of the uncompressed data (Avro spec, "Required
    * Codecs"); a size bomb, malformed stream, or CRC mismatch is
    * damage (null). Decoded through the engine's OWN [[Snappy]] —
    * nothing links against snappy-java here.
    */
  private[graft] def snappyBlock(b: Array[Byte], off: Int,
                                 len: Int): Array[Byte] = {
    if (len < 4) return null
    Snappy.uncompressSelf(b, off, len - 4, 1 << 26) match {
      case Some(d) =>
        val crc = new java.util.zip.CRC32()
        crc.update(d)
        val want = Bytes.be32(b, off + len - 4) & 0xffffffffL
        if ((crc.getValue & 0xffffffffL) == want) d else null
      case None => null
    }
  }
}
