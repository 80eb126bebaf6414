package graft.sources

import graft.sources.Json._

/** Schema-DRIVEN Avro datum decoding, from scratch — the general
  * reader [[Avro]]'s fixed-shape walk routes away to. The container
  * header embeds the writer schema as JSON; this module parses that
  * schema (through the engine's own [[Json]]) into a type tree and
  * walks each record's bytes field by field: Avro is not
  * self-delimiting, so EVERY field must be decoded (or strided) in
  * writer order — one mis-sized field desynchronizes everything after
  * it, which is exactly what makes the decoded aggregates a strong
  * oracle.
  *
  * Spec (public Avro 1.11 spec, "Data Serialization"): int/long are
  * zigzag varints; float/double little-endian IEEE; string/bytes are
  * length-prefixed; enum is the symbol index; fixed is its declared
  * width; union is the zigzag branch index then the branch value;
  * array/map are runs of blocks — COUNT (negative count carries a
  * block byte size for skipping) then items, terminated by a zero
  * count. Named-type REFERENCES resolve against previously defined
  * records/enums/fixeds (Iceberg manifest schemas use "r2"-style
  * refs). Logical types decode as their underlying primitive.
  *
  * The primary consumer is the Iceberg metadata walk (q257/q258):
  * manifest lists and manifest files ARE Avro containers of nested
  * records with unions, arrays and key/value maps. Totality law as
  * everywhere: malformation (bad varints, negative lengths, unknown
  * union branch, bytes past the block, depth bombs) returns None /
  * an empty walk, never a throw.
  */
object AvroGeneric {

  // ---- schema tree -------------------------------------------------------

  sealed trait Schema
  case object SNull extends Schema
  case object SBool extends Schema
  case object SInt extends Schema
  case object SLong extends Schema
  case object SFloat extends Schema
  case object SDouble extends Schema
  case object SBytes extends Schema
  case object SString extends Schema
  final case class SRecord(name: String,
                           fields: Vector[(String, Schema)]) extends Schema
  final case class SEnum(name: String, nSymbols: Int) extends Schema
  final case class SArray(items: Schema) extends Schema
  final case class SMap(values: Schema) extends Schema
  final case class SUnion(branches: Vector[Schema]) extends Schema
  final case class SFixed(name: String, size: Int) extends Schema
  /** Lazy named-type indirection: a field referencing its ENCLOSING
    * record (recursive schemas) parses while that record's field list
    * is still being built, so the reference resolves through the
    * shared name table at DECODE time, when the finished node is
    * registered. The datum-depth cap bounds recursion in the data.
    */
  final case class SRef(name: String,
                        named: collection.Map[String, Schema]) extends Schema

  import Bytes.{Damage, Reader, damage}

  /** Parse a schema JSON string into the type tree. */
  def parseSchema(json: String): Option[Schema] =
    Json.parse(json).flatMap { j =>
      try {
        val named = scala.collection.mutable.Map.empty[String, Schema]
        Some(schemaOf(j, named, 0))
      } catch { case _: Damage => None }
    }

  private def schemaOf(j: JValue,
                       named: scala.collection.mutable.Map[String, Schema],
                       depth: Int): Schema = {
    if (depth > 32) damage()
    j match {
      case JString(s) => primOrRef(s, named)
      case JArray(branches) =>
        SUnion(branches.map(schemaOf(_, named, depth + 1)))
      case o: JObject =>
        val t = o.get("type") match {
          case Some(JString(s)) => s
          case Some(inner @ (_: JObject | _: JArray)) =>
            // {"type": {...}} nesting (logical-type wrappers)
            return schemaOf(inner, named, depth + 1)
          case _ => damage()
        }
        t match {
          case "record" =>
            val name = o.get("name") match {
              case Some(JString(n)) => n
              case _ => damage()
            }
            val fieldsJ = o.get("fields") match {
              case Some(JArray(fs)) => fs
              case _ => damage()
            }
            // two-phase so self-references inside fields resolve — via
            // a LAZY ref, not a placeholder record (an empty-fields
            // placeholder would decode zero bytes and desync)
            named(name) = SRef(name, named)
            val resolved = fieldsJ.map {
              case fo: JObject =>
                val fn = fo.get("name") match {
                  case Some(JString(n)) => n
                  case _ => damage()
                }
                val ft = fo.get("type").getOrElse(damage())
                fn -> schemaOf(ft, named, depth + 1)
              case _ => damage()
            }
            val full = SRecord(name, resolved)
            named(name) = full
            full
          case "enum" =>
            val name = o.get("name") match {
              case Some(JString(n)) => n; case _ => damage()
            }
            val n = o.get("symbols") match {
              case Some(JArray(ss)) => ss.length
              case _ => damage()
            }
            val e = SEnum(name, n); named(name) = e; e
          case "fixed" =>
            val name = o.get("name") match {
              case Some(JString(n)) => n; case _ => damage()
            }
            val size = o.get("size") match {
              case Some(JLong(s)) if s >= 0 && s <= (1 << 20) => s.toInt
              case _ => damage()
            }
            val f = SFixed(name, size); named(name) = f; f
          case "array" =>
            SArray(schemaOf(o.get("items").getOrElse(damage()), named,
              depth + 1))
          case "map" =>
            SMap(schemaOf(o.get("values").getOrElse(damage()), named,
              depth + 1))
          case prim => primOrRef(prim, named)
        }
      case _ => damage()
    }
  }

  private def primOrRef(
      s: String,
      named: scala.collection.mutable.Map[String, Schema]): Schema =
    s match {
      case "null" => SNull
      case "boolean" => SBool
      case "int" => SInt
      case "long" => SLong
      case "float" => SFloat
      case "double" => SDouble
      case "bytes" => SBytes
      case "string" => SString
      case ref => named.getOrElse(ref, damage())
    }

  // ---- decoded values ----------------------------------------------------

  sealed trait V {
    /** Record-field navigation; anything else is None. */
    def field(name: String): Option[V] = this match {
      case VRecord(fs) => fs.collectFirst { case (`name`, v) => v }
      case _ => None
    }
    def asLong: Option[Long] = this match {
      case VLong(v) => Some(v); case _ => None
    }
    def asString: Option[String] = this match {
      case VString(v) => Some(v); case _ => None
    }
    def items: Seq[V] = this match {
      case VArray(xs) => xs; case _ => Nil
    }
    def asBytes: Option[Array[Byte]] = this match {
      case VBytes(_, c) if c != null => Some(c); case _ => None
    }
  }
  case object VNull extends V
  final case class VBool(v: Boolean) extends V
  final case class VLong(v: Long) extends V // int AND long
  final case class VDouble(v: Double) extends V // float AND double
  /** A bytes/fixed payload: its length plus the CONTENT when small
    * enough to matter (metadata walks read Iceberg field_summary
    * bounds out of these; a jumbo payload keeps only its length —
    * the allocation bound). Equality is by length + content bytes.
    */
  final case class VBytes(n: Int,
                          content: Array[Byte] = null) extends V {
    override def equals(o: Any): Boolean = o match {
      case VBytes(m, c) => m == n &&
        ((content == null && c == null) ||
          (content != null && c != null &&
            java.util.Arrays.equals(content, c)))
      case _ => false
    }
    override def hashCode: Int = n
  }
  private val MaxCapturedBytes = 1 << 16
  final case class VString(v: String) extends V
  final case class VEnum(i: Int) extends V
  final case class VRecord(fields: Vector[(String, V)]) extends V
  final case class VArray(xs: Vector[V]) extends V
  final case class VMap(entries: Vector[(String, V)]) extends V

  private val MaxItems = 1 << 22 // per-collection adversarial bound

  /** Decode one datum of `schema` at the reader's position. */
  private def datum(r: Reader, schema: Schema, depth: Int): V = {
    if (depth > 48) damage()
    schema match {
      case SNull => VNull
      case SBool =>
        val x = r.u8()
        if (x > 1) damage()
        VBool(x == 1)
      case SInt | SLong => VLong(r.zigzag())
      case SFloat =>
        VDouble(java.lang.Float.intBitsToFloat(r.le32()).toDouble)
      case SDouble => VDouble(java.lang.Double.longBitsToDouble(r.le64()))
      case SBytes => bytesOf(r, r.len(r.zigzag()))
      case SString => VString(Avro.str(r))
      case SEnum(_, n) =>
        val v = r.zigzag()
        if (v < 0 || v >= n) damage()
        VEnum(v.toInt)
      case SFixed(_, size) => bytesOf(r, size)
      case SRef(n, named) =>
        datum(r, named.getOrElse(n, damage()), depth + 1)
      case SUnion(branches) =>
        val v = r.zigzag()
        if (v < 0 || v >= branches.length) damage()
        datum(r, branches(v.toInt), depth + 1)
      case SRecord(_, fields) =>
        VRecord(fields.map { case (fn, fs) => fn -> datum(r, fs, depth + 1) })
      case SArray(items) =>
        val out = Vector.newBuilder[V]
        blocks(r) { () => out += datum(r, items, depth + 1) }
        VArray(out.result())
      case SMap(values) =>
        val out = Vector.newBuilder[(String, V)]
        blocks(r) { () =>
          val key = Avro.str(r)
          out += key -> datum(r, values, depth + 1)
        }
        VMap(out.result())
    }
  }

  /** `n` bytes as a [[VBytes]]; content kept up to the capture cap. */
  private def bytesOf(r: Reader, n: Int): VBytes =
    if (n <= MaxCapturedBytes) VBytes(n, r.bytes(n))
    else { r.skip(n); VBytes(n, null) }

  /** Array/map blocks: a count (negative = block-size form, its byte
    * size follows), `item` run that many times, until a 0 count.
    */
  private[sources] def blocks(r: Reader)(item: () => Unit): Unit = {
    var total = 0L
    var n = r.zigzag()
    while (n != 0) {
      if (n < 0) {
        if (r.zigzag() < 0) damage()
        n = -n
      }
      total += n
      if (total > MaxItems) damage()
      var i = 0L
      while (i < n) { item(); i += 1 }
      n = r.zigzag()
    }
  }

  /** One generically decoded container: its embedded schema plus every
    * record, in block order.
    */
  /** Decode one BARE binary datum at `pos` under `schema` — the
    * container-free form Hudi log data blocks carry (schema in the
    * block header, naked length-prefixed records in the content).
    * Returns the value and the end offset; None on any malformation.
    */
  def parseDatum(b: Array[Byte], pos: Int,
                 schema: Schema): Option[(V, Int)] =
    Bytes.total {
      val r = new Reader(b, pos, b.length)
      (datum(r, schema, 0), r.pos)
    }

  /** Inverse of [[AvroWrite.decimalBytes]]: big-endian two's
    * complement unscaled value, sign-extended; None over 8 bytes or
    * empty (this reader keeps decimals in the Long range).
    */
  def decimalLong(b: Array[Byte]): Option[Long] = {
    if (b.isEmpty || b.length > 8) return None
    var v: Long = if ((b(0) & 0x80) != 0) -1L else 0L
    b.foreach(x => v = (v << 8) | (x & 0xffL))
    Some(v)
  }

  final case class Decoded(schemaJson: String, records: Vector[V])

  /** The container's frame, decompressed: the embedded writer schema
    * JSON plus each block's (record count, raw datum bytes) — the
    * shared walk [[parseContainer]] and the schema-resolving reader
    * ([[AvroResolve.parseContainer]]) both decode on top of.
    */
  final case class RawBlocks(schemaJson: String,
                             blocks: Vector[(Long, Array[Byte])])

  /** Walk a complete object container generically: magic, metadata
    * map, sync-verified blocks, each record decoded per the EMBEDDED
    * schema. None on any malformation — a sync mismatch, undecodable
    * record, leftover block bytes, unknown codec, or an unparseable
    * schema. (The fixed-shape [[Avro.parse]] keeps its salvage
    * semantics; metadata walks want all-or-nothing.)
    */
  def parseContainer(b: Array[Byte]): Option[Decoded] =
    rawBlocks(b).flatMap { rb =>
      try {
        val schema = parseSchema(rb.schemaJson).getOrElse(return None)
        val out = Vector.newBuilder[V]
        rb.blocks.foreach { case (cnt, raw) =>
          val r = new Reader(raw, 0, raw.length)
          var i = 0L
          while (i < cnt) { out += datum(r, schema, 0); i += 1 }
          if (r.remaining != 0) return None // leftover bytes = desync
        }
        Some(Decoded(rb.schemaJson, out.result()))
      } catch { case _: Damage => None }
    }

  /** Frame walk: magic, metadata map (schema + codec), sync-verified
    * blocks decompressed through the engine-owned codec set. None on
    * any malformation.
    */
  def rawBlocks(b: Array[Byte]): Option[RawBlocks] = {
    try {
      if (b.length < 20 || b(0) != 'O' || b(1) != 'b' || b(2) != 'j' ||
        b(3) != 1) return None
      val r = new Reader(b, 4, b.length)
      val m = Avro.meta(r)
      val schemaJson = m.getOrElse("avro.schema", return None)
      val codec = m.getOrElse("avro.codec", "null")
      if (codec != "null" && codec != "deflate" && codec != "snappy" &&
        codec != "zstandard" && codec != "bzip2" && codec != "xz")
        return None
      val sync = r.bytes(16)
      val out = Vector.newBuilder[(Long, Array[Byte])]
      while (r.remaining > 0) {
        val cnt = r.zigzag()
        // MaxItems bound: the count is attacker-controlled (up to
        // 2^63) and a zero-byte datum schema never advances rp, so an
        // unbounded loop would hang/OOM before the leftover-bytes check
        if (cnt <= 0 || cnt > MaxItems) return None
        val dataLen = r.len(r.zigzag())
        if (dataLen > r.remaining - 16) return None
        val dataOff = r.pos
        val raw: Array[Byte] =
          if (codec == "null")
            java.util.Arrays.copyOfRange(b, dataOff, dataOff + dataLen)
          else if (codec == "snappy") {
            // payload + BE CRC32 of the uncompressed bytes, through
            // the engine's own decoder (Avro.snappyBlock)
            val d = Avro.snappyBlock(b, dataOff, dataLen)
            if (d == null) return None else d
          } else if (codec == "zstandard")
            // one zstd frame per block, engine-owned full decode
            Zstd.walk(java.util.Arrays.copyOfRange(
                b, dataOff, dataOff + dataLen)) match {
              case Some(Seq(fr)) if fr.kind == "zstd" => fr.decoded
              case _ => return None
            }
          else if (codec == "bzip2")
            // one bzip2 stream per block, engine-owned decoder
            Bzip2.decompress(java.util.Arrays.copyOfRange(
              b, dataOff, dataOff + dataLen)).getOrElse(return None)
          else if (codec == "xz") {
            // one .xz stream per block: engine-owned walk + LZMA
            val blk = java.util.Arrays.copyOfRange(
              b, dataOff, dataOff + dataLen)
            Xz.parse(blk) match {
              case Some(info) =>
                val acc = new java.io.ByteArrayOutputStream()
                info.blocks.foreach { bl =>
                  Lzma2.decode(blk, bl.dataStart, bl.unpackedLen) match {
                    case Some(x) => acc.write(x, 0, x.length)
                    case None => return None
                  }
                }
                acc.toByteArray
              case None => return None
            }
          } else inflateRaw(b, dataOff, dataLen).getOrElse(return None)
        out += cnt -> raw
        r.skip(dataLen)
        if (!java.util.Arrays.equals(r.bytes(16), sync)) return None
      }
      Some(RawBlocks(schemaJson, out.result()))
    } catch { case _: Damage => None }
  }

  /** SPLIT READ — the contract that makes a 100 TB Avro corpus
    * PARALLEL-readable (the Hadoop/Spark input-split rule): a reader
    * assigned byte range [start, end) synchronizes by scanning for
    * the 16-byte sync marker at-or-after `start`, then decodes every
    * block whose own start offset is < `end` — so ANY partition of
    * the file into ranges reads every record EXACTLY once (blocks
    * straddling a boundary belong to the split that contains their
    * start). A split before the header's end behaves as offset 0
    * (the header region belongs to the first split). None on any
    * malformation — same totality as [[parseContainer]].
    */
  def readSplit(b: Array[Byte], start: Long,
                end: Long): Option[Vector[V]] = {
    if (start < 0 || end < start) return None
    try {
      // header: magic + metadata map + sync (reuse the strict walk
      // to find schema/codec and the first block offset)
      if (b.length < 20 || b(0) != 'O' || b(1) != 'b' || b(2) != 'j' ||
        b(3) != 1) return None
      val r = new Reader(b, 4, b.length)
      val m = Avro.meta(r)
      val schemaJson = m.getOrElse("avro.schema", return None)
      if (m.getOrElse("avro.codec", "null") != "null") return None
      val schema = parseSchema(schemaJson).getOrElse(return None)
      val sync = r.bytes(16)
      val firstBlock = r.pos
      // synchronize: the first block starting at-or-after `start`
      // (block starts are the bytes FOLLOWING a sync marker)
      var cur =
        if (start <= firstBlock) firstBlock.toLong
        else {
          // scan for the sync whose END is >= start
          var at = start - 16
          var found = -1L
          while (found < 0 && at + 16 <= b.length) {
            var j = 0
            var okm = true
            while (okm && j < 16) {
              if (b((at + j).toInt) != sync(j)) okm = false
              j += 1
            }
            if (okm) found = at + 16
            else at += 1
          }
          // no sync at-or-after start: no block starts in this
          // split's range — a legitimate EMPTY split, not damage
          if (found < 0) return Some(Vector.empty)
          found
        }
      val out = Vector.newBuilder[V]
      while (cur < end && cur < b.length) {
        val br = new Reader(b, cur.toInt, b.length)
        val cnt = br.zigzag()
        if (cnt <= 0 || cnt > MaxItems) return None
        val dataLen = br.len(br.zigzag())
        if (dataLen > br.remaining - 16) return None
        val blk = br.sub(dataLen)
        var i = 0L
        while (i < cnt) { out += datum(blk, schema, 0); i += 1 }
        if (blk.remaining != 0) return None // leftover = desync
        if (!java.util.Arrays.equals(br.bytes(16), sync)) return None
        cur = br.pos.toLong
      }
      Some(out.result())
    } catch { case _: Damage => None }
  }

  private def inflateRaw(b: Array[Byte], off: Int,
                         len: Int): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, off, len)
      val bos = new java.io.ByteArrayOutputStream(len * 2 + 64)
      val chunk = new Array[Byte](8192)
      while (!inf.finished()) {
        val n =
          try inf.inflate(chunk)
          catch { case _: java.util.zip.DataFormatException => return None }
        if (n > 0) bos.write(chunk, 0, n)
        else if (!inf.finished()) return None
        if (bos.size() > (1 << 26)) return None // allocation bound
      }
      Some(bos.toByteArray)
    } finally inf.end()
  }
}
