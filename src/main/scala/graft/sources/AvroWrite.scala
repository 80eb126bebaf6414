package graft.sources

/** The engine's one Avro writer, the WRITE twin of
  * [[AvroGeneric.parseContainer]]: encodes a value tree
  * ([[AvroGeneric.V]]) against a schema tree ([[AvroGeneric.Schema]])
  * datum by datum — zigzag varints, IEEE LE floats, single-block
  * arrays/maps, union branch dispatch by value shape — and frames
  * records into an object container ([[framed]]: Obj\1 magic,
  * avro.schema/avro.codec metadata map, sync marker, per-block
  * count/size/sync). [[Avro.write]], the Iceberg manifests and lists
  * and the Hudi log records all go through it. [[container]]'s codecs
  * are all ENGINE-OWNED: `deflate` via [[Deflate.compress]] (raw
  * deflate, best-of fixed/dynamic — q333), `snappy` via
  * [[Snappy.compress]] plus the BE CRC32-of-plaintext suffix Avro
  * specifies, `zstandard` via [[ZstdEncode.compress]].
  *
  * The layout is deterministic (a caller's sync bytes, or md5 of a
  * caller seed through [[syncMarker]]), the engine's own generic walk
  * decodes it back, and Apache avro (the Java reference
  * implementation, on the Spark classpath) cross-reads it in
  * AvroGenericSpec — closing the Avro container on BOTH ends the way
  * parquet (q310) and ORC (q311) already are.
  *
  * Spec source: the Avro 1.12 specification, "Object Container Files"
  * and "Binary Encoding".
  */
object AvroWrite {

  import AvroGeneric._

  import Bytes.{damage, putBe32, putLe32, putLe64, putZigzag}

  /** Avro `decimal` logical-type payload: the unscaled value as
    * minimal-length BIG-ENDIAN two's complement (Avro spec §Logical
    * Types) — the sign bit must survive, so a positive value whose
    * top byte has bit 7 set gains a 0x00 prefix and negatives carry
    * 0xff sign extension only as far as needed.
    */
  def decimalBytes(unscaled: Long): Array[Byte] = {
    var n = 1
    while (n < 8) {
      // does the value fit n bytes of two's complement?
      val shifted = unscaled >> (8 * n - 1)
      if (shifted == 0L || shifted == -1L) {
        val out = new Array[Byte](n)
        var i = 0
        while (i < n) {
          out(n - 1 - i) = ((unscaled >> (8 * i)) & 0xff).toByte
          i += 1
        }
        return out
      }
      n += 1
    }
    val out = new Array[Byte](8)
    var i = 0
    while (i < 8) {
      out(7 - i) = ((unscaled >> (8 * i)) & 0xff).toByte
      i += 1
    }
    out
  }

  private def utf8(out: java.io.ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    putZigzag(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  /** Does `v` fit `schema`? (union branch dispatch — first match in
    * branch order wins, the ["null", T] convention.)
    */
  private def fits(v: V, schema: Schema): Boolean = (schema, v) match {
    case (SNull, VNull) => true
    case (SBool, _: VBool) => true
    case (SInt | SLong, _: VLong) => true
    case (SFloat | SDouble, _: VDouble) => true
    case (SBytes, _: VBytes) => true
    case (SString, _: VString) => true
    case (_: SEnum, _: VEnum) => true
    case (_: SFixed, _: VBytes) => true
    case (_: SRecord, _: VRecord) => true
    case (_: SArray, _: VArray) => true
    case (_: SMap, _: VMap) => true
    case (r: SRef, _) => r.named.get(r.name).exists(fits(v, _))
    case (SUnion(bs), _) => bs.exists(fits(v, _))
    case _ => false
  }

  /** Encode one datum; throws Damage on any value/schema mismatch so
    * a writer bug can never ship silently mis-typed bytes.
    */
  def datum(out: java.io.ByteArrayOutputStream, v: V,
            schema: Schema): Unit = (schema, v) match {
    case (SNull, VNull) => ()
    case (SBool, VBool(x)) => out.write(if (x) 1 else 0)
    case (SInt | SLong, VLong(x)) => putZigzag(out, x)
    case (SFloat, VDouble(x)) =>
      putLe32(out, java.lang.Float.floatToIntBits(x.toFloat))
    case (SDouble, VDouble(x)) =>
      putLe64(out, java.lang.Double.doubleToLongBits(x))
    case (SBytes, VBytes(n, content)) =>
      if (content == null || content.length != n) damage()
      putZigzag(out, n.toLong)
      out.write(content, 0, n)
    case (SString, VString(s)) => utf8(out, s)
    case (SEnum(_, n), VEnum(i)) =>
      if (i < 0 || i >= n) damage()
      putZigzag(out, i.toLong)
    case (SFixed(_, size), VBytes(n, content)) =>
      if (content == null || n != size || content.length != size) damage()
      out.write(content, 0, size)
    case (SRecord(_, fields), VRecord(vals)) =>
      if (fields.length != vals.length) damage()
      var i = 0
      while (i < fields.length) {
        if (fields(i)._1 != vals(i)._1) damage()
        datum(out, vals(i)._2, fields(i)._2)
        i += 1
      }
    case (SArray(items), VArray(xs)) =>
      if (xs.nonEmpty) {
        putZigzag(out, xs.length.toLong)
        xs.foreach(datum(out, _, items))
      }
      putZigzag(out, 0L)
    case (SMap(values), VMap(entries)) =>
      if (entries.nonEmpty) {
        putZigzag(out, entries.length.toLong)
        entries.foreach { case (k, ev) =>
          utf8(out, k)
          datum(out, ev, values)
        }
      }
      putZigzag(out, 0L)
    case (SUnion(branches), _) =>
      val bi = branches.indexWhere(fits(v, _))
      if (bi < 0) damage()
      putZigzag(out, bi.toLong)
      datum(out, v, branches(bi))
    case (r: SRef, _) =>
      datum(out, v, r.named.getOrElse(r.name, damage()))
    case _ => damage()
  }

  /** One datum as its own byte array (a bare record, as Hudi log
    * blocks carry them).
    */
  def encode(v: V, schema: Schema): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    datum(out, v, schema)
    out.toByteArray
  }

  /** The 16-byte sync marker seeded by `seed`: md5("sync:" + seed).
    * Every container the engine writes with a derived marker derives
    * it here, so the same inputs always give the same bytes.
    */
  def syncMarker(seed: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5")
      .digest(("sync:" + seed).getBytes("UTF-8"))

  /** The engine's one object-container framing: the `Obj\1` magic,
    * the avro.schema / avro.codec metadata map and `sync`, then per
    * group of `blocks` the record count, the size and bytes of
    * `body` applied to the group's records (encoded against
    * `schemaJson` by [[datum]]), and `sync` again. The caller owns the
    * grouping and the codec's bytes; a record that does not fit the
    * schema throws [[Bytes.Damage]].
    */
  def framed(schemaJson: String, codec: String, sync: Array[Byte],
             blocks: Iterator[Seq[V]])
            (body: Array[Byte] => Array[Byte]): Array[Byte] = {
    require(sync.length == 16, "sync marker is 16 bytes")
    val schema = AvroGeneric.parseSchema(schemaJson)
      .getOrElse(throw new IllegalArgumentException("bad schema"))
    val out = new java.io.ByteArrayOutputStream()
    out.write('O'); out.write('b'); out.write('j'); out.write(1)
    datum(out, VMap(Vector("avro.schema" -> VString(schemaJson),
      "avro.codec" -> VString(codec))), SMap(SString))
    out.write(sync, 0, 16)
    blocks.foreach { group =>
      val raw = new java.io.ByteArrayOutputStream()
      group.foreach(datum(raw, _, schema))
      val b = body(raw.toByteArray)
      putZigzag(out, group.length.toLong)
      putZigzag(out, b.length.toLong)
      out.write(b, 0, b.length)
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }

  /** A snappy block body: the compressed bytes, then the big-endian
    * CRC32 of the uncompressed ones (Avro spec, "Required Codecs").
    */
  private[sources] def withCrc32(comp: Array[Byte],
                                 plain: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32
    crc.update(plain)
    val out = new java.io.ByteArrayOutputStream(comp.length + 4)
    out.write(comp, 0, comp.length)
    putBe32(out, crc.getValue.toInt)
    out.toByteArray
  }

  /** Write one object container: `records` of the schema embedded in
    * `schemaJson`, `blockRecords` records per block, codec one of
    * null / deflate / snappy / zstandard / bzip2 / xz — the FULL
    * Avro-spec codec table, every one an engine-owned encoder.
    * `syncSeed` makes the 16-byte sync marker deterministic
    * ([[syncMarker]]), so same inputs always produce the same bytes.
    */
  def container(schemaJson: String, records: Seq[V],
                codec: String = "null",
                syncSeed: String = "graft-avro",
                blockRecords: Int = 1000): Array[Byte] = {
    require(codec == "null" || codec == "deflate" || codec == "snappy" ||
      codec == "zstandard" || codec == "bzip2" || codec == "xz",
      s"codec $codec")
    require(blockRecords >= 1)
    framed(schemaJson, codec, syncMarker(syncSeed),
      records.grouped(blockRecords)) { plain =>
      codec match {
        case "deflate" => Deflate.compress(plain)
        case "snappy" => withCrc32(Snappy.compress(plain), plain)
        case "zstandard" => ZstdEncode.compress(plain)
        case "bzip2" => Bzip2Encode.compress(plain, level = 1)
        case "xz" => LzmaEncode.xz(plain)
        case _ => plain
      }
    }
  }
}
