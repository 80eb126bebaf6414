package graft.sources

import graft.sources.Json._

/** Avro SINGLE-OBJECT ENCODING (q373) — the wire form streaming
  * systems and schema registries move records in when a whole
  * container file is too heavy: `C3 01` marker ‖ little-endian
  * CRC-64-AVRO fingerprint of the writer schema's PARSING CANONICAL
  * FORM ‖ the bare binary datum. A consumer resolves the fingerprint
  * through its schema registry to the writer schema, then reads the
  * datum under its OWN (possibly evolved) reader schema — exactly
  * [[AvroResolve]]'s job, which makes this the transport twin of
  * q366's container-side evolution.
  *
  * Spec source (public, Avro 1.11 spec): "Single object encoding",
  * "Transforming into Parsing Canonical Form" (STRIP / ORDER /
  * FULLNAMES / primitive collapsing / minimal JSON), and the
  * CRC-64-AVRO fingerprint (the spec's reference table-driven
  * algorithm with EMPTY = 0xc15d213aa4d7a795). AvroSingleObjectSpec
  * pins both against Apache Avro's own `SchemaNormalization`.
  *
  * Totality: wrong marker, short buffer, a fingerprint the registry
  * lacks, trailing bytes after the datum, or an unresolvable
  * (writer, reader) pair — all None.
  */
object AvroSingleObject {

  // ---- CRC-64-AVRO ----------------------------------------------------------

  private val Empty = 0xc15d213aa4d7a795L
  private val FpTable: Array[Long] = {
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var fp = i.toLong
      var j = 0
      while (j < 8) {
        fp = (fp >>> 1) ^ (Empty & -(fp & 1L))
        j += 1
      }
      t(i) = fp
      i += 1
    }
    t
  }

  /** The spec's 64-bit Rabin fingerprint over raw bytes. */
  def crc64(buf: Array[Byte]): Long = {
    var fp = Empty
    var i = 0
    while (i < buf.length) {
      fp = (fp >>> 8) ^ FpTable(((fp ^ buf(i)) & 0xff).toInt)
      i += 1
    }
    fp
  }

  /** Fingerprint of a schema = CRC-64-AVRO over its Parsing
    * Canonical Form's UTF-8 bytes.
    */
  def fingerprint(schemaJson: String): Option[Long] =
    parsingCanonicalForm(schemaJson)
      .map(p => crc64(p.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  // ---- Parsing Canonical Form -------------------------------------------------

  import Bytes.{Damage, damage}

  /** Minimal-JSON string escaping (the spec's [STRINGS] rule). */
  private def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private val Primitives = Set("null", "boolean", "int", "long",
    "float", "double", "bytes", "string")

  /** The spec's Parsing Canonical Form: primitives collapse to their
    * simple string form, only {name, type, fields, symbols, items,
    * values, size} survive in that order, names become fullnames
    * (namespace joined), defaults/aliases/docs/logicalTypes are
    * STRIPPED, and a named type's second and later occurrences
    * collapse to the bare fullname.
    */
  def parsingCanonicalForm(schemaJson: String): Option[String] =
    Json.parse(schemaJson).flatMap { j =>
      try Some(pcf(j, scala.collection.mutable.Set.empty[String],
        ns = "", depth = 0))
      catch { case _: Damage => None }
    }

  private def fullName(name: String, ns: String): String =
    if (name.contains('.') || ns.isEmpty) name else s"$ns.$name"

  private def pcf(j: JValue,
                  defined: scala.collection.mutable.Set[String],
                  ns: String, depth: Int): String = {
    if (depth > 32) damage()
    j match {
      case JString(s) =>
        if (Primitives(s)) jstr(s)
        else jstr(fullName(s, ns))
      case JArray(branches) =>
        branches.map(pcf(_, defined, ns, depth + 1))
          .mkString("[", ",", "]")
      case o: JObject =>
        val t = o.get("type") match {
          case Some(JString(s)) => s
          case Some(inner @ (_: JObject | _: JArray)) =>
            return pcf(inner, defined, ns, depth + 1)
          case _ => damage()
        }
        t match {
          case p if Primitives(p) => jstr(p)
          case "record" | "enum" | "fixed" =>
            val rawName = o.get("name") match {
              case Some(JString(n)) => n; case _ => damage()
            }
            val ns1 = o.get("namespace") match {
              case Some(JString(x)) => x
              case _ => ns
            }
            val fn =
              if (rawName.contains('.')) rawName
              else fullName(rawName, ns1)
            if (defined(fn)) return jstr(fn) // later occurrence
            defined += fn
            val innerNs =
              if (fn.contains('.'))
                fn.substring(0, fn.lastIndexOf('.'))
              else ""
            val parts = Seq.newBuilder[String]
            parts += s"\"name\":${jstr(fn)}"
            parts += s"\"type\":${jstr(t)}"
            t match {
              case "record" =>
                val fieldsJ = o.get("fields") match {
                  case Some(JArray(fs)) => fs; case _ => damage()
                }
                val fs = fieldsJ.map {
                  case fo: JObject =>
                    val fname = fo.get("name") match {
                      case Some(JString(x)) => x; case _ => damage()
                    }
                    val ft = pcf(fo.get("type").getOrElse(damage()),
                      defined, innerNs, depth + 1)
                    s"""{"name":${jstr(fname)},"type":$ft}"""
                  case _ => damage()
                }
                parts += s""""fields":${fs.mkString("[", ",", "]")}"""
              case "enum" =>
                val syms = o.get("symbols") match {
                  case Some(JArray(ss)) => ss.map {
                    case JString(x) => jstr(x); case _ => damage()
                  }
                  case _ => damage()
                }
                parts +=
                  s""""symbols":${syms.mkString("[", ",", "]")}"""
              case _ =>
                val size = o.get("size") match {
                  case Some(JLong(x)) if x >= 0 => x; case _ => damage()
                }
                parts += s""""size":$size"""
            }
            parts.result().mkString("{", ",", "}")
          case "array" =>
            val items = pcf(o.get("items").getOrElse(damage()),
              defined, ns, depth + 1)
            s"""{"type":"array","items":$items}"""
          case "map" =>
            val values = pcf(o.get("values").getOrElse(damage()),
              defined, ns, depth + 1)
            s"""{"type":"map","values":$values}"""
          case other =>
            if (Primitives(other)) jstr(other)
            else jstr(fullName(other, ns))
        }
      case _ => damage()
    }
  }

  // ---- encode / decode -----------------------------------------------------

  /** `C3 01` ‖ LE64 schema fingerprint ‖ bare binary datum. */
  def write(schemaJson: String,
            datum: AvroGeneric.V): Option[Array[Byte]] =
    fingerprint(schemaJson).flatMap { fp =>
      AvroGeneric.parseSchema(schemaJson).map { schema =>
        val out = new java.io.ByteArrayOutputStream()
        out.write(0xc3); out.write(0x01)
        Bytes.putLe64(out, fp)
        AvroWrite.datum(out, datum, schema)
        out.toByteArray
      }
    }

  /** Decode one single-object message against a REGISTRY
    * (fingerprint -> writer schema JSON) under `readerJson`,
    * resolving writer-vs-reader per [[AvroResolve]]. None on a wrong
    * marker, unknown fingerprint, trailing bytes, or an
    * unresolvable pair.
    */
  def read(b: Array[Byte], registry: Map[Long, String],
           readerJson: String): Option[AvroGeneric.V] = {
    // 10 bytes is a valid minimum: marker(2) + fingerprint(8) + a
    // zero-byte datum (empty record / null schema); the trailing-bytes
    // check below handles framing
    if (b.length < 10 || (b(0) & 0xff) != 0xc3 || b(1) != 0x01)
      return None
    for {
      writerJson <- registry.get(Bytes.le64(b, 2))
      writer <- AvroResolve.parseSchema(writerJson)
      reader <- AvroResolve.parseSchema(readerJson)
      vp <- AvroResolve.parseDatum(b, 10, writer, reader)
      if vp._2 == b.length // trailing bytes = damage
    } yield vp._1
  }
}
