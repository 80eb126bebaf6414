package graft.sources

import graft.sources.Json._

/** Avro SCHEMA RESOLUTION (reader-vs-writer evolution) from the
  * public Avro 1.11 spec's "Schema Resolution" section — the rules a
  * long-lived ingest pipeline leans on when today's reader schema
  * opens years-old containers:
  *
  *  - record fields are matched by NAME (with reader-side `aliases`),
  *    not position: writer-only fields are skipped over in the byte
  *    stream, reader-only fields materialize their declared `default`
  *    (it is an error if they have none) — the lakehouse twin of the
  *    reference's `verify_columns` contract check
  *    (import_files_to_postgre.py:67-73, null-column injection at
  *    :83-89: a missing optional column takes its default);
  *  - numeric promotions: writer int → long/float/double, long →
  *    float/double, float → double; string ↔ bytes;
  *  - enums resolve writer symbols into the reader's symbol table by
  *    NAME; a symbol the reader lacks takes the reader enum's
  *    `default` (spec ≥1.9), else the pair is incompatible;
  *  - unions: a writer union reads its branch index then resolves
  *    that branch against the reader schema; a reader union picks its
  *    FIRST matching branch (exact-type pass before the promotion
  *    pass, mirroring the reference implementation's best-match
  *    discipline);
  *  - named types (record/enum/fixed) must match by name or via the
  *    reader's `aliases`; fixed additionally by size.
  *
  * Everything else — any structurally incompatible (writer, reader)
  * pair the data actually exercises — fails CLOSED: None, never a
  * throw, never a silently mis-typed value. Resolution happens while
  * walking the writer's bytes (Avro is not self-delimiting, so the
  * writer schema alone dictates the byte walk; the reader schema
  * dictates the VALUES), exactly the operational semantics of the
  * spec's resolution table.
  *
  * Values decode into [[AvroGeneric]]'s V tree so everything
  * downstream of the schema-strict reader works unchanged.
  */
object AvroResolve {

  import AvroGeneric.{V, VNull, VBool, VLong, VDouble, VBytes,
    VString, VEnum, VRecord, VArray, VMap}

  import Bytes.{Damage, Reader, damage}

  // ---- rich schema tree (defaults, aliases, symbols) ----------------------

  sealed trait S
  case object NullS extends S
  case object BoolS extends S
  case object IntS extends S
  case object LongS extends S
  case object FloatS extends S
  case object DoubleS extends S
  case object BytesS extends S
  case object StringS extends S
  final case class FieldS(name: String, aliases: Set[String],
                          schema: S, default: Option[JValue])
  final case class RecordS(name: String, aliases: Set[String],
                           fields: Vector[FieldS]) extends S
  final case class EnumS(name: String, aliases: Set[String],
                         symbols: Vector[String],
                         default: Option[String]) extends S
  final case class ArrayS(items: S) extends S
  final case class MapS(values: S) extends S
  final case class UnionS(branches: Vector[S]) extends S
  final case class FixedS(name: String, aliases: Set[String],
                          size: Int) extends S
  /** Lazy named-type indirection (recursive schemas) — resolves
    * through the shared name table at use time, as in
    * [[AvroGeneric.SRef]].
    */
  final case class RefS(name: String,
                        named: collection.Map[String, S]) extends S

  private def deref(s: S, depth: Int = 0): S = s match {
    case RefS(n, named) =>
      if (depth > 32) damage()
      deref(named.getOrElse(n, damage()), depth + 1)
    case other => other
  }

  /** Parse a schema JSON string into the rich tree. */
  def parseSchema(json: String): Option[S] =
    Json.parse(json).flatMap { j =>
      try {
        val named = scala.collection.mutable.Map.empty[String, S]
        Some(schemaOf(j, named, 0))
      } catch { case _: Damage => None }
    }

  private def aliasesOf(o: JObject): Set[String] =
    o.get("aliases") match {
      case Some(JArray(xs)) =>
        xs.map { case JString(a) => a; case _ => damage() }.toSet
      case None => Set.empty
      case _ => damage()
    }

  private def schemaOf(j: JValue,
                       named: scala.collection.mutable.Map[String, S],
                       depth: Int): S = {
    if (depth > 32) damage()
    j match {
      case JString(s) => primOrRef(s, named)
      case JArray(branches) =>
        UnionS(branches.map(schemaOf(_, named, depth + 1)))
      case o: JObject =>
        val t = o.get("type") match {
          case Some(JString(s)) => s
          case Some(inner @ (_: JObject | _: JArray)) =>
            return schemaOf(inner, named, depth + 1)
          case _ => damage()
        }
        t match {
          case "record" =>
            val name = o.get("name") match {
              case Some(JString(n)) => n; case _ => damage()
            }
            val fieldsJ = o.get("fields") match {
              case Some(JArray(fs)) => fs; case _ => damage()
            }
            named(name) = RefS(name, named)
            val fields = fieldsJ.map {
              case fo: JObject =>
                val fn = fo.get("name") match {
                  case Some(JString(n)) => n; case _ => damage()
                }
                val fs = schemaOf(fo.get("type").getOrElse(damage()),
                  named, depth + 1)
                FieldS(fn, aliasesOf(fo), fs, fo.get("default"))
              case _ => damage()
            }
            val full = RecordS(name, aliasesOf(o), fields)
            named(name) = full
            full
          case "enum" =>
            val name = o.get("name") match {
              case Some(JString(n)) => n; case _ => damage()
            }
            val symbols = o.get("symbols") match {
              case Some(JArray(ss)) => ss.map {
                case JString(x) => x; case _ => damage()
              }
              case _ => damage()
            }
            val dflt = o.get("default") match {
              case Some(JString(d)) =>
                if (!symbols.contains(d)) damage()
                Some(d)
              case None => None
              case _ => damage()
            }
            val e = EnumS(name, aliasesOf(o), symbols, dflt)
            named(name) = e; e
          case "fixed" =>
            val name = o.get("name") match {
              case Some(JString(n)) => n; case _ => damage()
            }
            val size = o.get("size") match {
              case Some(JLong(s)) if s >= 0 && s <= (1 << 20) => s.toInt
              case _ => damage()
            }
            val f = FixedS(name, aliasesOf(o), size)
            named(name) = f; f
          case "array" =>
            ArrayS(schemaOf(o.get("items").getOrElse(damage()), named,
              depth + 1))
          case "map" =>
            MapS(schemaOf(o.get("values").getOrElse(damage()), named,
              depth + 1))
          case prim => primOrRef(prim, named)
        }
      case _ => damage()
    }
  }

  private def primOrRef(
      s: String,
      named: scala.collection.mutable.Map[String, S]): S =
    s match {
      case "null" => NullS
      case "boolean" => BoolS
      case "int" => IntS
      case "long" => LongS
      case "float" => FloatS
      case "double" => DoubleS
      case "bytes" => BytesS
      case "string" => StringS
      case ref => named.getOrElse(ref, damage())
    }

  // ---- name matching -------------------------------------------------------

  /** Does the reader's named type accept the writer's name? The
    * reader's unqualified name, or any of its aliases, must equal the
    * writer's (this schema dialect carries no namespaces).
    */
  private def nameOk(writerName: String, readerName: String,
                     readerAliases: Set[String]): Boolean =
    readerName == writerName || readerAliases.contains(writerName)

  /** Can (writer, reader) match at the top level? `exact` pass: same
    * category, named types by name; promotion pass additionally
    * allows the spec's promotions. Used for reader-union branch
    * selection (first exact match wins over a promotion match).
    */
  private def branchMatch(w0: S, r0: S, exact: Boolean): Boolean = {
    val w = deref(w0); val r = deref(r0)
    (w, r) match {
      case (NullS, NullS) | (BoolS, BoolS) | (IntS, IntS) |
           (LongS, LongS) | (FloatS, FloatS) | (DoubleS, DoubleS) |
           (BytesS, BytesS) | (StringS, StringS) => true
      case (a: RecordS, b: RecordS) => nameOk(a.name, b.name, b.aliases)
      case (a: EnumS, b: EnumS) => nameOk(a.name, b.name, b.aliases)
      case (a: FixedS, b: FixedS) =>
        nameOk(a.name, b.name, b.aliases) && a.size == b.size
      case (_: ArrayS, _: ArrayS) => true
      case (_: MapS, _: MapS) => true
      case (IntS, LongS | FloatS | DoubleS) => !exact
      case (LongS, FloatS | DoubleS) => !exact
      case (FloatS, DoubleS) => !exact
      case (StringS, BytesS) => !exact
      case (BytesS, StringS) => !exact
      case _ => false
    }
  }

  // ---- default materialization ---------------------------------------------

  /** Turn a reader field's JSON `default` into a value of the reader
    * schema (spec: bytes/fixed defaults are JSON strings whose code
    * points 0-255 map to bytes; a union default matches the FIRST
    * branch).
    */
  private def defaultV(r0: S, j: JValue, depth: Int): V = {
    if (depth > 48) damage()
    (deref(r0), j) match {
      case (NullS, JNull) => VNull
      case (BoolS, JBool(x)) => VBool(x)
      case (IntS | LongS, JLong(x)) => VLong(x)
      case (FloatS | DoubleS, JLong(x)) => VDouble(x.toDouble)
      case (FloatS | DoubleS, JDouble(x)) => VDouble(x)
      case (StringS, JString(x)) => VString(x)
      case (BytesS, JString(x)) =>
        val b = x.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        VBytes(b.length, b)
      case (f: FixedS, JString(x)) =>
        val b = x.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        if (b.length != f.size) damage()
        VBytes(b.length, b)
      case (e: EnumS, JString(x)) =>
        val i = e.symbols.indexOf(x)
        if (i < 0) damage()
        VEnum(i)
      case (ArrayS(items), JArray(xs)) =>
        VArray(xs.map(defaultV(items, _, depth + 1)))
      case (MapS(values), o: JObject) =>
        VMap(o.fields.map { case (k, v) =>
          k -> defaultV(values, v, depth + 1)
        })
      case (rec: RecordS, o: JObject) =>
        VRecord(rec.fields.map { f =>
          val fj = o.get(f.name).orElse(f.default).getOrElse(damage())
          f.name -> defaultV(f.schema, fj, depth + 1)
        })
      case (UnionS(branches), _) =>
        if (branches.isEmpty) damage()
        defaultV(branches.head, j, depth + 1)
      case _ => damage()
    }
  }

  // ---- skip walk (writer-only fields) ---------------------------------------

  private val MaxItems = 1 << 22

  /** Stride over one datum of the WRITER schema without building a
    * value — how writer-only record fields leave the byte stream.
    * Array/map blocks written in the negative-count form skip by
    * their declared byte size without touching the items.
    */
  private def skip(in: Reader, s0: S, depth: Int): Unit = {
    if (depth > 48) damage()
    deref(s0) match {
      case NullS => ()
      case BoolS => if (in.u8() > 1) damage()
      case IntS | LongS => in.zigzag()
      case FloatS => in.skip(4)
      case DoubleS => in.skip(8)
      case BytesS | StringS => in.skip(in.len(in.zigzag()))
      case e: EnumS =>
        val v = in.zigzag()
        if (v < 0 || v >= e.symbols.length) damage()
      case f: FixedS => in.skip(f.size)
      case UnionS(branches) =>
        val v = in.zigzag()
        if (v < 0 || v >= branches.length) damage()
        skip(in, branches(v.toInt), depth + 1)
      case RecordS(_, _, fields) =>
        fields.foreach(f => skip(in, f.schema, depth + 1))
      case ArrayS(items) => skipBlocks(in, items, keyed = false, depth)
      case MapS(values) => skipBlocks(in, values, keyed = true, depth)
      case _: RefS => damage() // deref above makes this unreachable
    }
  }

  private def skipBlocks(in: Reader, item: S, keyed: Boolean,
                         depth: Int): Unit = {
    var total = 0L
    var n = in.zigzag()
    while (n != 0) {
      if (n < 0) {
        // negative count: a byte size follows — skip wholesale
        in.skip(in.len(in.zigzag()))
        total -= n
        if (total > MaxItems) damage()
      } else {
        total += n
        if (total > MaxItems) damage()
        var i = 0L
        while (i < n) {
          if (keyed) in.skip(in.len(in.zigzag()))
          skip(in, item, depth + 1)
          i += 1
        }
      }
      n = in.zigzag()
    }
  }

  // ---- resolving decode ------------------------------------------------------

  private val MaxCapturedBytes = 1 << 16

  private def datum(in: Reader, w0: S, r0: S, depth: Int): V = {
    if (depth > 48) damage()
    val w = deref(w0)
    val r = deref(r0)
    (w, r) match {
      // writer union first: the branch index is IN THE BYTES and must
      // be consumed regardless of the reader's shape
      case (UnionS(wbs), _) =>
        val v = in.zigzag()
        if (v < 0 || v >= wbs.length) damage()
        datum(in, wbs(v.toInt), r, depth + 1)
      // reader union: first matching branch, exact pass then promotions
      case (_, UnionS(rbs)) =>
        val bi = {
          val ex = rbs.indexWhere(branchMatch(w, _, exact = true))
          if (ex >= 0) ex
          else rbs.indexWhere(branchMatch(w, _, exact = false))
        }
        if (bi < 0) damage()
        datum(in, w, rbs(bi), depth + 1)
      case (NullS, NullS) => VNull
      case (BoolS, BoolS) =>
        val x = in.u8()
        if (x > 1) damage()
        VBool(x == 1)
      case (IntS | LongS, IntS | LongS) =>
        // int may NOT narrow into int-only readers from a long writer
        if (w == LongS && r == IntS) damage()
        VLong(in.zigzag())
      case (IntS | LongS, FloatS | DoubleS) =>
        VDouble(in.zigzag().toDouble)
      case (FloatS, FloatS | DoubleS) =>
        VDouble(java.lang.Float.intBitsToFloat(in.le32()).toDouble)
      case (DoubleS, DoubleS) =>
        VDouble(java.lang.Double.longBitsToDouble(in.le64()))
      case (BytesS | StringS, BytesS) =>
        val raw = in.bytes(in.len(in.zigzag()))
        VBytes(raw.length, if (raw.length <= MaxCapturedBytes) raw
        else null)
      case (BytesS | StringS, StringS) => VString(Avro.str(in))
      case (we: EnumS, re: EnumS) =>
        if (!nameOk(we.name, re.name, re.aliases)) damage()
        val v = in.zigzag()
        if (v < 0 || v >= we.symbols.length) damage()
        val sym = we.symbols(v.toInt)
        val ri = re.symbols.indexOf(sym)
        if (ri >= 0) VEnum(ri)
        else re.default match {
          case Some(d) => VEnum(re.symbols.indexOf(d))
          case None => damage()
        }
      case (wf: FixedS, rf: FixedS) =>
        if (!nameOk(wf.name, rf.name, rf.aliases) ||
          wf.size != rf.size) damage()
        if (wf.size <= MaxCapturedBytes) VBytes(wf.size, in.bytes(wf.size))
        else { in.skip(wf.size); VBytes(wf.size, null) }
      case (wr: RecordS, rr: RecordS) =>
        if (!nameOk(wr.name, rr.name, rr.aliases)) damage()
        // writer order drives the byte walk; reader order drives the
        // output. A reader field matches a writer field by name or by
        // any of the READER field's aliases.
        val byWriterField =
          scala.collection.mutable.Map.empty[String, V]
        wr.fields.foreach { wf =>
          val rfOpt = rr.fields.find(rf =>
            rf.name == wf.name || rf.aliases.contains(wf.name))
          rfOpt match {
            case Some(rf) =>
              byWriterField(rf.name) = datum(in, wf.schema, rf.schema,
                depth + 1)
            case None => skip(in, wf.schema, depth + 1)
          }
        }
        val out = rr.fields.map { rf =>
          byWriterField.get(rf.name) match {
            case Some(v) => rf.name -> v
            case None =>
              rf.name -> defaultV(rf.schema,
                rf.default.getOrElse(damage()), depth + 1)
          }
        }
        VRecord(out)
      case (ArrayS(wi), ArrayS(ri)) =>
        val out = Vector.newBuilder[V]
        AvroGeneric.blocks(in) { () => out += datum(in, wi, ri, depth + 1) }
        VArray(out.result())
      case (MapS(wv), MapS(rv)) =>
        val out = Vector.newBuilder[(String, V)]
        AvroGeneric.blocks(in) { () =>
          val key = Avro.str(in)
          out += key -> datum(in, wv, rv, depth + 1)
        }
        VMap(out.result())
      case _ => damage() // incompatible pair: fail CLOSED
    }
  }

  /** Resolve-decode one bare datum written under `writer`, read under
    * `reader`. None on any malformation or incompatibility.
    */
  def parseDatum(b: Array[Byte], pos: Int, writer: S,
                 reader: S): Option[(V, Int)] =
    Bytes.total {
      val in = new Reader(b, pos, b.length)
      (datum(in, writer, reader, 0), in.pos)
    }

  /** Read a whole object container under an EVOLVED reader schema:
    * the embedded writer schema drives the byte walk, `readerJson`
    * the values. Decoded.schemaJson is the WRITER's (provenance).
    * None on any malformation or an incompatible (writer, reader)
    * pair the data exercises.
    */
  def parseContainer(b: Array[Byte],
                     readerJson: String): Option[AvroGeneric.Decoded] =
    for {
      rb <- AvroGeneric.rawBlocks(b)
      writer <- parseSchema(rb.schemaJson)
      reader <- parseSchema(readerJson)
      records <- Bytes.total {
        val out = Vector.newBuilder[V]
        rb.blocks.foreach { case (cnt, raw) =>
          val in = new Reader(raw, 0, raw.length)
          var i = 0L
          while (i < cnt) { out += datum(in, writer, reader, 0); i += 1 }
          if (in.remaining != 0) damage() // leftover bytes = desync
        }
        out.result()
      }
    } yield AvroGeneric.Decoded(rb.schemaJson, records)
}
