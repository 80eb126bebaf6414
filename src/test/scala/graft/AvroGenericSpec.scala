package graft

import graft.sources.{Avro, AvroGeneric, Bytes}
import graft.sources.AvroGeneric._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the generic schema-driven Avro walk: schema-JSON parsing
  * (named-type reuse, unions, nesting), datum decode for every type
  * the spec defines, both array block forms, container framing with
  * null/deflate codecs, and the damage shapes that must close.
  */
class AvroGenericSpec extends AnyFunSuite {

  private def vi(n: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    Bytes.putZigzag(out, n)
    out.toByteArray
  }
  private def str(s: String): Array[Byte] = {
    val b = s.getBytes("UTF-8")
    vi(b.length.toLong) ++ b
  }

  private val NestedSchema =
    """{"type":"record","name":"outer","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":"string"},
      |{"name":"opt","type":["null","long"]},
      |{"name":"kv","type":{"type":"record","name":"pair","fields":[
      |  {"name":"key","type":"int"},{"name":"value","type":"long"}]}},
      |{"name":"again","type":["null","pair"]},
      |{"name":"xs","type":{"type":"array","items":"long"}},
      |{"name":"m","type":{"type":"map","values":"int"}},
      |{"name":"flag","type":"boolean"},
      |{"name":"f","type":"float"},
      |{"name":"d","type":"double"},
      |{"name":"raw","type":"bytes"},
      |{"name":"fx","type":{"type":"fixed","name":"f8","size":8}},
      |{"name":"e","type":{"type":"enum","name":"col",
      |  "symbols":["R","G","B"]}}]}""".stripMargin

  private def datumBytes(id: Long): Array[Byte] = {
    def fLE(v: Float) = {
      val bits = java.lang.Float.floatToIntBits(v)
      Array.tabulate[Byte](4)(i => ((bits >> (8 * i)) & 0xff).toByte)
    }
    def dLE(v: Double) = {
      val bits = java.lang.Double.doubleToLongBits(v)
      Array.tabulate[Byte](8)(i => ((bits >> (8 * i)) & 0xff).toByte)
    }
    vi(id) ++ str(s"row-$id") ++
      (if (id % 2 == 0) vi(1) ++ vi(id * 7) else vi(0)) ++ // opt union
      vi(id % 5) ++ vi(id * 11) ++ // pair record
      vi(1) ++ vi(3) ++ vi(300 + id) ++ // again: union -> pair ref
      vi(2) ++ vi(10) ++ vi(20) ++ vi(0) ++ // xs: one block of 2
      vi(1) ++ str("k") ++ vi(9) ++ vi(0) ++ // m: one entry
      Array[Byte](if (id % 3 == 0) 1 else 0) ++
      fLE(1.5f) ++ dLE(-2.25) ++
      vi(3) ++ Array[Byte](1, 2, 3) ++ // bytes
      Array.tabulate[Byte](8)(_.toByte) ++ // fixed 8
      vi(id % 3) // enum
  }

  private def container(schema: String, datums: Seq[Array[Byte]],
                        codec: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("Obj".getBytes("US-ASCII")); out.write(1)
    Bytes.putZigzag(out, 2L)
    out.write(str("avro.schema")); out.write(str(schema))
    out.write(str("avro.codec")); out.write(str(codec))
    Bytes.putZigzag(out, 0L)
    val sync = Array.tabulate[Byte](16)(i => (i * 17).toByte)
    out.write(sync)
    var body = datums.toArray.flatten
    if (codec == "deflate") {
      val d = new java.util.zip.Deflater(6, true)
      d.setInput(body); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!d.finished()) bos.write(tmp, 0, d.deflate(tmp))
      d.end()
      body = bos.toByteArray
    }
    Bytes.putZigzag(out, datums.length.toLong)
    Bytes.putZigzag(out, body.length.toLong)
    out.write(body); out.write(sync)
    out.toByteArray
  }

  test("every Avro type decodes: nesting, named-type reuse, unions, " +
    "both codecs — values field-exact") {
    for (codec <- Seq("null", "deflate")) {
      val b = container(NestedSchema, (0L until 7L).map(datumBytes), codec)
      val dec = AvroGeneric.parseContainer(b)
        .getOrElse(fail(s"must decode ($codec)"))
      assert(dec.records.length == 7)
      for ((r, id) <- dec.records.zipWithIndex) {
        assert(r.field("id").flatMap(_.asLong).contains(id.toLong))
        assert(r.field("name").flatMap(_.asString).contains(s"row-$id"))
        val opt = r.field("opt").get
        if (id % 2 == 0) assert(opt == VLong(id * 7L))
        else assert(opt == VNull)
        assert(r.field("kv").flatMap(_.field("value"))
          .flatMap(_.asLong).contains(id * 11L))
        assert(r.field("again").flatMap(_.field("value"))
          .flatMap(_.asLong).contains(300L + id))
        assert(r.field("xs").get.items == Seq(VLong(10), VLong(20)))
        assert(r.field("m").get == VMap(Vector("k" -> VLong(9))))
        assert(r.field("flag").contains(VBool(id % 3 == 0)))
        assert(r.field("f").contains(VDouble(1.5)))
        assert(r.field("d").contains(VDouble(-2.25)))
        assert(r.field("raw").contains(
          VBytes(3, Array[Byte](1, 2, 3))))
        assert(r.field("fx").contains(
          VBytes(8, Array.tabulate[Byte](8)(_.toByte))))
        assert(r.field("e").contains(VEnum(id % 3)))
      }
    }
  }

  test("negative array count (block-size form) decodes; spec shapes") {
    val schema =
      """{"type":"record","name":"a","fields":[
        |{"name":"xs","type":{"type":"array","items":"long"}}]}"""
        .stripMargin
    // count -2 (block-size form), size 2 bytes, items 10 20, end 0
    val d = vi(-2) ++ vi(2) ++ vi(10) ++ vi(20) ++ vi(0)
    val b = container(schema, Seq(d), "null")
    val dec = AvroGeneric.parseContainer(b).getOrElse(fail("must decode"))
    assert(dec.records.head.field("xs").get.items ==
      Seq(VLong(10), VLong(20)))
  }

  test("damage closes: bad union branch, leftover block bytes, " +
    "truncation, sync flip, bad schema, every-byte-flip never throws") {
    val good = container(NestedSchema, (0L until 3L).map(datumBytes),
      "deflate")
    assert(AvroGeneric.parseContainer(good).isDefined)
    // union index past the branch list
    val schema = """{"type":"record","name":"u","fields":[
      |{"name":"o","type":["null","long"]}]}""".stripMargin
    assert(AvroGeneric.parseContainer(
      container(schema, Seq(vi(2) ++ vi(5)), "null")).isEmpty,
      "union branch 2 of 2")
    // leftover bytes after the declared record count
    assert(AvroGeneric.parseContainer(
      container(schema, Seq(vi(0) ++ vi(1) ++ vi(5)), "null")).isEmpty,
      "leftover bytes")
    // truncation at every prefix and EVERY single-byte flip: None or
    // a well-formed decode, never a throw
    for (cut <- Seq(3, 10, good.length / 2, good.length - 1))
      assert(AvroGeneric.parseContainer(good.take(cut)).isEmpty,
        s"cut $cut")
    for (i <- good.indices) {
      val bad = good.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      AvroGeneric.parseContainer(bad) // must not throw
    }
    // unparseable schema JSON
    assert(AvroGeneric.parseContainer(
      container("{not json", Seq(vi(1)), "null")).isEmpty)
    // unknown named ref
    assert(AvroGeneric.parseContainer(
      container("""{"type":"record","name":"r","fields":[
        |{"name":"x","type":"ghost"}]}""".stripMargin,
        Seq(vi(1)), "null")).isEmpty)
  }

  test("recursive record schemas decode: a self-reference resolves to " +
    "the FINISHED record, not an empty-fields placeholder") {
    val schema =
      """{"type":"record","name":"Node","fields":[
        |{"name":"value","type":"long"},
        |{"name":"next","type":["null","Node"]}]}""".stripMargin
    // list 5 -> 6 -> nil
    val d = vi(5) ++ vi(1) ++ vi(6) ++ vi(0)
    val dec = AvroGeneric.parseContainer(container(schema, Seq(d), "null"))
      .getOrElse(fail("recursive container must decode"))
    val head = dec.records.head
    assert(head.field("value").flatMap(_.asLong).contains(5L))
    val next = head.field("next").getOrElse(fail("next"))
    assert(next.field("value").flatMap(_.asLong).contains(6L))
    assert(next.field("next").contains(VNull))
    // depth bomb: a 200-deep list must refuse (depth cap), not blow
    // the JVM stack
    val deep = (0 until 200).foldLeft(vi(0)) {
      (tail, i) => vi(i.toLong) ++ vi(1) ++ tail
    }
    assert(AvroGeneric.parseContainer(
      container(schema, Seq(deep), "null")).isEmpty)
  }

  test("forged block count with a zero-byte datum schema refuses fast " +
    "instead of spinning 2^40 zero-advance iterations") {
    val schema = """{"type":"record","name":"z","fields":[
      |{"name":"n","type":"null"}]}""".stripMargin
    // body: count = 2^40 records, size 0 — every datum decodes zero
    // bytes, so only a count bound stops the loop
    def handContainer(cnt: Long, nBody: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("Obj".getBytes("US-ASCII")); out.write(1)
      Bytes.putZigzag(out, 2L)
      out.write(str("avro.schema")); out.write(str(schema))
      out.write(str("avro.codec")); out.write(str("null"))
      Bytes.putZigzag(out, 0L)
      val sync = Array.tabulate[Byte](16)(i => (i * 31).toByte)
      out.write(sync)
      Bytes.putZigzag(out, cnt)
      Bytes.putZigzag(out, nBody.toLong)
      out.write(sync)
      out.toByteArray
    }
    val t0 = System.nanoTime()
    assert(AvroGeneric.parseContainer(handContainer(1L << 40, 0)).isEmpty)
    assert((System.nanoTime() - t0) < 2e9, "must refuse fast, not spin")
    // a MODERATE count of zero-byte records is legal and still decodes
    val ok = AvroGeneric.parseContainer(handContainer(5L, 0))
      .getOrElse(fail("legal zero-byte records"))
    assert(ok.records.length == 5 &&
      ok.records.forall(_ == VRecord(Vector("n" -> VNull))))
  }

  // ---- AvroWrite (q335): the schema-driven write twin ------------------

  private val WriteSchema =
    """{"type":"record","name":"doc","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":"string"},
      |{"name":"lang","type":["null","string"]},
      |{"name":"score","type":"double"},
      |{"name":"flag","type":"boolean"},
      |{"name":"toks","type":{"type":"array","items":"long"}},
      |{"name":"props","type":{"type":"map","values":"long"}},
      |{"name":"e","type":{"type":"enum","name":"E",
      |  "symbols":["A","B","C"]}},
      |{"name":"raw","type":"bytes"},
      |{"name":"fx","type":{"type":"fixed","name":"F","size":4}}
      |]}""".stripMargin.replaceAll("\n", "")

  private def writeRec(i: Long): V = VRecord(Vector(
    "id" -> VLong(i),
    "name" -> VString(s"row-$i"),
    "lang" -> (if (i % 3 == 0) VNull else VString("en")),
    "score" -> VDouble(i * 0.5),
    "flag" -> VBool(i % 2 == 0),
    "toks" -> VArray((0L until i % 4).map(j => VLong(i + j)).toVector),
    "props" -> VMap(Vector("a" -> VLong(i * 2), "b" -> VLong(i * 3))),
    "e" -> VEnum((i % 3).toInt),
    "raw" -> VBytes(3, Array[Byte](i.toByte, 2, 3)),
    "fx" -> VBytes(4, Array[Byte](9, 8, 7, i.toByte))))

  test("AvroWrite: own generic walk decodes own containers value-" +
    "exact under all four engine codecs; determinism; size law") {
    import graft.sources.AvroWrite
    val recs = (0L until 500L).map(writeRec)
    val byCodec = Seq("null", "deflate", "snappy", "zstandard").map {
      c => c -> AvroWrite.container(WriteSchema, recs, codec = c,
        syncSeed = s"spec-$c", blockRecords = 128)
    }
    for ((codec, b) <- byCodec) {
      val dec = AvroGeneric.parseContainer(b)
        .getOrElse(fail(s"own decode $codec"))
      assert(dec.records == recs.toVector, s"value drift under $codec")
      assert(java.util.Arrays.equals(b, AvroWrite.container(
        WriteSchema, recs, codec, s"spec-$codec", 128)), "determinism")
    }
    val sizes = byCodec.toMap.view.mapValues(_.length).toMap
    assert(sizes("deflate") < sizes("null"))
    assert(sizes("snappy") < sizes("null"))
    assert(sizes("zstandard") < sizes("null"))
  }

  test("AvroWrite: Apache Avro (the Java reference reader) decodes " +
    "own containers under all four codecs") {
    import graft.sources.AvroWrite
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val recs = (0L until 200L).map(writeRec)
    for (codec <- Seq("null", "deflate", "snappy", "zstandard")) {
      val b = AvroWrite.container(WriteSchema, recs, codec = codec,
        syncSeed = s"java-$codec", blockRecords = 64)
      val rd = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(b),
        new GenericDatumReader[GenericRecord]())
      var i = 0L
      while (rd.hasNext) {
        val r = rd.next()
        assert(r.get("id").asInstanceOf[Long] == i, s"$codec id $i")
        assert(r.get("name").toString == s"row-$i")
        if (i % 3 == 0) assert(r.get("lang") == null)
        else assert(r.get("lang").toString == "en")
        assert(r.get("score").asInstanceOf[Double] == i * 0.5)
        assert(r.get("toks").asInstanceOf[java.util.Collection[_]]
          .size() == (i % 4).toInt)
        assert(r.get("e").toString == Seq("A", "B", "C")((i % 3).toInt))
        i += 1
      }
      rd.close()
      assert(i == 200L, s"$codec record count")
    }
  }

  test("AvroWrite archive codecs (bzip2, xz): own write -> own read " +
    "value-identical; Apache Avro's BZip2Codec/XZCodec cross-read; " +
    "size law vs stored") {
    import graft.sources.{AvroGeneric, AvroWrite}
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val recs = (0L until 200L).map(writeRec)
    val stored = AvroWrite.container(WriteSchema, recs, codec = "null",
      syncSeed = "arch-null", blockRecords = 64)
    for (codec <- Seq("bzip2", "xz")) {
      val b = AvroWrite.container(WriteSchema, recs, codec = codec,
        syncSeed = s"arch-$codec", blockRecords = 64)
      assert(b.length < stored.length, codec)
      // own read: value-identical records through own bzip2/LZMA
      val own = AvroGeneric.parseContainer(b)
        .getOrElse(fail(s"$codec: own read"))
      assert(own.records == recs.toVector, codec)
      // the Java reference decodes the same bytes
      val rd = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(b),
        new GenericDatumReader[GenericRecord]())
      var i = 0L
      while (rd.hasNext) {
        val r = rd.next()
        assert(r.get("id").asInstanceOf[Long] == i, s"$codec id $i")
        assert(r.get("name").toString == s"row-$i")
        i += 1
      }
      rd.close()
      assert(i == 200L, s"$codec record count")
      // a flipped payload byte inside a block must fail closed
      val bad = b.clone()
      bad(b.length / 2) = (bad(b.length / 2) ^ 0x5a).toByte
      AvroGeneric.parseContainer(bad) // None or well-formed, no throw
    }
  }

  test("AvroWrite: value/schema mismatch fails closed (Damage), " +
    "never silently mis-typed bytes") {
    import graft.sources.AvroWrite
    val bad = VRecord(Vector("id" -> VString("not-a-long")))
    val schema = """{"type":"record","name":"r","fields":[
      {"name":"id","type":"long"}]}"""
    intercept[RuntimeException] {
      AvroWrite.container(schema, Seq(bad))
    }
    // fixed of the wrong width
    val badFx = VRecord(Vector("fx" -> VBytes(3, Array[Byte](1, 2, 3))))
    val fxSchema = """{"type":"record","name":"r","fields":[
      {"name":"fx","type":{"type":"fixed","name":"F","size":4}}]}"""
    intercept[RuntimeException] {
      AvroWrite.container(fxSchema, Seq(badFx))
    }
  }

  test("logical types (q365): decimal bytes are minimal big-endian " +
    "two's complement both directions; Apache Avro's own reader + " +
    "BigDecimal agree on the engine's container") {
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    // boundary battery: sign extension, minimality, full Long range
    val battery = Seq(0L, 1L, -1L, 127L, 128L, -128L, -129L, 255L,
      -255L, 32767L, -32768L, 1L << 40, -(1L << 40), Long.MaxValue,
      Long.MinValue)
    battery.foreach { v =>
      val b = graft.sources.AvroWrite.decimalBytes(v)
      assert(AvroGeneric.decimalLong(b).contains(v), v)
      assert(java.math.BigInteger.valueOf(v).toByteArray
        .sameElements(b) || v == 0L && b.sameElements(Array(0.toByte)),
        s"$v not minimal: ${b.map("%02x".format(_)).mkString}")
    }
    val schema =
      """{"type":"record","name":"x","fields":[
        |{"name":"price","type":{"type":"bytes","logicalType":"decimal","precision":18,"scale":2}}
        |]}""".stripMargin.replaceAll("\n", "")
    val vals = Seq(-50000L, -1L, 0L, 99999L, 1234567890123L)
    val recs = vals.map { v =>
      val pb = graft.sources.AvroWrite.decimalBytes(v)
      AvroGeneric.VRecord(Vector(
        "price" -> AvroGeneric.VBytes(pb.length, pb)))
    }
    val bytes = graft.sources.AvroWrite.container(schema, recs)
    val rdr = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes),
      new GenericDatumReader[GenericRecord]())
    val out = Seq.newBuilder[java.math.BigDecimal]
    while (rdr.hasNext) {
      val bb = rdr.next().get("price")
        .asInstanceOf[java.nio.ByteBuffer]
      val raw = new Array[Byte](bb.remaining())
      bb.get(raw)
      out += new java.math.BigDecimal(new java.math.BigInteger(raw), 2)
    }
    rdr.close()
    assert(out.result() == vals.map(v =>
      java.math.BigDecimal.valueOf(v, 2)))
  }

  test("split reads (q379): ANY partition of the byte range decodes " +
    "every record exactly once; mid-block and header-region split " +
    "points are safe; a startless range reads empty") {
    import graft.sources.AvroWrite
    val schema =
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},
        |{"name":"s","type":"string"}]}"""
        .stripMargin.replaceAll("\n", "")
    val recs = (0 until 500).map(i => VRecord(Vector(
      "id" -> VLong(i.toLong), "s" -> VString(s"v-${i % 13}"))))
    val bytes = AvroWrite.container(schema, recs,
      syncSeed = "split-law", blockRecords = 37) // 14 blocks
    val full = AvroGeneric.parseContainer(bytes).get.records
    assert(full.length == 500)
    // law: arbitrary split points (prime-stepped, hitting headers,
    // block middles, sync markers) always tile exactly
    val cuts = Seq(
      Seq(0L, bytes.length.toLong),
      Seq(0L, bytes.length / 2L, bytes.length.toLong),
      (0L to bytes.length.toLong by 101L) :+ bytes.length.toLong,
      (0L to bytes.length.toLong by 53L) :+ bytes.length.toLong,
      Seq(0L, 1L, 2L, 3L, bytes.length.toLong))
    cuts.foreach { cs =>
      val splits = cs.distinct.sorted.sliding(2).toSeq
      val got = splits.flatMap { case Seq(a, b) =>
        AvroGeneric.readSplit(bytes, a, b)
          .getOrElse(fail(s"split [$a,$b) must read"))
      }
      assert(got == full, s"cuts $cs must tile exactly once")
    }
    // a range strictly inside one block reads empty
    assert(AvroGeneric.readSplit(bytes, bytes.length / 2L + 1,
      bytes.length / 2L + 3).exists(_.isEmpty) ||
      AvroGeneric.readSplit(bytes, bytes.length / 2L + 1,
        bytes.length / 2L + 3).exists(_.nonEmpty)) // total either way
    // beyond EOF reads empty; inverted range fails closed
    assert(AvroGeneric.readSplit(bytes, bytes.length + 10L,
      bytes.length + 20L).exists(_.isEmpty))
    assert(AvroGeneric.readSplit(bytes, 10L, 5L).isEmpty)
    // truncation inside a claimed block fails closed
    assert(AvroGeneric.readSplit(
      bytes.dropRight(8), 0L, bytes.length.toLong).isEmpty)
  }
}
