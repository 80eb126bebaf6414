package graft

import graft.sources.{Avro, Bytes}

/** Avro object-container walk. No Avro library ships in the sandbox
  * (JDK or CPython), so the independence pins are (a) the spec's own
  * PUBLISHED zigzag-varint examples, asserted byte-for-byte (in
  * BytesSpec, which owns the shared cursor), (b) the
  * q230 oracle, which re-derives the whole container — varints, block
  * framing, metadata map — in DuckDB SQL from the other end, and (c)
  * damage-shape totality (the gzip-member posture: keep what precedes
  * the damage, flag it, never resync silently).
  */
class AvroSpec extends SparkSpec {

  test("round-trip through both codecs: block coordinates, record " +
    "order, sync verification") {
    val sync = Array.tabulate[Byte](16)(i => (i * 17 + 3).toByte)
    val recs = (0L until 12L).map(i => (i * 7, s"payload-$i" * 3))
    for (codec <- Seq("null", "deflate")) {
      val blob = Avro.write(recs, sync, codec, blockRecords = 5)
      val got = Avro.parse(1L, blob)
      assert(got.size == 12, s"codec $codec")
      assert(got.map(r => (r.block_idx, r.rec_idx, r.rec_id, r.payload,
        r.codec, r.sync_ok)) == recs.zipWithIndex.map { case ((id, p), i) =>
        (i / 5, i % 5, id, p, codec, true) })
    }
  }

  test("damage shapes: bad magic and unreadable headers yield Nil; a " +
    "flipped block sync keeps the block FLAGGED and stops; truncation " +
    "keeps earlier blocks; unknown codecs route away") {
    val sync = Array.fill[Byte](16)(0x5a)
    val recs = (0L until 10L).map(i => (i, s"r$i"))
    val blob = Avro.write(recs, sync, "deflate", blockRecords = 4)
    assert(Avro.parse(1L, blob).size == 10)
    // magic
    val noMagic = blob.clone(); noMagic(0) = 'X'.toByte
    assert(Avro.parse(2L, noMagic).isEmpty)
    // header metadata truncated mid-map
    assert(Avro.parse(3L, blob.take(10)).isEmpty)
    // find block 0's trailing sync (the next 0x5a run after the header's)
    val headerSyncAt = blob.indexOfSlice(sync)
    val block0SyncAt = blob.indexOfSlice(sync, headerSyncAt + 16)
    val badSync = blob.clone()
    badSync(block0SyncAt) = 0x00
    val flagged = Avro.parse(4L, badSync)
    // block 0's records kept with sync_ok=false; the walk STOPS there
    assert(flagged.size == 4 && flagged.forall(!_.sync_ok))
    // truncated mid-block-3: blocks 0 and 1 survive intact
    val cut = Avro.parse(5L, blob.take(blob.length - 6))
    assert(cut.size == 8 && cut.forall(_.sync_ok))
    // unknown codec routes away: rewrite the codec string in a fresh
    // null-codec file ("null" -> "snap" keeps the varint length)
    val nullBlob = Avro.write(recs, sync, "null", 4)
    val s2 = new String(nullBlob, "ISO-8859-1")
    val i2 = s2.indexOf("avro.codec")
    val patched = (s2.substring(0, i2 + 11) + "snap" +
      s2.substring(i2 + 15)).getBytes("ISO-8859-1")
    assert(Avro.parse(6L, patched).isEmpty)
    // a DIFFERENT declared schema routes away too — the (long, string)
    // layout is a checked contract, not an assumption (same-length
    // field rename keeps the framing intact)
    val i3 = s2.indexOf("rec_id")
    val otherSchema = (s2.substring(0, i3) + "rec_xx" +
      s2.substring(i3 + 6)).getBytes("ISO-8859-1")
    assert(Avro.parse(7L, otherSchema).isEmpty)
    // whitespace-only schema differences do NOT route away (writers
    // pretty-print differently): inject one space in the JSON and grow
    // its length varint accordingly
    val pretty = Avro.SchemaJson.replace(":", ": ")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('O', 'b', 'j', 1))
    Bytes.putZigzag(out, 2L)
    def str(x: String): Unit = {
      Bytes.putZigzag(out, x.getBytes("UTF-8").length.toLong)
      out.write(x.getBytes("UTF-8"))
    }
    str("avro.schema"); str(pretty)
    str("avro.codec"); str("null")
    Bytes.putZigzag(out, 0L)
    out.write(sync)
    // one single-record block, taken from the real writer's bytes
    val one = Avro.write(Seq((5L, "x")), sync, "null", 1)
    val tail = one.drop(one.indexOfSlice(sync) + 16)
    out.write(tail)
    val ws = Avro.parse(8L, out.toByteArray)
    assert(ws.size == 1 && ws.head.rec_id == 5L && ws.head.payload == "x",
      "whitespace-insensitive schema match must accept")
  }

  test("deflate inflation is bounded: a crafted high-ratio block hits " +
    "the damage path instead of unbounded task-heap growth") {
    val sync = Array.fill[Byte](16)(0x11)
    // header only (no blocks), codec=deflate
    val header = Avro.write(Seq.empty, sync, "deflate", blockRecords = 4)
    // the attack: deflate of 96 MB of zeros (> the 2^26 cap) compresses
    // to well under 1 MB — unbounded inflate would allocate it all
    val bomb = {
      val d = new java.util.zip.Deflater(9, true)
      try {
        d.setInput(new Array[Byte](96 << 20)); d.finish()
        val bos = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](65536)
        while (!d.finished()) bos.write(chunk, 0, d.deflate(chunk))
        bos.toByteArray
      } finally d.end()
    }
    assert(bomb.length < (1 << 20), "tiny input is the point of the attack")
    val out = new java.io.ByteArrayOutputStream()
    out.write(header)
    Bytes.putZigzag(out, 1L) // declares one record
    Bytes.putZigzag(out, bomb.length.toLong)
    out.write(bomb)
    out.write(sync)
    // the cap fires inside the inflate loop -> damage path -> walk stops
    assert(Avro.parse(1L, out.toByteArray).isEmpty)
  }

  test("snappy codec: engine round-trip, REAL snappy-java-compressed " +
    "blocks decode through the engine's own decoder, CRC flips and " +
    "truncations close") {
    val sync = Array.tabulate[Byte](16)(i => (i * 13).toByte)
    val recs = (1L to 12L).map(i => (i, s"payload-$i-" + ("x" * 40)))
    // engine round-trip (stored-literal snappy + BE CRC32)
    val b = Avro.write(recs, sync, "snappy")
    val got = Avro.parse(7L, b)
    assert(got.length == 12 && got.forall(_.codec == "snappy") &&
      got.forall(_.sync_ok))
    assert(got.map(r => (r.rec_id, r.payload)) == recs)
    // a container whose block is REAL snappy-java compression (the
    // layout actual writers emit) must decode identically
    val body = new java.io.ByteArrayOutputStream()
    recs.foreach { case (id, p) =>
      Bytes.putZigzag(body, id)
      val pb = p.getBytes("UTF-8")
      Bytes.putZigzag(body, pb.length.toLong); body.write(pb)
    }
    val raw = body.toByteArray
    val comp = org.xerial.snappy.Snappy.compress(raw)
    val crc = new java.util.zip.CRC32(); crc.update(raw)
    val out = new java.io.ByteArrayOutputStream()
    out.write("Obj".getBytes("US-ASCII")); out.write(1)
    Bytes.putZigzag(out, 2L)
    def putStr(s: String): Unit = {
      val x = s.getBytes("UTF-8")
      Bytes.putZigzag(out, x.length.toLong); out.write(x)
    }
    putStr("avro.schema"); putStr(Avro.SchemaJson)
    putStr("avro.codec"); putStr("snappy")
    Bytes.putZigzag(out, 0L)
    out.write(sync)
    Bytes.putZigzag(out, recs.length.toLong)
    Bytes.putZigzag(out, comp.length.toLong + 4)
    out.write(comp)
    val v = crc.getValue
    out.write((v >> 24).toInt & 0xff); out.write((v >> 16).toInt & 0xff)
    out.write((v >> 8).toInt & 0xff); out.write(v.toInt & 0xff)
    out.write(sync)
    val real = out.toByteArray
    val got2 = Avro.parse(9L, real)
    assert(got2.map(r => (r.rec_id, r.payload)) == recs,
      "snappy-java-written block must decode")
    // CRC flip: the walk must stop with nothing from that block
    val crcFlip = real.clone()
    crcFlip(real.length - 17) = (crcFlip(real.length - 17) ^ 1).toByte
    assert(Avro.parse(9L, crcFlip).isEmpty)
    // payload flip: CRC catches it
    val payFlip = real.clone()
    payFlip(real.length - 40) = (payFlip(real.length - 40) ^ 0x5a).toByte
    assert(Avro.parse(9L, payFlip).isEmpty)
    // truncation anywhere never throws
    for (cut <- 0 until b.length by 3)
      Avro.parse(7L, java.util.Arrays.copyOf(b, cut))
    // AvroGeneric accepts the same codec (metadata walks)
    val gen = graft.sources.AvroGeneric.parseContainer(real)
      .getOrElse(fail("generic walk must decode snappy"))
    assert(gen.records.length == 12)
    assert(graft.sources.AvroGeneric.parseContainer(crcFlip).isEmpty)
  }

  test("zstandard codec: engine round-trip (raw-block frames), REAL " +
    "zstd-jni-compressed blocks decode through the engine's RFC 8878 " +
    "reader, corrupt frames and truncations close") {
    val sync = Array.tabulate[Byte](16)(i => (i * 29).toByte)
    val recs = (1L to 12L).map(i => (i, s"payload-$i-" + ("y" * 40)))
    // engine round-trip (raw-block zstd frames, one per block)
    val b = Avro.write(recs, sync, "zstandard")
    val got = Avro.parse(7L, b)
    assert(got.length == 12 && got.forall(_.codec == "zstandard") &&
      got.forall(_.sync_ok))
    assert(got.map(r => (r.rec_id, r.payload)) == recs)
    // a container whose block is REAL zstd-jni compression (entropy
    // coding and all — the layout actual writers emit) must decode
    // identically through the engine's own full decoder
    val body = new java.io.ByteArrayOutputStream()
    recs.foreach { case (id, p) =>
      Bytes.putZigzag(body, id)
      val pb = p.getBytes("UTF-8")
      Bytes.putZigzag(body, pb.length.toLong); body.write(pb)
    }
    val raw = body.toByteArray
    val comp = com.github.luben.zstd.Zstd.compress(raw, 9)
    val out = new java.io.ByteArrayOutputStream()
    out.write("Obj".getBytes("US-ASCII")); out.write(1)
    Bytes.putZigzag(out, 2L)
    def putStr(s: String): Unit = {
      val x = s.getBytes("UTF-8")
      Bytes.putZigzag(out, x.length.toLong); out.write(x)
    }
    putStr("avro.schema"); putStr(Avro.SchemaJson)
    putStr("avro.codec"); putStr("zstandard")
    Bytes.putZigzag(out, 0L)
    out.write(sync)
    Bytes.putZigzag(out, recs.length.toLong)
    Bytes.putZigzag(out, comp.length.toLong)
    out.write(comp)
    out.write(sync)
    val real = out.toByteArray
    val got2 = Avro.parse(9L, real)
    assert(got2.map(r => (r.rec_id, r.payload)) == recs,
      "zstd-jni-written block must decode")
    // flip a byte inside the frame body: the walk yields nothing
    // from that block (either the frame parse or the record walk
    // breaks — never a throw)
    val flip = real.clone()
    flip(real.length - 40) = (flip(real.length - 40) ^ 0x5a).toByte
    assert(Avro.parse(9L, flip).isEmpty)
    // truncation anywhere never throws
    for (cut <- 0 until b.length by 3)
      Avro.parse(7L, java.util.Arrays.copyOf(b, cut))
    // AvroGeneric accepts the same codec (metadata walks)
    val gen = graft.sources.AvroGeneric.parseContainer(real)
      .getOrElse(fail("generic walk must decode zstandard"))
    assert(gen.records.length == 12)
    assert(graft.sources.AvroGeneric.parseContainer(flip).isEmpty)
  }

  test("distributed wrapper preserves rows across partitions") {
    val sync = Array.fill[Byte](16)(0x11)
    import spark.implicits.newProductEncoder
    val blobs = (1L to 4L).map(i => Avro.AvroBlob(i,
      Avro.write(Seq((i, s"only-$i")), sync,
        if (i % 2 == 0) "deflate" else "null")))
    val ds = spark.createDataset(blobs)(newProductEncoder).repartition(3)
    val got = Avro.records(ds).collect()
    assert(got.length == 4 &&
      got.map(_.blob_id).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }
}
