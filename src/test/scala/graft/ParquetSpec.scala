package graft

import graft.sources.Parquet
import org.apache.spark.graft.TempDirs

/** Byte-level parquet walk, pinned against TWO independent
  * implementations: parquet-cpp via the pyarrow-written fixture blobs
  * (fixtures/parquet_files.parquet + the metadata its C++ API claims),
  * and parquet-mr via files SPARK writes in this suite (footer compared
  * to ParquetFileReader, decoded sums compared to the source rows).
  */
class ParquetSpec extends SparkSpec {

  private def fixtureBlobs: Seq[(String, Array[Byte])] =
    spark.read.parquet("fixtures/parquet_files.parquet")
      .collect() // bounded: 18 fixture files
      .map(r => (r.getAs[String]("blob_key"), r.getAs[Array[Byte]]("file_bytes")))
      .toSeq

  test("pyarrow-written fixture files: footer walk reproduces every " +
    "metadata claim of the parquet-cpp API (offsets, sizes, codecs, " +
    "counts, created_by, trailer length)") {
    val want = spark.read.parquet("fixtures/parquet_meta_oracle.parquet")
      .collect() // bounded: 108 fixture rows
      .groupBy(_.getAs[String]("blob_key"))
    val blobs = fixtureBlobs
    assert(blobs.nonEmpty && want.nonEmpty)
    for ((key, bytes) <- blobs) {
      val fm = Parquet.parseFooter(bytes)
        .getOrElse(fail(s"fixture $key must parse"))
      val rows = want(key)
      assert(fm.version == 2 && fm.numLeaves == 3)
      assert(fm.footerLen == rows.head.getAs[Long]("footer_len"))
      assert(fm.createdBy == rows.head.getAs[String]("created_by"))
      assert(fm.numRows == rows.head.getAs[Long]("file_rows"))
      assert(fm.rowGroups.length == rows.head.getAs[Long]("n_row_groups"))
      for (r <- rows) {
        val c = fm.rowGroups(r.getAs[Long]("rg_idx").toInt)
          .cols(r.getAs[Long]("col_idx").toInt)
        assert(c.path == r.getAs[String]("col_path"))
        assert(c.physType == r.getAs[Long]("phys_type"))
        assert(c.codec == r.getAs[Long]("codec"))
        assert(c.numValues == r.getAs[Long]("num_values"))
        assert(c.dataPageOffset == r.getAs[Long]("data_page_offset"))
        assert(c.dictPageOffset == r.getAs[Long]("dict_page_offset"))
        assert(c.totalCompressed == r.getAs[Long]("total_compressed_size"))
        assert(c.totalUncompressed ==
          r.getAs[Long]("total_uncompressed_size"))
      }
      // pyarrow wrote the leaves REQUIRED: decode proves the offsets
      val levels = fm.leafLevels
      assert(levels.values.forall(_ == ((0, 0))))
      for (rg <- fm.rowGroups; c <- rg.cols) {
        val got = Parquet.decodeChunk(bytes, c, maxDef = 0)
          .getOrElse(fail(s"chunk ${c.path} must decode"))
        assert(got.numValues == c.numValues)
      }
    }
  }

  test("Spark-written files: footer agrees with parquet-mr's own reader " +
    "field by field, decoded sums equal the source rows (gzip and " +
    "uncompressed, required and nullable-with-nulls columns)") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import spark.implicits._
    for (codec <- Seq("gzip", "none")) {
      val dir = TempDirs.create(s"pq_spec_$codec").toString
      val df = spark.range(0, 300).select(
        $"id".as("rec_id"),
        org.apache.spark.sql.functions.when($"id" % 7 =!= 0,
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("doc-"), $"id")).as("payload"),
        ($"id" % 40 / 4.0).as("score"))
      df.coalesce(1).write
        .option("compression", codec)
        .option("parquet.enable.dictionary", "false")
        .mode("overwrite").parquet(dir)
      val file = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val bytes = java.nio.file.Files.readAllBytes(file.toPath)
      val fm = Parquet.parseFooter(bytes).getOrElse(fail("must parse"))

      // parquet-mr reads the SAME bytes through its own thrift stack
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
        new HPath(file.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
      try {
        val mr = rdr.getFooter
        assert(fm.numRows == rdr.getRecordCount)
        assert(fm.createdBy == mr.getFileMetaData.getCreatedBy)
        assert(fm.rowGroups.length == mr.getBlocks.size())
        for (gi <- fm.rowGroups.indices) {
          val g = fm.rowGroups(gi)
          val mg = mr.getBlocks.get(gi)
          assert(g.numRows == mg.getRowCount)
          assert(g.cols.length == mg.getColumns.size())
          for (ci <- g.cols.indices) {
            val c = g.cols(ci)
            val mc = mg.getColumns.get(ci)
            assert(c.path == mc.getPath.toDotString)
            assert(c.numValues == mc.getValueCount)
            assert(c.totalCompressed == mc.getTotalSize)
            assert(c.totalUncompressed == mc.getTotalUncompressedSize)
            assert(c.dataPageOffset == mc.getFirstDataPageOffset)
            assert((c.codec == Parquet.CodecGzip) == (codec == "gzip"))
          }
        }
      } finally rdr.close()

      // decode: Spark wrote rec_id/score REQUIRED, payload OPTIONAL
      // with real nulls (id % 7 == 0) — both level paths exercised
      val levels = fm.leafLevels
      assert(levels("rec_id") == ((0, 0)) && levels("payload") == ((1, 0)))
      var idSum = 0L; var scoreSum = 0.0; var lenSum = 0L
      for (rg <- fm.rowGroups; c <- rg.cols) {
        val d = Parquet.decodeChunk(bytes, c, levels(c.path)._1)
          .getOrElse(fail(s"chunk ${c.path} must decode ($codec)"))
        assert(d.numValues == c.numValues)
        c.path match {
          case "rec_id" => idSum += d.longSum
          case "score" => scoreSum += d.doubleSum
          case "payload" => lenSum += d.binLenSum
        }
      }
      assert(idSum == (0L until 300L).sum)
      assert(scoreSum == (0 until 300).map(i => i % 40 / 4.0).sum)
      assert(lenSum == (0 until 300).filter(_ % 7 != 0)
        .map(i => s"doc-$i".length.toLong).sum)
    }
  }

  test("dictionary-encoded chunks DECODE: Spark/parquet-mr's default " +
    "layout (PLAIN_DICTIONARY dict page + index pages) across gzip, " +
    "snappy, zstd and uncompressed, repeated-run and scattered " +
    "dictionaries") {
    import spark.implicits._
    // zstd: parquet-mr writes through zstd-jni (libzstd, the reference
    // implementation) — the engine's own RFC 8878 decoder must agree.
    // lz4 (codec 5, Hadoop BE32 framing) and lz4_raw (codec 7, bare
    // blocks) both route through the engine's own Lz4.
    for (codec <- Seq("gzip", "snappy", "zstd", "lz4", "lz4_raw",
      "none")) {
      val dir = TempDirs.create(s"pq_dict_$codec").toString
      // k: scattered small domain (bit-packed indices); r: long runs
      // (RLE indices); s: strings with repeats; all nullable + nulls
      spark.range(0, 2000).select(
        ($"id" % 5).cast("long").as("k"),
        ($"id" / 400).cast("long").as("r"),
        org.apache.spark.sql.functions.when($"id" % 11 =!= 0,
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("v"), $"id" % 7)).as("s"),
        ($"id" % 8 / 4.0).as("d"))
        .coalesce(1).write.option("compression", codec)
        .mode("overwrite").parquet(dir)
      val file = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val bytes = java.nio.file.Files.readAllBytes(file.toPath)
      val fm = Parquet.parseFooter(bytes).getOrElse(fail("must parse"))
      val levels = fm.leafLevels
      var kSum = 0L; var rSum = 0L; var sLen = 0L; var dSum = 0.0
      for (rg <- fm.rowGroups; c <- rg.cols) {
        assert(c.dictPageOffset >= 0,
          s"$codec ${c.path}: Spark defaults to dictionary encoding")
        val d = Parquet.decodeChunk(bytes, c, levels(c.path)._1)
          .getOrElse(fail(s"chunk ${c.path} must decode ($codec)"))
        assert(d.numValues == c.numValues)
        c.path match {
          case "k" => kSum += d.longSum
          case "r" => rSum += d.longSum
          case "s" => sLen += d.binLenSum
          case "d" => dSum += d.doubleSum
        }
      }
      assert(kSum == (0 until 2000).map(_ % 5).sum)
      assert(rSum == (0 until 2000).map(_ / 400).sum)
      assert(sLen == (0 until 2000).filter(_ % 11 != 0).map(i =>
        s"v${i % 7}".length.toLong).sum)
      assert(dSum == (0 until 2000).map(i => i % 8 / 4.0).sum)
    }
  }

  test("DATA_PAGE_V2: parquet-mr's v2 writer (levels outside the " +
    "codec, RLE_DICTIONARY indices, explicit num_nulls) decodes to " +
    "the same sums, gzip snappy zstd lz4 lz4_raw and uncompressed") {
    import spark.implicits._
    for (codec <- Seq("gzip", "snappy", "zstd", "lz4", "lz4_raw",
      "none")) {
      val dir = TempDirs.create(s"pq_v2_$codec").toString
      spark.range(0, 1500).select(
        ($"id" % 9).cast("long").as("k"),
        org.apache.spark.sql.functions.when($"id" % 6 =!= 0,
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("w"), $"id" % 4)).as("s"))
        .coalesce(1).write
        .option("compression", codec)
        .option("parquet.writer.version", "v2")
        .mode("overwrite").parquet(dir)
      val file = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val bytes = java.nio.file.Files.readAllBytes(file.toPath)
      val fm = Parquet.parseFooter(bytes).getOrElse(fail("must parse"))
      val levels = fm.leafLevels
      var kSum = 0L; var sLen = 0L
      for (rg <- fm.rowGroups; c <- rg.cols) {
        val d = Parquet.decodeChunk(bytes, c, levels(c.path)._1)
          .getOrElse(fail(s"v2 chunk ${c.path} must decode ($codec)"))
        assert(d.numValues == c.numValues)
        c.path match {
          case "k" => kSum += d.longSum
          case "s" => sLen += d.binLenSum
        }
      }
      assert(kSum == (0 until 1500).map(_ % 9).sum, codec)
      assert(sLen == (0 until 1500).filter(_ % 6 != 0)
        .map(i => s"w${i % 4}".length.toLong).sum, codec)
    }
  }

  test("typed columns decode: INT32 (ints AND dates-as-days), FLOAT, " +
    "BOOLEAN (v1 bit-packed PLAIN and v2 RLE), from Spark-written " +
    "files with default dictionary") {
    import spark.implicits._
    for ((ver, codec) <- Seq(("v1", "snappy"), ("v2", "gzip"),
      ("v1", "none"))) {
      val dir = TempDirs.create(s"pq_typed_${ver}_$codec").toString
      spark.range(0, 1200).select(
        ($"id" % 2 === 0).as("flag"),
        ($"id" % 97 - 40).cast("int").as("cnt"),
        ($"id" % 32 / 8.0).cast("float").as("ratio"),
        org.apache.spark.sql.functions.date_add(
          org.apache.spark.sql.functions.to_date(
            org.apache.spark.sql.functions.lit("2020-01-01")),
          ($"id" % 500).cast("int")).as("day"))
        .coalesce(1).write.option("compression", codec)
        .option("parquet.writer.version", ver)
        .mode("overwrite").parquet(dir)
      val file = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val bytes = java.nio.file.Files.readAllBytes(file.toPath)
      val fm = Parquet.parseFooter(bytes).getOrElse(fail("must parse"))
      val levels = fm.leafLevels
      var trues = 0L; var cntSum = 0L; var ratioSum = 0.0; var daySum = 0L
      for (rg <- fm.rowGroups; c <- rg.cols) {
        val d = Parquet.decodeChunk(bytes, c, levels(c.path)._1)
          .getOrElse(fail(s"chunk ${c.path} must decode ($ver/$codec)"))
        assert(d.numValues == c.numValues)
        c.path match {
          case "flag" => trues += d.longSum
          case "cnt" => cntSum += d.longSum
          case "ratio" => ratioSum += d.doubleSum
          case "day" => daySum += d.longSum
        }
      }
      assert(trues == 600, s"$ver/$codec")
      assert(cntSum == (0 until 1200).map(_ % 97 - 40).sum, s"$ver/$codec")
      assert(ratioSum == (0 until 1200).map(i => i % 32 / 8.0).sum,
        s"$ver/$codec")
      // date32 physical value = days since 1970-01-01; 2020-01-01 = 18262
      assert(daySum == (0 until 1200).map(i => 18262L + i % 500).sum,
        s"$ver/$codec")
    }
  }

  test("footer Statistics decode agrees with parquet-mr's own " +
    "statistics objects: typed min/max and null counts, nullable " +
    "columns included") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import spark.implicits._
    val dir = TempDirs.create("pq_stats").toString
    spark.range(0, 900).select(
      ($"id" * 3 - 700).as("v64"),
      ($"id" % 83 - 11).cast("int").as("v32"),
      org.apache.spark.sql.functions.when($"id" % 9 =!= 0,
        ($"id" % 16 / 4.0)).as("vd"), // nullable DOUBLE with real nulls
      ($"id" % 2 === 1).as("vb"))
      .coalesce(1).write.option("compression", "snappy")
      .mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val fm = Parquet.parseFooter(bytes).getOrElse(fail("must parse"))
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(file.getAbsolutePath),
      spark.sparkContext.hadoopConfiguration))
    try {
      val mr = rdr.getFooter
      for (gi <- fm.rowGroups.indices; ci <- fm.rowGroups(gi).cols.indices) {
        val c = fm.rowGroups(gi).cols(ci)
        val st = mr.getBlocks.get(gi).getColumns.get(ci).getStatistics
        assert(c.nullCount == st.getNumNulls, s"${c.path} nulls")
        c.path match {
          case "v64" =>
            assert(c.minLong.contains(st.genericGetMin
              .asInstanceOf[java.lang.Long].longValue()))
            assert(c.maxLong.contains(st.genericGetMax
              .asInstanceOf[java.lang.Long].longValue()))
          case "v32" =>
            assert(c.minLong.contains(st.genericGetMin
              .asInstanceOf[java.lang.Integer].longValue()))
            assert(c.maxLong.contains(st.genericGetMax
              .asInstanceOf[java.lang.Integer].longValue()))
          case "vd" =>
            assert(c.minDouble.contains(st.genericGetMin
              .asInstanceOf[java.lang.Double].doubleValue()))
            assert(c.maxDouble.contains(st.genericGetMax
              .asInstanceOf[java.lang.Double].doubleValue()))
          case "vb" =>
            assert(c.minLong.contains(
              if (st.genericGetMin.asInstanceOf[java.lang.Boolean]) 1L
              else 0L))
            assert(c.maxLong.contains(
              if (st.genericGetMax.asInstanceOf[java.lang.Boolean]) 1L
              else 0L))
        }
      }
    } finally rdr.close()
  }

  test("damage shapes fail closed: magic, trailer, forged lengths and " +
    "offsets, truncation, gzip size lies") {
    val bytes = fixtureBlobs.head._2
    assert(Parquet.parseFooter(bytes).isDefined)
    // not parquet / too short
    assert(Parquet.parseFooter("PAR1".getBytes).isEmpty)
    assert(Parquet.parseFooter("not a parquet file".getBytes).isEmpty)
    // flipped magic at either end
    val m0 = bytes.clone(); m0(0) = 'X'
    assert(Parquet.parseFooter(m0).isEmpty)
    val m1 = bytes.clone(); m1(bytes.length - 1) = 'X'
    assert(Parquet.parseFooter(m1).isEmpty)
    // forged trailer length: 0, > file, off by one (thrift walk must
    // land exactly at the trailer)
    def withLen(v: Int): Array[Byte] = {
      val c = bytes.clone()
      c(bytes.length - 8) = (v & 0xff).toByte
      c(bytes.length - 7) = ((v >> 8) & 0xff).toByte
      c(bytes.length - 6) = ((v >> 16) & 0xff).toByte
      c(bytes.length - 5) = ((v >> 24) & 0xff).toByte
      c
    }
    val realLen = (bytes(bytes.length - 8) & 0xff) |
      (bytes(bytes.length - 7) & 0xff) << 8 |
      (bytes(bytes.length - 6) & 0xff) << 16 |
      (bytes(bytes.length - 5) & 0xff) << 24
    assert(Parquet.parseFooter(withLen(0)).isEmpty)
    assert(Parquet.parseFooter(withLen(bytes.length)).isEmpty)
    assert(Parquet.parseFooter(withLen(realLen - 1)).isEmpty)
    assert(Parquet.parseFooter(withLen(realLen + 1)).isEmpty)
    // truncated mid-footer
    assert(Parquet.parseFooter(bytes.take(bytes.length - 20)).isEmpty)
    // every prefix of the whole file, strided
    for (cut <- CutSweep.cuts(bytes.length))
      assert(Parquet.parseFooter(bytes.take(cut)).isEmpty, s"cut $cut")
    // forged chunk offsets: decode must fail closed, not misread
    val fm = Parquet.parseFooter(bytes).get
    val c = fm.rowGroups.head.cols.head
    assert(Parquet.decodeChunk(bytes, c.copy(dataPageOffset =
      bytes.length - 10L), 0).isEmpty)
    assert(Parquet.decodeChunk(bytes, c.copy(numValues =
      c.numValues + 1), 0).isEmpty)
    // gzip chunk whose page claims a wrong uncompressed size
    val gz = fixtureBlobs.map(_._2).find { b =>
      Parquet.parseFooter(b).exists(
        _.rowGroups.head.cols.head.codec == Parquet.CodecGzip)
    }.get
    val gfm = Parquet.parseFooter(gz).get
    val gc = gfm.rowGroups.head.cols.head
    assert(Parquet.decodeChunk(gz, gc, 0).isDefined)
    // corrupt the last page's gzip ISIZE trailer: the inflate must
    // notice (gunzipExact verifies the stream, not just the length)
    val bad = gz.clone()
    val tail = (gc.dataPageOffset + gc.totalCompressed - 2).toInt
    bad(tail) = (bad(tail) ^ 0x5a).toByte
    assert(Parquet.decodeChunk(bad, gc, 0).isEmpty)
    // corrupt the gzip HEADER (the 1f 8b magic right after the page
    // header): GZIPInputStream's CONSTRUCTOR throws here, so this pins
    // the construction-inside-try totality fix — None, not a crash
    val hdr = gz.clone()
    var gp = gc.dataPageOffset.toInt
    while (!(hdr(gp) == 0x1f.toByte && hdr(gp + 1) == 0x8b.toByte &&
      hdr(gp + 2) == 0x08.toByte)) gp += 1
    hdr(gp) = 0x00
    assert(Parquet.decodeChunk(hdr, gc, 0).isEmpty,
      "forged gzip header must damage to None, not throw")
    // and a forged compression-method byte (CM != 8): also thrown by
    // the constructor, before the read loop ever runs
    val cm = gz.clone()
    cm(gp + 2) = 0x07
    assert(Parquet.decodeChunk(cm, gc, 0).isEmpty)
  }

  test("dictionary/snappy damage fails closed: corrupted snappy page " +
    "bytes, out-of-range dictionary indices, indices before any " +
    "dictionary, a second dictionary page") {
    // a real snappy+dictionary fixture chunk decodes, then refuses
    // once its page bytes are touched
    val snappyBlob = spark.read
      .parquet("fixtures/parquet_dict_files.parquet")
      .collect().map(_.getAs[Array[Byte]]("file_bytes"))
      .find { b =>
        Parquet.parseFooter(b).exists(_.rowGroups.head.cols.head.codec ==
          Parquet.CodecSnappy)
      }.get
    val fm = Parquet.parseFooter(snappyBlob).get
    val c = fm.rowGroups.head.cols.head
    val lv = fm.leafLevels(c.path)._1
    assert(Parquet.decodeChunk(snappyBlob, c, lv).isDefined)
    for (delta <- Seq(2L, c.totalCompressed / 2, c.totalCompressed - 1)) {
      val bad = snappyBlob.clone()
      val at = ((if (c.dictPageOffset >= 0) c.dictPageOffset
                 else c.dataPageOffset) + delta).toInt
      bad(at) = (bad(at) ^ 0x5a).toByte
      val r = Parquet.decodeChunk(bad, c, lv)
      // a flipped byte may land in a page HEADER field that still
      // parses; the decode must then disagree with the footer or the
      // codec — either way never throw, and (for payload flips) None
      assert(r.isEmpty || r.get.numValues == c.numValues)
    }

    // hand-built chunk: PLAIN dict page (2 int64 entries), then an
    // RLE_DICTIONARY data page — valid indices decode, a forged
    // out-of-range index refuses, as does losing the dictionary
    def zz(v: Long): Array[Byte] = {
      var z = (v << 1) ^ (v >> 63)
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      while ((z & ~0x7fL) != 0) { out += ((z & 0x7f) | 0x80).toByte; z >>>= 7 }
      out += z.toByte
      out.toArray
    }
    def le64(v: Long): Array[Byte] =
      Array.tabulate[Byte](8)(i => ((v >> (8 * i)) & 0xff).toByte)
    def dictPageHeader(nEntries: Int, payloadLen: Int): Array[Byte] =
      Array[Byte](0x15) ++ zz(2) ++ // 1: page_type DICTIONARY_PAGE
      Array[Byte](0x15) ++ zz(payloadLen) ++
      Array[Byte](0x15) ++ zz(payloadLen) ++
      Array[Byte](0x4c.toByte) ++ // 7: DictionaryPageHeader (delta 4)
        Array[Byte](0x15) ++ zz(nEntries) ++
        Array[Byte](0x15) ++ zz(Parquet.EncPlain) ++
        Array[Byte](0) ++
      Array[Byte](0)
    def dataPageHeader(nVals: Int, payloadLen: Int): Array[Byte] =
      Array[Byte](0x15) ++ zz(0) ++ // 1: page_type DATA_PAGE
      Array[Byte](0x15) ++ zz(payloadLen) ++
      Array[Byte](0x15) ++ zz(payloadLen) ++
      Array[Byte](0x2c) ++ // 5: DataPageHeader (delta 2)
        Array[Byte](0x15) ++ zz(nVals) ++
        Array[Byte](0x15) ++ zz(Parquet.EncRleDict) ++
        Array[Byte](0x15) ++ zz(3) ++
        Array[Byte](0x15) ++ zz(3) ++
        Array[Byte](0) ++
      Array[Byte](0)
    def chunk(index: Int): (Array[Byte], Parquet.ColMeta) = {
      val dictPayload = le64(100L) ++ le64(23L)
      val idxPayload = Array[Byte](1) ++ // bit width 1
        Array[Byte](((4 << 1) | 0).toByte, index.toByte) // RLE run of 4
      val bytes = dictPageHeader(2, dictPayload.length) ++ dictPayload ++
        dataPageHeader(4, idxPayload.length) ++ idxPayload
      (bytes, Parquet.ColMeta(Parquet.PhysInt64, Seq(8), "x",
        Parquet.CodecNone, 4L, bytes.length.toLong, bytes.length.toLong,
        (dictPageHeader(2, dictPayload.length).length +
          dictPayload.length).toLong, 0L))
    }
    val (okBytes, okCol) = chunk(1)
    assert(Parquet.decodeChunk(okBytes, okCol, 0)
      .contains(Parquet.ChunkValues(4, 4 * 23L, 0.0, 0, 1)))
    // forged index past the dictionary: fail closed
    // (bit width 1 makes index 1 the max encodable; use a 3-entry-wide
    // width to forge index 5 against a 2-entry dictionary)
    val idxPayload5 = Array[Byte](3) ++
      Array[Byte](((4 << 1) | 0).toByte, 5)
    val dictPayload = le64(100L) ++ le64(23L)
    val forged = dictPageHeader(2, dictPayload.length) ++ dictPayload ++
      dataPageHeader(4, idxPayload5.length) ++ idxPayload5
    val forgedCol = Parquet.ColMeta(Parquet.PhysInt64, Seq(8), "x",
      Parquet.CodecNone, 4L, forged.length.toLong, forged.length.toLong,
      (dictPageHeader(2, dictPayload.length).length +
        dictPayload.length).toLong, 0L)
    assert(Parquet.decodeChunk(forged, forgedCol, 0).isEmpty,
      "index 5 against a 2-entry dictionary must refuse")
    // dict-encoded data page with NO dictionary page: refuse
    val idxOnly = dataPageHeader(4, 3) ++ Array[Byte](1,
      ((4 << 1) | 0).toByte, 1)
    val noDictCol = Parquet.ColMeta(Parquet.PhysInt64, Seq(8), "x",
      Parquet.CodecNone, 4L, idxOnly.length.toLong, idxOnly.length.toLong,
      0L, -1L)
    assert(Parquet.decodeChunk(idxOnly, noDictCol, 0).isEmpty,
      "indices before any dictionary must refuse")
    // a SECOND dictionary page mid-chunk: refuse
    val twoDicts = dictPageHeader(2, dictPayload.length) ++ dictPayload ++
      dictPageHeader(2, dictPayload.length) ++ dictPayload ++
      dataPageHeader(4, 3) ++ Array[Byte](1, ((4 << 1) | 0).toByte, 1)
    val twoDictCol = Parquet.ColMeta(Parquet.PhysInt64, Seq(8), "x",
      Parquet.CodecNone, 4L, twoDicts.length.toLong, twoDicts.length.toLong,
      (dictPageHeader(2, dictPayload.length).length +
        dictPayload.length).toLong, 0L)
    assert(Parquet.decodeChunk(twoDicts, twoDictCol, 0).isEmpty)
  }

  test("v2 delta encodings: parquet-mr with dictionary OFF writes " +
    "DELTA_BINARY_PACKED ints and DELTA_BYTE_ARRAY strings — decoded " +
    "sums equal the source rows") {
    import spark.implicits._
    val dir = TempDirs.create("pq_delta").toString
    spark.range(0, 3000).select(
      ($"id" * 2654435761L % 1000003L - 5000L).as("k"), // sign + spread
      org.apache.spark.sql.functions.when($"id" % 9 =!= 0,
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("prefix-shared-"),
          $"id")).as("s"))
      .coalesce(1).write
      .option("compression", "snappy")
      .option("parquet.writer.version", "v2")
      .option("parquet.enable.dictionary", "false")
      .mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val fm = Parquet.parseFooter(bytes).getOrElse(fail("must parse"))
    // the footer must CLAIM the delta encodings (else this pin is vacuous)
    val kCols = fm.rowGroups.flatMap(_.cols).filter(_.path == "k")
    val sCols = fm.rowGroups.flatMap(_.cols).filter(_.path == "s")
    assert(kCols.exists(_.encodings.contains(Parquet.EncDeltaBinPacked)),
      s"k encodings: ${kCols.map(_.encodings)}")
    assert(sCols.exists(_.encodings.contains(Parquet.EncDeltaBA)),
      s"s encodings: ${sCols.map(_.encodings)}")
    val levels = fm.leafLevels
    var kSum = 0L; var sLen = 0L
    for (rg <- fm.rowGroups; c <- rg.cols) {
      val d = Parquet.decodeChunk(bytes, c, levels(c.path)._1)
        .getOrElse(fail(s"delta chunk ${c.path} must decode"))
      assert(d.numValues == c.numValues)
      c.path match {
        case "k" => kSum += d.longSum
        case "s" => sLen += d.binLenSum
      }
    }
    assert(kSum == (0L until 3000L).map(i =>
      i * 2654435761L % 1000003L - 5000L).sum)
    assert(sLen == (0L until 3000L).filter(_ % 9 != 0).map(i =>
      s"prefix-shared-$i".length.toLong).sum)
  }

  test("LIST columns: Spark-written array<long> and array<double> " +
    "(3-level layout, repetition levels) decode — null lists, empty " +
    "lists and null elements all counted as level entries") {
    import spark.implicits._
    for (ver <- Seq("v1", "v2")) {
      val dir = TempDirs.create(s"pq_list_$ver").toString
      spark.range(0, 900).select(
        $"id",
        org.apache.spark.sql.functions.when($"id" % 13 =!= 0,
          org.apache.spark.sql.functions.when($"id" % 11 === 0,
            org.apache.spark.sql.functions.array().cast("array<bigint>"))
            .otherwise(org.apache.spark.sql.functions.sequence(
              org.apache.spark.sql.functions.lit(1L), $"id" % 5 + 1)))
          .as("xs"))
        .coalesce(1).write.option("compression", "snappy")
        .option("parquet.writer.version", ver)
        .mode("overwrite").parquet(dir)
      val file = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val bytes = java.nio.file.Files.readAllBytes(file.toPath)
      val fm = Parquet.parseFooter(bytes).getOrElse(fail("must parse"))
      val levels = fm.leafLevels
      val leaf = levels.keys.find(_.startsWith("xs.")).getOrElse(
        fail(s"list leaf missing: ${levels.keys}"))
      // Spark's 3-level layout: one repeated level; the writer marks
      // elements nullable (maxDef 3) even though none are null here
      val (maxDef, maxRep) = levels(leaf)
      assert(maxRep == 1 && (maxDef == 2 || maxDef == 3),
        s"$ver levels: ${levels(leaf)}")
      var slots = 0L; var sum = 0L
      for (rg <- fm.rowGroups; c <- rg.cols if c.path == leaf) {
        val d = Parquet.decodeChunk(bytes, c, maxDef, maxRep)
          .getOrElse(fail(s"list chunk must decode ($ver)"))
        slots += d.numValues; sum += d.longSum
      }
      // null list (id%13==0) -> 1 slot; empty (id%11==0) -> 1 slot;
      // else 1 + id%5 + 1 - 1 ... sequence(1, id%5+1) has id%5+1 slots
      val expectSlots = (0 until 900).map { i =>
        if (i % 13 == 0 || i % 11 == 0) 1L else i % 5 + 1L
      }.sum
      val expectSum = (0 until 900).filter(i =>
        i % 13 != 0 && i % 11 != 0).map(i =>
        (1L to (i % 5 + 1L)).sum).sum
      assert(slots == expectSlots, s"$ver slots")
      assert(sum == expectSum, s"$ver sum")
      // a flat decode of the same chunk (maxRep = 0) must refuse, not
      // silently misread the rep-level section as definition levels
      // (v2 declares the section length in the header, so the misread
      // is structurally detectable there)
      for (rg <- fm.rowGroups; c <- rg.cols if c.path == leaf)
        assert(Parquet.decodeChunk(bytes, c, maxDef, 0).isEmpty ||
          ver == "v1", s"$ver flat misread")
    }
  }

  test("INT96 timestamps and FLBA decimals from Spark-written files " +
    "(legacy format): epoch-second and unscaled sums exact, " +
    "negatives included") {
    import spark.implicits._
    val dir = TempDirs.create("pq_dec").toString
    val prevTs = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    val prevLegacy = spark.conf.getOption("spark.sql.parquet.writeLegacyFormat")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      spark.conf.set("spark.sql.parquet.writeLegacyFormat", "true")
      spark.range(0, 1100).select(
        $"id",
        // decimal(20,2): beyond INT64 precision -> FLBA in legacy mode
        (($"id" % 400) - 150).cast("decimal(20,2)").as("price"),
        org.apache.spark.sql.functions.timestamp_seconds(
          org.apache.spark.sql.functions.lit(1600000000L) + $"id" % 777)
          .as("ts"))
        .coalesce(1).write.option("compression", "snappy")
        .mode("overwrite").parquet(dir)
    } finally {
      prevTs.fold(spark.conf.unset("spark.sql.parquet.outputTimestampType"))(
        spark.conf.set("spark.sql.parquet.outputTimestampType", _))
      prevLegacy.fold(spark.conf.unset("spark.sql.parquet.writeLegacyFormat"))(
        spark.conf.set("spark.sql.parquet.writeLegacyFormat", _))
    }
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val fm = Parquet.parseFooter(bytes).getOrElse(fail("must parse"))
    val levels = fm.leafLevels
    val widths = fm.leafTypeLengths
    val tsCol = fm.rowGroups.head.cols.find(_.path == "ts").get
    assert(tsCol.physType == Parquet.PhysInt96, "legacy ts layout")
    val priceCol = fm.rowGroups.head.cols.find(_.path == "price").get
    assert(priceCol.physType == Parquet.PhysFixed,
      s"legacy decimal layout, got ${priceCol.physType}")
    assert(widths("price") > 0)
    var tsSum = 0L; var priceUnscaled = 0L; var n = 0L
    for (rg <- fm.rowGroups; c <- rg.cols if c.path != "id") {
      val d = Parquet.decodeChunk(bytes, c, levels(c.path)._1,
        levels(c.path)._2, widths(c.path))
        .getOrElse(fail(s"chunk ${c.path} must decode"))
      if (c.path == "ts") { tsSum += d.longSum; n += d.numValues }
      else priceUnscaled += d.longSum
    }
    assert(n == 1100)
    assert(tsSum == (0 until 1100).map(i => 1600000000L + i % 777).sum)
    // decimal(20,2) unscaled = value * 100
    assert(priceUnscaled == (0 until 1100).map(i =>
      (i % 400 - 150) * 100L).sum)
  }

  test("zstd page damage fails closed: flipped payload bytes, " +
    "truncated frames, multi-frame payloads — None, never a throw") {
    // a real zstd fixture chunk decodes, then refuses once touched
    val blob = spark.read
      .parquet("fixtures/parquet_zstd_files.parquet")
      .collect().map(_.getAs[Array[Byte]]("file_bytes"))
      .find { b =>
        Parquet.parseFooter(b).exists(_.rowGroups.head.cols.head.codec ==
          Parquet.CodecZstd)
      }.get
    val fm = Parquet.parseFooter(blob).get
    val c = fm.rowGroups.head.cols.head
    val lv = fm.leafLevels(c.path)._1
    assert(Parquet.decodeChunk(blob, c, lv).isDefined)
    val first = if (c.dictPageOffset >= 0) c.dictPageOffset
                else c.dataPageOffset
    // byte flips across the chunk: the very first payload byte (frame
    // magic), mid-frame (entropy stream), last byte (checksum/trailer)
    for (delta <- Seq(2L, 15L, c.totalCompressed / 2,
      c.totalCompressed - 1)) {
      val bad = blob.clone()
      val at = (first + delta).toInt
      bad(at) = (bad(at) ^ 0x5a).toByte
      val r = Parquet.decodeChunk(bad, c, lv)
      // a flip may land in a page HEADER varint that still parses; the
      // decode must then disagree with the footer — either way no throw
      assert(r.isEmpty || r.get.numValues == c.numValues, s"delta $delta")
    }
    // truncated mid-frame: the page walk runs past the buffer → None
    assert(Parquet.decodeChunk(
      blob.take((first + c.totalCompressed / 2).toInt), c, lv).isEmpty)
  }

  test("a forged page header claiming 2^31-1 values must damage " +
    "BEFORE the definition-level array is allocated (adversarial " +
    "allocation bound, optional-column path)") {
    // hand-built thrift-compact v1 PageHeader: type=DATA_PAGE,
    // sizes tiny, num_values = Int.MaxValue, encoding = PLAIN
    def zz(v: Long): Array[Byte] = {
      var z = (v << 1) ^ (v >> 63)
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      while ((z & ~0x7fL) != 0) { out += ((z & 0x7f) | 0x80).toByte; z >>>= 7 }
      out += z.toByte
      out.toArray
    }
    val payload = Array[Byte](2, 0, 0, 0, 3, 0) // LE32 len=2 + 2 RLE bytes
    val header =
      Array[Byte](0x15) ++ zz(0) ++ // 1: page_type DATA_PAGE
      Array[Byte](0x15) ++ zz(payload.length) ++ // 2: uncompressed
      Array[Byte](0x15) ++ zz(payload.length) ++ // 3: compressed
      Array[Byte](0x2c) ++ // 5: DataPageHeader (struct, delta 2)
        Array[Byte](0x15) ++ zz(Int.MaxValue) ++ // num_values
        Array[Byte](0x15) ++ zz(0) ++ // encoding PLAIN
        Array[Byte](0x15) ++ zz(3) ++ // def-level enc RLE
        Array[Byte](0x15) ++ zz(3) ++ // rep-level enc RLE
        Array[Byte](0) ++
      Array[Byte](0)
    val page = header ++ payload
    val col = Parquet.ColMeta(Parquet.PhysInt64, Seq(0), "x",
      Parquet.CodecNone, Int.MaxValue.toLong, page.length.toLong,
      page.length.toLong, 0L, -1L)
    // without the pre-allocation bound this is an 8 GB Array[Int]
    // request (OutOfMemoryError — an Error, not a Damage)
    assert(Parquet.decodeChunk(page, col, maxDef = 1).isEmpty)
  }

  test("page index: parquet-mr-written ColumnIndex/OffsetIndex parse, " +
    "per-page decode via direct addressing equals the sequential walk, " +
    "and forged indexes fail closed") {
    import spark.implicits._
    val dir = TempDirs.create("pq_pageidx")
      .toString
    spark.range(0, 1000).select($"id".as("rec_id"))
      .coalesce(1).write
      .option("compression", "snappy")
      .option("parquet.enable.dictionary", "false")
      .option("parquet.page.row.count.limit", "100")
      .option("parquet.page.size", "64") // force the row-count limit
      .mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val fm = Parquet.parseFooter(bytes).getOrElse(fail("footer"))
    val rc = fm.rowGroups.head.cols.find(_.path == "rec_id").get
    assert(rc.offsetIndexOffset > 0 && rc.columnIndexOffset > 0,
      "parquet-mr writes the page index by default")
    val locs = Parquet.parseOffsetIndex(bytes, rc)
      .getOrElse(fail("offset index"))
    val ci = Parquet.parseColumnIndex(bytes, rc)
      .getOrElse(fail("column index"))
    assert(locs.length > 1 && ci.nullPages.length == locs.length)
    assert(ci.boundaryOrder == 1) // ascending on sorted ids
    // per-page decode sums to the sequential walk's total
    var total = 0L
    var slots = 0L
    for ((loc, pi) <- locs.zipWithIndex) {
      val cells = Parquet.readPageCells(bytes, loc, rc)
        .getOrElse(fail(s"page $pi"))
      slots += cells.numSlots
      var mn = Long.MaxValue; var mx = Long.MinValue
      cells.longs.foreach { v =>
        total += v; mn = math.min(mn, v); mx = math.max(mx, v)
      }
      // the index's per-page bounds are the decoded truth
      assert(ci.minLong(pi).contains(mn) && ci.maxLong(pi).contains(mx))
    }
    assert(slots == 1000L && total == (0L until 1000L).sum)
    val seq = Parquet.decodeChunk(bytes, rc).getOrElse(fail("chunk"))
    assert(seq.longSum == total)
    // a location pointing at the WRONG page (offset of page 1, size
    // of page 0) fails the header-length cross-check
    assert(Parquet.readPageCells(bytes,
      locs(1).copy(compressedSize = locs(0).compressedSize + 1),
      rc).isEmpty)
    // offset into garbage
    assert(Parquet.readPageCells(bytes,
      locs(0).copy(offset = rc.offsetIndexOffset), rc).isEmpty)
    // forged index regions: flip every byte of both structs — parse
    // must return None or a STILL-CONSISTENT index, never throw
    for (off <- Seq(rc.offsetIndexOffset, rc.columnIndexOffset);
         len <- Seq(8, 16)) {
      for (i <- 0 until math.min(len, 64)) {
        val bad = bytes.clone()
        bad(off.toInt + i) = (bad(off.toInt + i) ^ 0x5a).toByte
        Parquet.parseOffsetIndex(bad, rc) // must not throw
        Parquet.parseColumnIndex(bad, rc)
      }
    }
    // index pointers past the file refuse
    assert(Parquet.parseOffsetIndex(bytes,
      rc.copy(offsetIndexOffset = bytes.length.toLong - 2)).isEmpty)
    assert(Parquet.parseColumnIndex(bytes,
      rc.copy(columnIndexLength = Int.MaxValue)).isEmpty)
  }

  test("ALL-NULL columns decode: the dictionary-encoded zero-index " +
    "page still carries its bit-width byte (parquet-cpp) and both " +
    "readers accept it") {
    import spark.implicits._
    val dir = TempDirs.create("pq_allnull")
      .toString
    spark.range(0, 50).select($"id".as("rec_id"),
      org.apache.spark.sql.functions.lit(null).cast("string").as("s"),
      org.apache.spark.sql.functions.lit(null).cast("long").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val fm = Parquet.parseFooter(bytes).getOrElse(fail("footer"))
    val lv = fm.leafLevels
    for (rg <- fm.rowGroups; c <- rg.cols) {
      val (d, r) = lv(c.path)
      val cells = Parquet.readChunkCells(bytes, c, d, r)
        .getOrElse(fail(s"cells ${c.path}"))
      assert(cells.numSlots == 50)
      if (c.path != "rec_id")
        assert(cells.longs.isEmpty && cells.bins.isEmpty &&
          cells.defs.forall(_ == 0), c.path)
      val sums = Parquet.decodeChunk(bytes, c, d)
        .getOrElse(fail(s"chunk ${c.path}"))
      assert(sums.numValues == 50)
    }
  }

  test("split-block bloom filters: verdicts identical to parquet-mr's " +
    "own reader for thousands of present AND absent keys; forged " +
    "pointers fail closed") {
    import spark.implicits._
    val dir = TempDirs.create("pq_bloom")
      .toString
    spark.range(0, 4000).select(($"id" * 7).as("rec_id"))
      .coalesce(1).write
      .option("compression", "snappy")
      .option("parquet.enable.dictionary", "false")
      .option("parquet.bloom.filter.enabled#rec_id", "true")
      .option("parquet.bloom.filter.expected.ndv#rec_id", "4000")
      .mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val fm = Parquet.parseFooter(bytes).getOrElse(fail("footer"))
    val rc = fm.rowGroups.head.cols.find(_.path == "rec_id").get
    assert(rc.bloomFilterOffset >= 0, "parquet-mr wrote the bloom")
    val bf = Parquet.parseBloomFilter(bytes, rc)
      .getOrElse(fail("bloom header"))
    // parquet-mr reads the SAME bytes through its own stack
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(file.getAbsolutePath),
      spark.sparkContext.hadoopConfiguration))
    try {
      val mrBloom = rdr.readBloomFilter(
        rdr.getFooter.getBlocks.get(0).getColumns.get(0))
      assert(mrBloom != null)
      var present = 0
      var absentMight = 0
      for (k <- -4000L until 4000L * 7 by 3L) {
        val mine = bf.mightContainLong(k)
        val theirs = mrBloom.findHash(mrBloom.hash(k))
        assert(mine == theirs, s"key $k: mine=$mine theirs=$theirs")
        if (k >= 0 && k % 7 == 0) {
          assert(mine, s"present key $k must hit (no false negatives)")
          present += 1
        } else if (mine) absentMight += 1
      }
      assert(present > 1000)
      // the filter must actually separate: with ndv-sized sizing the
      // absent-key pass rate is a few percent, not ~100%
      assert(absentMight < 2000, s"absent passes: $absentMight")
    } finally rdr.close()
    // forged pointer / length shapes fail closed
    assert(Parquet.parseBloomFilter(bytes,
      rc.copy(bloomFilterOffset = bytes.length.toLong - 4)).isEmpty)
    assert(Parquet.parseBloomFilter(bytes,
      rc.copy(bloomFilterOffset = rc.dataPageOffset)).isEmpty)
    if (rc.bloomFilterLength >= 0)
      assert(Parquet.parseBloomFilter(bytes,
        rc.copy(bloomFilterLength = rc.bloomFilterLength + 32)).isEmpty)
    // flipped header bytes never throw
    for (i <- 0 until 16) {
      val bad = bytes.clone()
      bad(rc.bloomFilterOffset.toInt + i) =
        (bad(rc.bloomFilterOffset.toInt + i) ^ 0x5a).toByte
      Parquet.parseBloomFilter(bad, rc)
    }
  }

  test("readChunkCells + DeltaCheckpoint: a Spark/parquet-mr-written " +
    "mini checkpoint (nested structs, MAP with empty/null/multi-entry " +
    "maps, dict + snappy, v1 AND v2 pages) parses row-exact; damage " +
    "never throws") {
    import spark.implicits._
    val rows = Seq(
      CkRow(CkAdd("a.parquet", Map("part" -> "0", "zone" -> "eu"), 10L),
        null, null, null),
      CkRow(CkAdd("b.parquet", Map.empty[String, String], 20L),
        null, null, null),
      CkRow(CkAdd("c.parquet", Map("k" -> null), 30L), null, null, null),
      CkRow(null, CkRemove("old.parquet", 5L), null, null),
      CkRow(null, null, CkMeta("tbl-1"), null),
      CkRow(null, null, null, CkProto(3)),
      CkRow(CkAdd("d.parquet", null, null), null, null, null))
    for (wv <- Seq("PARQUET_1_0", "PARQUET_2_0")) {
      val dir = TempDirs.create(s"ck_cells_$wv").toString
      rows.toDS().coalesce(1).write
        .option("compression", "snappy")
        .option("parquet.writer.version", wv)
        .mode("overwrite").parquet(dir)
      val file = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val bytes = java.nio.file.Files.readAllBytes(file.toPath)
      val acts = graft.sources.DeltaCheckpoint.parse(bytes)
        .getOrElse(fail(s"must parse ($wv)"))
      assert(acts.length == 7, wv)
      import graft.sources.DeltaCheckpoint.Act
      assert(acts(0) == Act("a.parquet", 10L,
        Map("part" -> "0", "zone" -> "eu"), null, null, -1L), wv)
      assert(acts(1) == Act("b.parquet", 20L, Map.empty, null, null,
        -1L), wv)
      assert(acts(2) == Act("c.parquet", 30L, Map("k" -> null), null,
        null, -1L), wv)
      assert(acts(3) == Act(null, -1L, null, "old.parquet", null, -1L),
        wv)
      assert(acts(4) == Act(null, -1L, null, null, "tbl-1", -1L), wv)
      assert(acts(5) == Act(null, -1L, null, null, null, 3L), wv)
      // null map reads as empty (Delta treats both the same); null
      // size reads -1 behind the non-null path
      assert(acts(6) == Act("d.parquet", -1L, Map.empty, null, null,
        -1L), wv)
      // totality: every single-byte flip parses to None or a
      // well-formed Vector — never a throw
      for (i <- bytes.indices by 7) {
        val bad = bytes.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
        graft.sources.DeltaCheckpoint.parse(bad)
      }
      // truncations
      for (cut <- Seq(4, bytes.length / 2, bytes.length - 1))
        assert(graft.sources.DeltaCheckpoint.parse(
          java.util.Arrays.copyOf(bytes, cut)).isEmpty, s"$wv cut $cut")
    }
  }

  test("ParquetWrite: engine-written files read back through " +
    "parquet-mr (Spark) and the engine's own reader — extreme values, " +
    "many rows, multi-column") {
    val rows = (Seq(Array(Long.MinValue, Long.MaxValue),
      Array(-1L, 0L), Array(42L, -42L)) ++
      (0L until 3000L).map(i => Array(i, i * i % 99991))).toSeq
    val b = graft.sources.ParquetWrite.writeInt64(Seq("a", "b"), rows)
    // own reader round-trip
    val ra = graft.sources.Parquet.columnLongs(b, "a")
      .getOrElse(fail("own reader: a"))
    val rb = graft.sources.Parquet.columnLongs(b, "b")
      .getOrElse(fail("own reader: b"))
    assert(ra.toSeq == rows.map(_(0)) && rb.toSeq == rows.map(_(1)))
    // parquet-mr (Spark) as the independent reader
    val dir = TempDirs.create("pqw").toFile
    val p = new java.io.File(dir, "own.parquet")
    java.nio.file.Files.write(p.toPath, b)
    val df = spark.read.parquet(p.getAbsolutePath)
    val got = df.selectExpr("sum(a)", "sum(b)", "count(*)",
      "min(a)", "max(a)").collect()(0)
    assert(got.getLong(2) == rows.length)
    assert(got.getLong(0) == rows.map(_(0)).sum)
    assert(got.getLong(1) == rows.map(_(1)).sum)
    assert(got.getLong(3) == Long.MinValue &&
      got.getLong(4) == 2999L)
    // and the SNAPPY-codec form (engine-owned compressor) reads back
    // identically through parquet-mr, smaller on the wire
    val bz = graft.sources.ParquetWrite.writeInt64(Seq("a", "b"), rows,
      codec = 1)
    assert(bz.length < b.length)
    val pz = new java.io.File(dir, "own_snappy.parquet")
    java.nio.file.Files.write(pz.toPath, bz)
    val gotZ = spark.read.parquet(pz.getAbsolutePath)
      .selectExpr("sum(a)", "sum(b)", "count(*)").collect()(0)
    assert(gotZ.getLong(2) == rows.length &&
      gotZ.getLong(0) == rows.map(_(0)).sum &&
      gotZ.getLong(1) == rows.map(_(1)).sum)
    pz.delete()
    p.delete(); dir.delete()
  }

  test("ParquetWrite.writeFile: strings + OPTIONAL + dictionary + " +
    "double columns read back through parquet-mr and the own reader") {
    val W = graft.sources.ParquetWrite
    val P = graft.sources.Parquet
    val n = 500
    val ids = (0 until n).map(_.toLong)
    val txts = ids.map(d => s"doc-$d-" + ("x" * (d % 17).toInt))
    val langs = ids.map(d =>
      if (d % 7 == 0) None
      else Some(Seq("en", "es", "fr", "de", "pt")((d % 5).toInt)))
    val scores = ids.map(d =>
      if (d % 11 == 3) None else Some((d * d) % 997))
    val ratios = ids.map(d => (d % 40).toDouble / 4.0)
    def utf8(s: String) = s.getBytes("UTF-8")
    val fields = Seq(
      W.Leaf("rec_id", 0, 2),
      W.Leaf("txt", 0, 6, convertedType = 0),
      W.Leaf("lang", 1, 6, convertedType = 0),
      W.Leaf("score", 1, 2),
      W.Leaf("ratio", 0, 5))
    val data = Seq(
      W.LeafData(Array.fill(n)(0), null, longs = ids.toArray),
      W.LeafData(Array.fill(n)(0), null,
        bins = txts.map(utf8).toArray),
      W.LeafData(langs.map(l => if (l.isDefined) 1 else 0).toArray, null,
        bins = langs.flatten.map(utf8).toArray, dict = true),
      W.LeafData(scores.map(s => if (s.isDefined) 1 else 0).toArray, null,
        longs = scores.flatten.toArray),
      W.LeafData(Array.fill(n)(0), null,
        longs = ratios.map(java.lang.Double.doubleToLongBits).toArray))
    for (codec <- Seq(0, 1); stats <- Seq(false, true)) {
      val b = W.writeFile(fields, data, codec = codec, withStats = stats)
      // own reader round-trip (values + def levels)
      val fm = P.parseFooter(b).getOrElse(fail("footer"))
      assert(fm.numRows == n)
      def cells(path: String) = {
        val (d, r) = fm.leafLevels(path)
        P.readChunkCells(b, fm.rowGroups.head.cols.find(_.path == path)
          .get, d, r).getOrElse(fail(s"cells $path"))
      }
      assert(cells("rec_id").longs.toSeq == ids)
      assert(cells("txt").bins.map(new String(_, "UTF-8")).toSeq == txts)
      val lc = cells("lang")
      assert(lc.defs.count(_ == 0) == langs.count(_.isEmpty))
      assert(lc.bins.map(new String(_, "UTF-8")).toSeq ==
        langs.flatten)
      val sc = cells("score")
      assert(sc.longs.toSeq == scores.flatten)
      assert(cells("ratio").longs.map(
        java.lang.Double.longBitsToDouble).toSeq == ratios)
      if (stats) {
        val idCol = fm.rowGroups.head.cols.find(_.path == "rec_id").get
        assert(idCol.minLong.contains(0L) &&
          idCol.maxLong.contains((n - 1).toLong))
        val scCol = fm.rowGroups.head.cols.find(_.path == "score").get
        assert(scCol.nullCount == scores.count(_.isEmpty))
      }
      // parquet-mr (Spark) as the independent reader
      val dir = TempDirs.create("pqwf").toFile
      val p = new java.io.File(dir, "own.parquet")
      java.nio.file.Files.write(p.toPath, b)
      val df = spark.read.parquet(p.getAbsolutePath)
      val got = df.selectExpr("count(*)", "sum(rec_id)",
        "sum(length(txt))", "count(lang)", "sum(score)", "sum(ratio)",
        "count(distinct lang)").collect()(0)
      assert(got.getLong(0) == n)
      assert(got.getLong(1) == ids.sum)
      assert(got.getLong(2) == txts.map(_.length.toLong).sum)
      assert(got.getLong(3) == langs.count(_.isDefined))
      assert(got.getLong(4) == scores.flatten.sum)
      assert(got.getDouble(5) == ratios.sum)
      assert(got.getLong(6) == 5L)
      p.delete(); dir.delete()
    }
  }

  test("ParquetWrite.writeFile: multi-page chunks with " +
    "ColumnIndex/OffsetIndex + split-block bloom — own q263/q269 " +
    "machinery reads only what the engine wrote") {
    val W = graft.sources.ParquetWrite
    val P = graft.sources.Parquet
    val n = 1000
    val ids = (0 until n).map(_.toLong) // ascending → page-prunable
    val tags = ids.map(d => s"tag-${d / 100}") // 10 distinct
    val fields = Seq(
      W.Leaf("id", 0, 2),
      W.Leaf("tag", 0, 6, convertedType = 0))
    val data = Seq(
      W.LeafData(Array.fill(n)(0), null, longs = ids.toArray),
      W.LeafData(Array.fill(n)(0), null,
        bins = tags.map(_.getBytes("UTF-8")).toArray))
    val b = W.writeFile(fields, data, withStats = true, pageRows = 100,
      withIndex = true, bloomCols = Set(0, 1))
    val fm = P.parseFooter(b).getOrElse(fail("footer"))
    val idCol = fm.rowGroups.head.cols.find(_.path == "id").get
    // OffsetIndex: 10 pages, first_row_index 0,100,...
    val oi = P.parseOffsetIndex(b, idCol).getOrElse(fail("oi"))
    assert(oi.length == 10 &&
      oi.map(_.firstRowIndex) == (0 until 1000 by 100).map(_.toLong))
    // ColumnIndex: page bounds match the data
    val ci = P.parseColumnIndex(b, idCol).getOrElse(fail("ci"))
    assert(ci.nullPages.forall(_ == false))
    assert(ci.minLong(0).contains(0L) && ci.maxLong(0).contains(99L))
    assert(ci.minLong(7).contains(700L) && ci.maxLong(7).contains(799L))
    // page-skip read: decode ONLY the index-selected page
    val probe = 437L
    val pageIdx = oi.lastIndexWhere(_.firstRowIndex <= probe)
    assert(pageIdx == 4)
    val cells = P.readPageCells(b, oi(pageIdx), idCol)
      .getOrElse(fail("page read"))
    assert(cells.longs.length == 100 && cells.longs.contains(probe))
    // blooms: present keys hit, absent keys (mostly) miss
    val bloomId = P.parseBloomFilter(b, idCol).getOrElse(fail("bloom id"))
    assert(ids.forall(bloomId.mightContainLong))
    val misses = (3000L until 4000L).count(bloomId.mightContainLong)
    assert(misses < 50, s"bloom FPP too high: $misses/1000")
    val tagCol = fm.rowGroups.head.cols.find(_.path == "tag").get
    val bloomTag = P.parseBloomFilter(b, tagCol).getOrElse(fail("bloom t"))
    assert(tags.distinct.forall(t =>
      bloomTag.mightContainBinary(t.getBytes("UTF-8"))))
    assert(!bloomTag.mightContainBinary("tag-99".getBytes("UTF-8")) ||
      !bloomTag.mightContainBinary("tag-77".getBytes("UTF-8")))
    // parquet-mr reads the indexed multi-page file
    val dir = TempDirs.create("pqwi").toFile
    val p = new java.io.File(dir, "own.parquet")
    java.nio.file.Files.write(p.toPath, b)
    val got = spark.read.parquet(p.getAbsolutePath)
      .selectExpr("count(*)", "sum(id)", "count(distinct tag)")
      .collect()(0)
    assert(got.getLong(0) == n && got.getLong(1) == ids.sum &&
      got.getLong(2) == 10L)
    p.delete(); dir.delete()
  }

  test("ParquetWrite.writeFile(pageV2): engine-written DATA_PAGE_V2 " +
    "files — levels outside the codec, multi-page, dict + snappy — " +
    "read back through parquet-mr AND the own reader") {
    val W = graft.sources.ParquetWrite
    val P = graft.sources.Parquet
    val n = 500
    val ids = (0 until n).map(_.toLong * 3)
    val tags = ids.map(d => s"t${d % 7}")
    val optDefs = ids.map(d => if (d % 5 == 0) 0 else 1).toArray
    val optVals = ids.filter(_ % 5 != 0).map(_ * 2).toArray
    val fields = Seq(
      W.Leaf("id", 0, 2),
      W.Leaf("tag", 0, 6, convertedType = 0),
      W.Leaf("opt", 1, 2))
    val data = Seq(
      W.LeafData(Array.fill(n)(0), null, longs = ids.toArray),
      W.LeafData(Array.fill(n)(0), null,
        bins = tags.map(_.getBytes("UTF-8")).toArray, dict = true),
      W.LeafData(optDefs, null, longs = optVals))
    for (codec <- Seq(0, 1)) {
      val b = W.writeFile(fields, data, codec = codec,
        withStats = true, pageRows = 64, pageV2 = true)
      // own reader
      val fm = P.parseFooter(b).getOrElse(fail(s"footer codec $codec"))
      def cells(path: String) = {
        val (d, r) = fm.leafLevels(path)
        fm.rowGroups.head.cols.find(_.path == path)
          .flatMap(c => P.readChunkCells(b, c, d, r))
          .getOrElse(fail(s"cells $path codec $codec"))
      }
      assert(cells("id").longs.toSeq == ids)
      assert(cells("tag").bins.map(new String(_, "UTF-8")).toSeq == tags)
      val oc = cells("opt")
      assert(oc.defs.count(_ == 0) == ids.count(_ % 5 == 0))
      assert(oc.longs.toSeq == optVals.toSeq)
      // parquet-mr
      val dir = TempDirs.create("pqv2w").toFile
      val p = new java.io.File(dir, "own.parquet")
      java.nio.file.Files.write(p.toPath, b)
      val got = spark.read.parquet(p.getAbsolutePath)
        .selectExpr("count(*)", "sum(id)", "count(distinct tag)",
          "count(*) - count(opt)", "sum(opt)").collect()(0)
      assert(got.getLong(0) == n && got.getLong(1) == ids.sum &&
        got.getLong(2) == 7L &&
        got.getLong(3) == ids.count(_ % 5 == 0) &&
        got.getLong(4) == optVals.sum, s"codec $codec")
      p.delete(); dir.delete()
      // totality: flipped bytes never throw
      for (i <- b.indices by 11) {
        val bad = b.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
        P.parseFooter(bad).foreach { fm2 =>
          fm2.rowGroups.headOption.foreach(_.cols.foreach { c =>
            fm2.leafLevels.get(c.path).foreach { case (d, r) =>
              P.readChunkCells(bad, c, d, r)
            }
          })
        }
      }
    }
  }

  test("ParquetWrite.writeInt64RowGroups: multi-row-group files with " +
    "per-group stats + column_orders — parquet-mr and the own reader " +
    "agree; group pruning from the footer alone") {
    val W = graft.sources.ParquetWrite
    val P = graft.sources.Parquet
    val groups = Seq(
      (0L until 100L).map(d => Array(d, d * 2)),
      (100L until 250L).map(d => Array(d, d * 2)),
      (250L until 400L).map(d => Array(d, d * 2)))
    val b = W.writeInt64RowGroups(Seq("id", "v"), groups)
    val fm = P.parseFooter(b).getOrElse(fail("footer"))
    assert(fm.rowGroups.length == 3)
    // per-group stats bound their own data exactly
    fm.rowGroups.zip(groups).foreach { case (rg, g) =>
      val c = rg.cols.find(_.path == "id").get
      assert(c.minLong.contains(g.head(0)) &&
        c.maxLong.contains(g.last(0)))
    }
    // prune: a probe inside group 1 only decodes group 1's chunk
    val sel = fm.rowGroups.filter { rg =>
      val c = rg.cols.find(_.path == "id").get
      c.minLong.exists(_ <= 180L) && c.maxLong.exists(_ >= 180L)
    }
    assert(sel.length == 1)
    val cells = P.readChunkCells(b,
      sel.head.cols.find(_.path == "id").get, 0, 0)
      .getOrElse(fail("chunk"))
    assert(cells.longs.length == 150 && cells.longs.contains(180L))
    // parquet-mr: row-group structure + full content
    val dir = TempDirs.create("pqrg").toFile
    val p = new java.io.File(dir, "own.parquet")
    java.nio.file.Files.write(p.toPath, b)
    val got = spark.read.parquet(p.getAbsolutePath)
      .selectExpr("count(*)", "sum(id)", "sum(v)").collect()(0)
    assert(got.getLong(0) == 400L &&
      got.getLong(1) == (0L until 400L).sum &&
      got.getLong(2) == (0L until 400L).map(_ * 2).sum)
    p.delete(); dir.delete()
    // totality: flips never throw
    for (i <- b.indices by 9) {
      val bad = b.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      P.parseFooter(bad).foreach(_.rowGroups.foreach(_.cols.foreach {
        c => P.readChunkCells(bad, c, 0, 0)
      }))
    }
  }

  test("DeltaWrite.writeCheckpoint: the engine-WRITTEN checkpoint " +
    "(nested action groups + 3-level MAP striping) round-trips " +
    "through its own reader AND parquet-mr reads the same rows") {
    val D = graft.sources.DeltaWrite
    import graft.sources.DeltaCheckpoint
    val acts = Seq(
      D.CkptAct(minReader = 1L),
      D.CkptAct(metaId = "tbl-xyz"),
      D.CkptAct(addPath = "f0.parquet", addSize = 123L, addPart = "0"),
      D.CkptAct(addPath = "f2.parquet", addSize = 456L, addPart = "2"),
      D.CkptAct(removePath = "f1.parquet"))
    val b = D.writeCheckpoint(acts)
    // own reader: exact Acts back
    import DeltaCheckpoint.Act
    val got = DeltaCheckpoint.parse(b).getOrElse(fail("must parse"))
    assert(got == Vector(
      Act(null, -1L, null, null, null, 1L),
      Act(null, -1L, null, null, "tbl-xyz", -1L),
      Act("f0.parquet", 123L, Map("part" -> "0"), null, null, -1L),
      Act("f2.parquet", 456L, Map("part" -> "2"), null, null, -1L),
      Act(null, -1L, null, "f1.parquet", null, -1L)))
    // parquet-mr: the foreign reader agrees on structs AND the map
    val dir = TempDirs.create("ckw").toFile
    val p = new java.io.File(dir, "own.checkpoint.parquet")
    java.nio.file.Files.write(p.toPath, b)
    val df = spark.read.parquet(p.getAbsolutePath)
    val rows = df.selectExpr("protocol.minReaderVersion", "metaData.id",
      "add.path", "add.partitionValues['part']", "add.size",
      "remove.path").collect()
    assert(rows.length == 5)
    assert(rows(0).getLong(0) == 1L && rows(0).isNullAt(2))
    assert(rows(1).getString(1) == "tbl-xyz")
    assert(rows(2).getString(2) == "f0.parquet" &&
      rows(2).getString(3) == "0" && rows(2).getLong(4) == 123L)
    assert(rows(3).getString(2) == "f2.parquet" &&
      rows(3).getString(3) == "2" && rows(3).getLong(4) == 456L)
    assert(rows(4).getString(5) == "f1.parquet" && rows(4).isNullAt(2))
    p.delete(); dir.delete()
    // determinism + totality
    assert(java.util.Arrays.equals(b, D.writeCheckpoint(acts)))
    for (i <- b.indices by 5) {
      val bad = b.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      DeltaCheckpoint.parse(bad) // None or well-formed, never a throw
    }
  }
  test("ParquetWrite v2 value encodings: own DELTA_BINARY_PACKED, " +
    "DELTA_LENGTH/DELTA_BYTE_ARRAY and BYTE_STREAM_SPLIT writes read " +
    "back through parquet-mr AND the own reader, multi-page, extremes") {
    val W = graft.sources.ParquetWrite
    val P = graft.sources.Parquet
    val n = 2500 // multiple DBP blocks + a non-multiple-of-128 tail
    val ids = (0 until n).map(i => 1000000L + i * 3 - (i % 7))
    val names = (0 until n).map(i => f"doc-$i%08d/part-${i % 5}")
    val tags = (0 until n).map(i => s"t${i % 997}")
    val embBits = (0 until n).map(i =>
      java.lang.Double.doubleToLongBits(i * 0.5 - 600.0))
    val fields = Seq(
      W.Leaf("id", 0, 2),
      W.Leaf("name", 0, 6, convertedType = 0),
      W.Leaf("tag", 0, 6, convertedType = 0),
      W.Leaf("emb", 0, 5))
    val data = Seq(
      W.LeafData(Array.fill(n)(0), null, longs = ids.toArray, enc = 5),
      W.LeafData(Array.fill(n)(0), null,
        bins = names.map(_.getBytes("UTF-8")).toArray, enc = 7),
      W.LeafData(Array.fill(n)(0), null,
        bins = tags.map(_.getBytes("UTF-8")).toArray, enc = 6),
      W.LeafData(Array.fill(n)(0), null, longs = embBits.toArray,
        enc = 9))
    for (pageRows <- Seq(0, 700)) {
      val b = W.writeFile(fields, data, pageRows = pageRows)
      assert(P.columnLongs(b, "id").exists(_.toSeq == ids))
      assert(P.columnStrings(b, "name").exists(_.toSeq == names))
      assert(P.columnStrings(b, "tag").exists(_.toSeq == tags))
      assert(P.columnLongs(b, "emb").exists(_.toSeq == embBits))
      val dir = TempDirs.create("pqv2e").toFile
      val p = new java.io.File(dir, "own.parquet")
      java.nio.file.Files.write(p.toPath, b)
      // Spark's vectorized reader has no BYTE_STREAM_SPLIT support;
      // parquet-mr's row-based reader (the reference decoder) does
      spark.conf.set("spark.sql.parquet.enableVectorizedReader",
        "false")
      val got =
        // parquet.split.files=false: parquet-mr's PARQUET-246 guard
        // refuses split reads of DELTA_BYTE_ARRAY from writers it
        // cannot version-parse (created_by "graft parquet writer")
        try spark.read.option("parquet.split.files", "false")
          .parquet(p.getAbsolutePath)
          .selectExpr("count(*)", "sum(id)", "sum(length(name))",
            "count(distinct tag)", "sum(emb)").collect()(0)
        finally spark.conf.set(
          "spark.sql.parquet.enableVectorizedReader", "true")
      assert(got.getLong(0) == n && got.getLong(1) == ids.sum)
      assert(got.getLong(2) == names.map(_.length.toLong).sum)
      assert(got.getLong(3) == 997L)
      assert(math.abs(got.getDouble(4) -
        (0 until n).map(i => i * 0.5 - 600.0).sum) < 1e-6)
      p.delete(); dir.delete()
    }
    // front-coding must actually pay on sorted names vs PLAIN
    val plainB = W.writeFile(fields.take(2), data.take(2).map(d =>
      d.copy(enc = 0)))
    val v2B = W.writeFile(fields.take(2), data.take(2))
    assert(v2B.length < plainB.length,
      s"${v2B.length} vs ${plainB.length}")
    // DBP edge battery through a 1-column file: wrap-around deltas,
    // single value, exact block multiples
    for (vs <- Seq(Seq(0L, Long.MaxValue, Long.MinValue, -1L, 1L),
      Seq(42L), (0 until 128).map(_.toLong * 7),
      (0 until 129).map(i => -i.toLong * 1000003),
      Seq.fill(300)(5L))) {
      val f = Seq(W.Leaf("x", 0, 2))
      val d = Seq(W.LeafData(Array.fill(vs.length)(0), null,
        longs = vs.toArray, enc = 5))
      val bb = W.writeFile(f, d)
      assert(P.columnLongs(bb, "x").exists(_.toSeq == vs), vs.take(3))
      val dir = TempDirs.create("dbpe").toFile
      val p = new java.io.File(dir, "e.parquet")
      java.nio.file.Files.write(p.toPath, bb)
      val back = spark.read.parquet(p.getAbsolutePath)
        .collect().map(_.getLong(0)).toSeq
      assert(back.sorted == vs.sorted, vs.take(3))
      p.delete(); dir.delete()
    }
    // OPTIONAL leaf with v2 encoding: nulls ride the def levels,
    // values the DBP stream
    val defs = (0 until n).map(i => if (i % 5 == 0) 0 else 1).toArray
    val present = (0 until n).filter(_ % 5 != 0)
      .map(i => i.toLong * 11).toArray
    val ob = W.writeFile(Seq(W.Leaf("ox", 1, 2)),
      Seq(W.LeafData(defs, null, longs = present, enc = 5)))
    val dir2 = TempDirs.create("dbpo").toFile
    val p2 = new java.io.File(dir2, "o.parquet")
    java.nio.file.Files.write(p2.toPath, ob)
    val g2 = spark.read.parquet(p2.getAbsolutePath)
      .selectExpr("count(*)", "count(ox)", "sum(ox)").collect()(0)
    assert(g2.getLong(0) == n && g2.getLong(1) == present.length &&
      g2.getLong(2) == present.sum)
    p2.delete(); dir2.delete()
  }
  test("ParquetWrite(withCrc): page CRCs verify through parquet-mr " +
    "with checksum verification ON, own reader enforces them, and " +
    "md5-pinned layouts stay frozen (opt-in)") {
    val W = graft.sources.ParquetWrite
    val P = graft.sources.Parquet
    val n = 400
    val fields = Seq(W.Leaf("id", 0, 2),
      W.Leaf("tag", 0, 6, convertedType = 0))
    val data = Seq(
      W.LeafData(Array.fill(n)(0), null,
        longs = (0 until n).map(_.toLong * 7).toArray),
      W.LeafData(Array.fill(n)(0), null,
        bins = (0 until n).map(i => s"t${i % 9}".getBytes("UTF-8"))
          .toArray, dict = true))
    val crcd = W.writeFile(fields, data, withCrc = true,
      pageRows = 128)
    val plain = W.writeFile(fields, data, pageRows = 128)
    // opt-in law: the default layout is byte-identical to before
    assert(!java.util.Arrays.equals(crcd, plain) &&
      crcd.length > plain.length)
    assert(P.columnLongs(crcd, "id").exists(
      _.toSeq == (0 until n).map(_.toLong * 7)))
    // parquet-mr with page verification enabled reads the crc'd file
    val dir = TempDirs.create("pqcrc").toFile
    val p = new java.io.File(dir, "own.parquet")
    java.nio.file.Files.write(p.toPath, crcd)
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "true")
    val got = spark.read
      .option("parquet.page.verify-checksum.enabled", "true")
      .parquet(p.getAbsolutePath)
      .selectExpr("count(*)", "sum(id)", "count(distinct tag)")
      .collect()(0)
    assert(got.getLong(0) == n &&
      got.getLong(1) == (0 until n).map(_.toLong * 7).sum &&
      got.getLong(2) == 9L)
    // a flipped payload byte fails the own reader closed on the
    // crc'd file (the contrast with PLAIN-no-crc is q350's oracle)
    var caught = true
    for (i <- 40 until math.min(crcd.length - 8, 600) by 5) {
      val bad = crcd.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      P.columnLongs(bad, "id").foreach { vs =>
        if (vs.toSeq != (0 until n).map(_.toLong * 7)) caught = false
      }
    }
    assert(caught, "a flip decoded silently despite the CRC")
    p.delete(); dir.delete()
  }
}



// Top-level so Spark derives encoders (mini-checkpoint spec rows).
case class CkAdd(path: String, partitionValues: Map[String, String],
                 size: java.lang.Long)
case class CkRemove(path: String, deletionTimestamp: java.lang.Long)
case class CkMeta(id: String)
case class CkProto(minReaderVersion: java.lang.Integer)
case class CkRow(add: CkAdd, remove: CkRemove, metaData: CkMeta,
                 protocol: CkProto)
