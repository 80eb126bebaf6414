package graft

import graft.sources.Orc
import org.apache.spark.graft.TempDirs

/** Pins the from-scratch ORC tail walk (sources/Orc.scala) against
  * liborc via the pyarrow-written fixture blobs: postscript ->
  * chunk-decompressed protobuf footer -> stripe directory, type tree,
  * typed file statistics — across all four chunk codecs (ZLIB /
  * SNAPPY / ZSTD / LZ4, one per fixture table). Value-level
  * correctness is the q264 oracle's job; this suite pins structure,
  * the independent reader's claims (n_stripes / content_length
  * columns), internal consistency laws, and the damage shapes that
  * must close.
  */
class OrcSpec extends SparkSpec {

  private def fixture: Seq[(Array[Byte], Long, Long)] =
    spark.read.parquet("fixtures/orc_files.parquet")
      .collect() // bounded: 12 fixture files
      .map(r => (r.getAs[Array[Byte]]("file_bytes"),
        r.getAs[Long]("n_stripes"), r.getAs[Long]("content_length")))
      .toSeq

  test("pyarrow-written ORC blobs parse: stripe directory tiles the " +
    "row total, schema tree exact, typed stats present, all four " +
    "codecs decode through the engine's own consumers") {
    val blobs = fixture
    assert(blobs.length == 12)
    val comps = scala.collection.mutable.Set.empty[Int]
    for ((b, expStripes, expClen) <- blobs) {
      val t = Orc.parseTail(b).getOrElse(fail("must parse"))
      comps += t.compression
      assert(t.stripes.length.toLong == expStripes,
        "liborc's stripe count is the truth")
      assert(t.contentLength == expClen)
      assert(t.stripes.map(_.numRows).sum == t.numRows)
      assert(t.numRows > 0 && t.numRows % 256 == 0) // 256 replicas
      assert(t.typeKinds == Seq(12, 4, 6)) // struct<long, double>
      assert(t.fieldNames == Seq("rec_id", "score"))
      assert(t.stats.length == 3) // root + 2 columns
      val root = t.stats(0)
      assert(root.numValues == t.numRows && !root.hasNull)
      val rid = t.stats(1)
      assert(rid.intMin.exists(mn => rid.intMax.exists(_ >= mn)))
      assert(rid.intSum.isDefined && !rid.hasNull)
      val sc = t.stats(2)
      assert(sc.dblSum.isDefined && !sc.hasNull)
      // stripes are contiguous after the 3-byte magic header region
      assert(t.stripes.head.offset == 3)
    }
    assert(comps == Set(Orc.CompZlib, Orc.CompSnappy, Orc.CompZstd,
      Orc.CompLz4), "fixture covers every engine codec")
  }

  test("stripe DATA decode: RLEv2 longs and IEEE doubles reproduce " +
    "liborc's own statistics stripe by stripe, file totals included") {
    for ((b, _, _) <- fixture) {
      val t = Orc.parseTail(b).getOrElse(fail("must parse"))
      assert(t.stripeStats.length == t.stripes.length,
        "liborc writes the Metadata section")
      var totLong = 0L
      var totDbl = 0.0
      for ((s, si) <- t.stripes.zipWithIndex) {
        val ids = Orc.stripeColumnLongs(b, t, s, 1)
          .getOrElse(fail(s"stripe $si longs"))
        val ds = Orc.stripeColumnDoubles(b, t, s, 2)
          .getOrElse(fail(s"stripe $si doubles"))
        assert(ids.length.toLong == s.numRows)
        assert(ds.length.toLong == s.numRows)
        // the stripe's OWN statistics are the decoded truth
        val ss = t.stripeStats(si)
        assert(ss.length == 3)
        assert(ss(1).intSum.contains(ids.sum), s"stripe $si int sum")
        assert(ss(1).intMin.contains(ids.min) &&
          ss(1).intMax.contains(ids.max))
        assert(ss(2).dblSum.exists(v => math.abs(v - ds.sum) < 1e-6),
          s"stripe $si dbl sum")
        totLong += ids.sum
        totDbl += ds.sum
      }
      // and the FILE statistics tie the stripes together
      assert(t.stats(1).intSum.contains(totLong))
      assert(t.stats(2).dblSum.exists(v => math.abs(v - totDbl) < 1e-6))
    }
  }

  test("bloom filters: every actual value passes its row group's bloom " +
    "(no false negatives — longs via Wang mix, strings via Murmur3 " +
    "hash64), absent keys mostly fail (separation)") {
    val blobs = spark.read.parquet("fixtures/orc_str_files.parquet")
      .collect() // bounded: 12 fixture files
      .map(_.getAs[Array[Byte]]("file_bytes")).toSeq
    assert(blobs.length == 12)
    for (b <- blobs) { // EVERY blob: full value coverage incl. doc 0
      val t = Orc.parseTail(b).getOrElse(fail("must parse"))
      assert(t.rowIndexStride > 0)
      val stride = t.rowIndexStride.toInt
      var absentLongPass = 0
      var absentLongTotal = 0
      var absentStrPass = 0
      var absentStrTotal = 0
      for (s <- t.stripes) {
        val ids = Orc.stripeColumnLongs(b, t, s, 1).getOrElse(fail("ids"))
        val names = Orc.stripeColumnStrings(b, t, s, 2)
          .getOrElse(fail("names"))
        val idBlooms = Orc.stripeBlooms(b, t, s, 1)
          .getOrElse(fail("rec_id blooms"))
        val nameBlooms = Orc.stripeBlooms(b, t, s, 2)
          .getOrElse(fail("name blooms"))
        val nGroups = (ids.length + stride - 1) / stride
        assert(idBlooms.length == nGroups &&
          nameBlooms.length == nGroups,
          s"${idBlooms.length}/${nameBlooms.length} vs $nGroups")
        for (g <- 0 until nGroups) {
          val lo = g * stride
          val hi = math.min(lo + stride, ids.length)
          // NO FALSE NEGATIVES: every present value passes
          for (i <- lo until hi) {
            assert(idBlooms(g).testLong(ids(i)), s"id ${ids(i)}")
            assert(nameBlooms(g).testString(names(i)), names(i))
          }
          // separation: clearly-absent keys mostly fail
          for (i <- 0 until 50) {
            absentLongTotal += 1
            if (idBlooms(g).testLong(-1000000L - i * 7919L))
              absentLongPass += 1
            absentStrTotal += 1
            if (nameBlooms(g).testString(s"absent-$i-xyzzy"))
              absentStrPass += 1
          }
        }
      }
      assert(absentLongPass * 5 < absentLongTotal,
        s"long separation: $absentLongPass/$absentLongTotal")
      assert(absentStrPass * 5 < absentStrTotal,
        s"string separation: $absentStrPass/$absentStrTotal")
      // a column without blooms has no kind-8 stream
      assert(Orc.stripeBlooms(b, t, t.stripes.head, 3).isEmpty)
    }
  }

  test("row index: one entry per rowIndexStride rows, and every " +
    "group's min/max/sum (longs) and min/max (doubles) equal the " +
    "decoded slice aggregates — the index is trustworthy for " +
    "group-level skipping") {
    val blobs = spark.read.parquet("fixtures/orc_files.parquet")
      .collect() // bounded: 12 fixture files
      .map(_.getAs[Array[Byte]]("file_bytes")).toSeq
    assert(blobs.length == 12)
    for (b <- blobs) {
      val t = Orc.parseTail(b).getOrElse(fail("must parse"))
      assert(t.rowIndexStride > 0)
      val stride = t.rowIndexStride.toInt
      for (s <- t.stripes) {
        val ids = Orc.stripeColumnLongs(b, t, s, 1).getOrElse(fail("ids"))
        val ds = Orc.stripeColumnDoubles(b, t, s, 2)
          .getOrElse(fail("scores"))
        val gi = Orc.stripeRowGroupStats(b, t, s, 1)
          .getOrElse(fail("rec_id index"))
        val gd = Orc.stripeRowGroupStats(b, t, s, 2)
          .getOrElse(fail("score index"))
        val nGroups = (ids.length + stride - 1) / stride
        assert(gi.length == nGroups && gd.length == nGroups)
        for (g <- 0 until nGroups) {
          val lo = g * stride
          val hi = math.min(lo + stride, ids.length)
          val slice = ids.slice(lo, hi)
          assert(gi(g).numValues == slice.length)
          assert(gi(g).intMin.contains(slice.min), s"group $g min")
          assert(gi(g).intMax.contains(slice.max), s"group $g max")
          assert(gi(g).intSum.contains(slice.sum), s"group $g sum")
          val dslice = ds.slice(lo, hi)
          assert(gd(g).dblMin.contains(dslice.min))
          assert(gd(g).dblMax.contains(dslice.max))
        }
      }
    }
  }

  test("nullable columns: PRESENT validity bits route values to the " +
    "right rows (every row pinned against the pure doc_id formulas), " +
    "pad strings pin global row order, strict decoders still route " +
    "away") {
    val blobs = spark.read.parquet("fixtures/orc_null_files.parquet")
      .collect() // bounded: 12 fixture files
      .map(_.getAs[Array[Byte]]("file_bytes")).toSeq
    assert(blobs.length == 12)
    for (b <- blobs) {
      val t = Orc.parseTail(b).getOrElse(fail("must parse"))
      assert(t.fieldNames == Seq("rec_id", "val", "tag", "pad"))
      var rowBase = 0L
      var sawNullVal = false
      for (s <- t.stripes) {
        val (rv, ids) = Orc.stripeColumnLongsOpt(b, t, s, 1)
          .getOrElse(fail("rec_id"))
        assert(rv.forall(identity)) // no PRESENT stream -> all true
        val (vv, vals) = Orc.stripeColumnLongsOpt(b, t, s, 2)
          .getOrElse(fail("val"))
        val (tv, tags) = Orc.stripeColumnStringsOpt(b, t, s, 3)
          .getOrElse(fail("tag"))
        val (pv, pads) = Orc.stripeColumnStringsOpt(b, t, s, 4)
          .getOrElse(fail("pad"))
        assert(pv.forall(identity))
        for (i <- ids.indices) {
          val d = ids(i)
          // validity and value both follow the writer's formulas
          assert(vv(i) == (d % 5 != 0), s"val validity at $d")
          if (vv(i)) { assert(vals(i) == (d * 7) % 1000) }
          else sawNullVal = true
          assert(tv(i) == (d % 7 != 1), s"tag validity at $d")
          if (tv(i)) assert(tags(i) == s"tag${d % 5}")
          else assert(tags(i) == null)
          assert(pads(i) == s"doc-$d-${rowBase + i}")
        }
        // the strict (non-null-only) decoders refuse PRESENT columns
        assert(Orc.stripeColumnLongs(b, t, s, 2).isEmpty)
        assert(Orc.stripeColumnStrings(b, t, s, 3).isEmpty)
        rowBase += ids.length
      }
      assert(rowBase == t.numRows)
      assert(sawNullVal) // the fixture genuinely exercises nulls
    }
  }

  test("temporal + decimal columns: timestamps (epoch-spanning, all " +
    "nano zero classes), dates, and zigzag-varint decimals reproduce " +
    "the writer formulas row by row") {
    val blobs = spark.read.parquet("fixtures/orc_time_files.parquet")
      .collect() // bounded: 12 fixture files
      .map(_.getAs[Array[Byte]]("file_bytes")).toSeq
    assert(blobs.length == 12)
    var sawNegSeconds = false
    for (b <- blobs) {
      val t = Orc.parseTail(b).getOrElse(fail("must parse"))
      assert(t.typeKinds == Seq(12, 4, 9, 15, 14, 7))
      for (s <- t.stripes) {
        val ids = Orc.stripeColumnLongs(b, t, s, 1).getOrElse(fail("ids"))
        val ts = Orc.stripeColumnTimestampMicros(b, t, s, 2)
          .getOrElse(fail("ts"))
        val days = Orc.stripeColumnLongs(b, t, s, 3).getOrElse(fail("dt"))
        val (uns, scales) = Orc.stripeColumnDecimals(b, t, s, 4)
          .getOrElse(fail("dec"))
        for (i <- ids.indices) {
          val d = ids(i)
          val mu = 1357000000000000L + d * 3600000003L + (d % 7)
          assert(ts(i) == mu, s"ts at doc $d")
          if (mu < 1420070400000000L) sawNegSeconds = true
          assert(days(i) == 10000 + d % 20000, s"dt at doc $d")
          assert(uns(i) == (d * 31) % 1000000 - 250000, s"dec at doc $d")
          assert(scales(i) == 4L)
        }
      }
    }
    // the fixture genuinely crosses ORC's 2015 timestamp epoch
    assert(sawNegSeconds)
  }

  test("list columns: LENGTH stream slices the child's flat elements " +
    "back into per-row lists (empty lists included), every row pinned " +
    "against the writer formulas") {
    val blobs = spark.read.parquet("fixtures/orc_list_files.parquet")
      .collect() // bounded: 12 fixture files
      .map(_.getAs[Array[Byte]]("file_bytes")).toSeq
    assert(blobs.length == 12)
    for (b <- blobs) {
      val t = Orc.parseTail(b).getOrElse(fail("must parse"))
      assert(t.typeKinds == Seq(12, 4, 10, 4, 7))
      var sawEmpty = false
      for (s <- t.stripes) {
        val ids = Orc.stripeColumnLongs(b, t, s, 1).getOrElse(fail("ids"))
        val ls = Orc.stripeColumnLongLists(b, t, s, 2)
          .getOrElse(fail("lists"))
        assert(ls.length == ids.length)
        for (i <- ids.indices) {
          val d = ids(i)
          val want = (0L until d % 5).map(j => d * 3 + j)
          assert(ls(i).toSeq == want, s"list at doc $d")
          if (want.isEmpty) sawEmpty = true
        }
      }
      assert(sawEmpty) // empty lists genuinely exercised per blob
    }
  }

  test("map columns: LENGTH stream slices key/value children back " +
    "into per-row maps (empty maps included), every row pinned " +
    "against the writer formulas") {
    val blobs = spark.read.parquet("fixtures/orc_map_files.parquet")
      .collect() // bounded: 12 fixture files
      .map(_.getAs[Array[Byte]]("file_bytes")).toSeq
    assert(blobs.length == 12)
    for (b <- blobs) {
      val t = Orc.parseTail(b).getOrElse(fail("must parse"))
      assert(t.typeKinds == Seq(12, 4, 11, 7, 4, 7))
      var sawEmpty = false
      for (s <- t.stripes) {
        val ids = Orc.stripeColumnLongs(b, t, s, 1).getOrElse(fail("ids"))
        val ms = Orc.stripeColumnStringLongMaps(b, t, s, 2)
          .getOrElse(fail("maps"))
        assert(ms.length == ids.length)
        for (i <- ids.indices) {
          val d = ids(i)
          val want = (0L until d % 5).map(j => (s"k$j", d * 7 + j))
          assert(ms(i).toSeq == want, s"map at doc $d")
          if (want.isEmpty) sawEmpty = true
        }
      }
      assert(sawEmpty)
    }
  }

  test("damage fails closed: truncation anywhere in the tail, flipped " +
    "tail bytes, forged postscript length, empty input — None or a " +
    "consistent parse, never a throw") {
    val b = fixture.head._1
    assert(Orc.parseTail(b).isDefined)
    // truncations: every cut in the last 300 bytes (postscript +
    // footer region) and a few gross ones
    for (cut <- (b.length - 300) until b.length)
      Orc.parseTail(java.util.Arrays.copyOf(b, cut)) // must not throw
    // every prefix of the whole file, strided: no strict prefix holds
    // a tail
    for (cut <- CutSweep.cuts(b.length))
      assert(Orc.parseTail(java.util.Arrays.copyOf(b, cut)).isEmpty,
        s"cut $cut")
    assert(Orc.parseTail(java.util.Arrays.copyOf(b, 2)).isEmpty)
    assert(Orc.parseTail(Array.emptyByteArray).isEmpty)
    // every single-byte flip in the tail region: None or well-formed
    for (i <- (b.length - 300) until b.length) {
      val bad = b.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      Orc.parseTail(bad)
    }
    // forged postscript length: every possible value of the last byte
    for (v <- 0 to 255) {
      val bad = b.clone(); bad(b.length - 1) = v.toByte
      Orc.parseTail(bad)
    }
    // bad magic up front
    val m = b.clone(); m(0) = 'X'
    assert(Orc.parseTail(m).isEmpty)
  }

  test("OrcWrite: engine-written ORC reads back through orc-core " +
    "(spark.read.orc) and the engine's own tail walk — extreme " +
    "values, multi-run stripes, multi-column") {
    val rows = (Seq(Array(Long.MinValue, Long.MaxValue),
      Array(-1L, 0L)) ++
      (0L until 2000L).map(i => Array(i, i * 13 % 997))).toSeq
    val b = graft.sources.OrcWrite.writeLongs(Seq("rec_id", "val"), rows)
    val t = Orc.parseTail(b).getOrElse(fail("own tail"))
    assert(t.numRows == rows.length && t.typeKinds == Seq(12, 4, 4))
    val r = Orc.stripeColumnLongs(b, t, t.stripes.head, 1)
      .getOrElse(fail("own read a"))
    val v = Orc.stripeColumnLongs(b, t, t.stripes.head, 2)
      .getOrElse(fail("own read b"))
    assert(r.toSeq == rows.map(_(0)) && v.toSeq == rows.map(_(1)))
    val dir = TempDirs.create("orcw").toFile
    val p = new java.io.File(dir, "own.orc")
    java.nio.file.Files.write(p.toPath, b)
    val got = spark.read.orc(p.getAbsolutePath)
      .selectExpr("count(*)", "sum(rec_id)", "sum(val)", "min(rec_id)",
        "max(val)").collect()(0)
    assert(got.getLong(0) == rows.length)
    assert(got.getLong(1) == rows.map(_(0)).sum)
    assert(got.getLong(2) == rows.map(_(1)).sum)
    assert(got.getLong(3) == Long.MinValue &&
      got.getLong(4) == Long.MaxValue)
    // and the SNAPPY-chunked form (engine-owned compressor + ORC
    // chunk framing) reads back identically, smaller on the wire
    val bz = graft.sources.OrcWrite.writeLongs(Seq("rec_id", "val"),
      rows, compression = 2)
    assert(bz.length < b.length)
    val pz = new java.io.File(dir, "own_snappy.orc")
    java.nio.file.Files.write(pz.toPath, bz)
    val gotZ = spark.read.orc(pz.getAbsolutePath)
      .selectExpr("count(*)", "sum(rec_id)", "sum(val)").collect()(0)
    assert(gotZ.getLong(0) == rows.length &&
      gotZ.getLong(1) == rows.map(_(0)).sum &&
      gotZ.getLong(2) == rows.map(_(1)).sum)
    pz.delete()
    p.delete(); dir.delete()
  }

  test("writeLongsStripes + split rule (q385): stripes tile exactly " +
    "once over ANY byte partition, per-stripe reads reconcile, and " +
    "orc-core reads the multi-stripe file") {
    val W = graft.sources.OrcWrite
    val rows = (0L until 1000L).map(i => Array(i, i * 7 % 601))
    val b = W.writeLongsStripes(Seq("rec_id", "val"), rows, 128)
    val t = Orc.parseTail(b).getOrElse(fail("tail"))
    assert(t.stripes.length == 8 && t.numRows == 1000L)
    // own per-stripe reads reconcile to the full data
    val all = t.stripes.flatMap { s =>
      val rs = Orc.stripeColumnLongs(b, t, s, 1).get
      val vs = Orc.stripeColumnLongs(b, t, s, 2).get
      rs.zip(vs)
    }
    assert(all.toSeq == rows.map(r => (r(0), r(1))))
    // split law: arbitrary byte partitions claim each stripe once
    Seq(2, 3, 5, 11).foreach { n =>
      val len = b.length.toLong
      val cuts = (0 to n).map(k => len * k / n)
      val claimed = cuts.sliding(2).toSeq.flatMap { case Seq(x, y) =>
        W.stripesForSplit(t, x, y)
      }
      assert(claimed.sorted == t.stripes.indices.toSeq,
        s"$n-way partition must tile stripes exactly once")
    }
    assert(W.stripesForSplit(t, b.length.toLong, b.length + 9L)
      .isEmpty)
    // orc-core cross-read
    val dir = TempDirs.create("orcms").toFile
    val p = new java.io.File(dir, "ms.orc")
    java.nio.file.Files.write(p.toPath, b)
    val got = spark.read.orc(p.getAbsolutePath)
      .selectExpr("count(*)", "sum(rec_id)", "sum(val)").collect()(0)
    assert(got.getLong(0) == 1000L)
    assert(got.getLong(1) == rows.map(_(0)).sum)
    assert(got.getLong(2) == rows.map(_(1)).sum)
    p.delete(); dir.delete()
  }

  test("OrcWrite.writeTable: strings + doubles + PRESENT streams read " +
    "back through orc-core (spark.read.orc) and the engine's own " +
    "nullable decoders") {
    val W = graft.sources.OrcWrite
    val n = 1500
    val ids = (0 until n).map(i =>
      if (i % 97 == 0) None else Some(i.toLong * 3 - 1000))
    val txts = (0 until n).map(i => Some(s"s-$i-" + ("y" * (i % 13))))
    val langs = (0 until n).map(i =>
      if (i % 7 == 0) None else Some(Seq("en", "es", "fr")(i % 3)))
    val ratios = (0 until n).map(i => (i % 40).toDouble / 4.0)
    val cols = Seq(
      W.OLongCol("rec_id", ids),
      W.OStringCol("txt", txts),
      W.OStringCol("lang", langs),
      W.ODoubleCol("ratio", ratios))
    for (comp <- Seq(0, 2)) {
      val b = W.writeTable(cols, compression = comp)
      val t = Orc.parseTail(b).getOrElse(fail(s"own tail comp=$comp"))
      assert(t.numRows == n && t.typeKinds == Seq(12, 4, 7, 7, 6))
      assert(t.fieldNames == Seq("rec_id", "txt", "lang", "ratio"))
      val st = t.stripes.head
      val (v1, l1) = Orc.stripeColumnLongsOpt(b, t, st, 1)
        .getOrElse(fail("longsOpt"))
      assert(v1.toSeq == ids.map(_.isDefined))
      assert(v1.zip(l1).collect { case (true, x) => x }.toSeq ==
        ids.flatten)
      // an all-present string column still decodes via the strict path
      val t2 = Orc.stripeColumnStrings(b, t, st, 2)
        .getOrElse(fail("strings"))
      assert(t2.toSeq == txts.map(_.get))
      val (v3, s3) = Orc.stripeColumnStringsOpt(b, t, st, 3)
        .getOrElse(fail("stringsOpt"))
      assert(v3.toSeq == langs.map(_.isDefined))
      assert(v3.zip(s3).collect { case (true, x) => x }.toSeq ==
        langs.flatten)
      val d4 = Orc.stripeColumnDoubles(b, t, st, 4)
        .getOrElse(fail("doubles"))
      assert(d4.toSeq == ratios)
      // orc-core (Spark) as the independent reader
      val dir = TempDirs.create("orcwt").toFile
      val p = new java.io.File(dir, "own.orc")
      java.nio.file.Files.write(p.toPath, b)
      val got = spark.read.orc(p.getAbsolutePath)
        .selectExpr("count(*)", "count(rec_id)", "sum(rec_id)",
          "sum(length(txt))", "count(lang)", "count(distinct lang)",
          "sum(ratio)").collect()(0)
      assert(got.getLong(0) == n)
      assert(got.getLong(1) == ids.count(_.isDefined))
      assert(got.getLong(2) == ids.flatten.sum)
      assert(got.getLong(3) == txts.map(_.get.length.toLong).sum)
      assert(got.getLong(4) == langs.count(_.isDefined))
      assert(got.getLong(5) == 3L)
      assert(got.getDouble(6) == ratios.sum)
      p.delete(); dir.delete()
    }
  }

  test("OrcWrite DICTIONARY_V2: engine-written dict string columns " +
    "(sorted dict, index DATA, dictionarySize) read back through " +
    "orc-core and both own decode paths; dict beats DIRECT on " +
    "repetitive values") {
    val W = graft.sources.OrcWrite
    val n = 2000
    val cats = (0 until n).map(i => Some(s"cat-${i % 7}"))
    val langs = (0 until n).map(i =>
      if (i % 5 == 0) None else Some(Seq("en", "es", "fr")(i % 3)))
    val cols = Seq(
      W.OLongCol("rec_id", (0 until n).map(i => Some(i.toLong))),
      W.ODictStringCol("cat", cats),
      W.ODictStringCol("lang", langs))
    for (comp <- Seq(0, 2)) {
      val b = W.writeTable(cols, compression = comp)
      val t = Orc.parseTail(b).getOrElse(fail(s"tail comp=$comp"))
      assert(t.typeKinds == Seq(12, 4, 7, 7))
      val st = t.stripes.head
      val sf = Orc.parseStripeFooter(b, t, st).getOrElse(fail("sf"))
      assert(sf.encodings(2) == (3, 7), "cat must be DICTIONARY_V2")
      assert(sf.encodings(3) == (3, 3), "lang must be DICTIONARY_V2")
      val c2 = Orc.stripeColumnStrings(b, t, st, 2)
        .getOrElse(fail("cat"))
      assert(c2.toSeq == cats.map(_.get))
      val (v3, s3) = Orc.stripeColumnStringsOpt(b, t, st, 3)
        .getOrElse(fail("lang"))
      assert(v3.toSeq == langs.map(_.isDefined))
      assert(v3.zip(s3).collect { case (true, x) => x }.toSeq ==
        langs.flatten)
      // orc-core as the independent reader
      val dir = TempDirs.create("orcdict").toFile
      val p = new java.io.File(dir, "own.orc")
      java.nio.file.Files.write(p.toPath, b)
      val got = spark.read.orc(p.getAbsolutePath)
        .selectExpr("count(*)", "count(distinct cat)", "count(lang)",
          "count(distinct lang)").collect()(0)
      assert(got.getLong(0) == n && got.getLong(1) == 7L)
      assert(got.getLong(2) == langs.count(_.isDefined) &&
        got.getLong(3) == 3L)
      p.delete(); dir.delete()
    }
    // size law: dict must genuinely beat DIRECT_V2 on this data
    val direct = W.writeTable(Seq(
      W.OLongCol("rec_id", (0 until n).map(i => Some(i.toLong))),
      W.OStringCol("cat", cats),
      W.OStringCol("lang", langs)))
    assert(W.writeTable(cols).length < direct.length)
  }

  test("OrcWrite row indexes + blooms: the engine's own q300 skip " +
    "stack consumes own-written index streams, and orc-core still " +
    "reads the file") {
    val W = graft.sources.OrcWrite
    val n = 1500
    val stride = 100
    // include 0 so the wangMix(0) -> bit 0 quirk is exercised on the
    // WRITE side too (a writer that hashes 0 differently loses it)
    val keys = (0 until n).map(i => i.toLong * 3)
    val vals = (0 until n).map(i =>
      if (i % 11 == 3) None else Some((i.toLong * 7) % 1000))
    val tags = (0 until n).map(i => Some("t" + (i % 13)))
    val b = W.writeTable(Seq(
      W.OLongCol("rec_id", keys.map(Some(_))),
      W.OLongCol("val", vals),
      W.OStringCol("tag", tags)),
      rowIndexStride = stride, bloomCols = Set(0, 2))
    val t = Orc.parseTail(b).getOrElse(fail("own tail"))
    assert(t.rowIndexStride == stride)
    // metadata section: one StripeStatistics, typed bounds on col 1
    assert(t.stripeStats.length == t.stripes.length)
    val ss1 = t.stripeStats.head(1)
    assert(ss1.intMin.contains(keys.min) && ss1.intMax.contains(keys.max))
    // file-footer stats went typed too
    assert(t.stats(1).intMin.contains(keys.min))
    assert(t.stats(2).hasNull)
    val st = t.stripes.head
    assert(st.indexLength > 0)
    val nGroups = (n + stride - 1) / stride
    // row-group stats: per-group bounds and null counts are exact
    val rg1 = Orc.stripeRowGroupStats(b, t, st, 1)
      .getOrElse(fail("rg col1"))
    assert(rg1.length == nGroups)
    for (g <- 0 until nGroups) {
      val sl = keys.slice(g * stride, math.min(n, (g + 1) * stride))
      assert(rg1(g).intMin.contains(sl.min))
      assert(rg1(g).intMax.contains(sl.max))
      assert(rg1(g).numValues == sl.length.toLong)
    }
    val rg2 = Orc.stripeRowGroupStats(b, t, st, 2)
      .getOrElse(fail("rg col2"))
    for (g <- 0 until nGroups) {
      val sl = vals.slice(g * stride, math.min(n, (g + 1) * stride))
      assert(rg2(g).numValues == sl.count(_.isDefined).toLong)
      assert(rg2(g).hasNull == sl.exists(_.isEmpty))
      assert(rg2(g).intMin == sl.flatten.minOption)
    }
    // blooms: no false negatives on LONG or STRING keys; the probe
    // key set of another group prunes (statistically — check > 0
    // misses, the filter cannot be all-ones)
    val bl1 = Orc.stripeBlooms(b, t, st, 1).getOrElse(fail("bloom 1"))
    assert(bl1.length == nGroups)
    for (g <- 0 until nGroups;
         k <- keys.slice(g * stride, math.min(n, (g + 1) * stride)))
      assert(bl1(g).testLong(k), s"false negative g=$g k=$k")
    val missed = keys.slice(stride, 2 * stride)
      .count(k => !bl1(0).testLong(k))
    assert(missed > 0, "group-0 bloom passed every group-1 key")
    val bl3 = Orc.stripeBlooms(b, t, st, 3).getOrElse(fail("bloom 3"))
    for (g <- 0 until nGroups;
         s0 <- tags.slice(g * stride, math.min(n, (g + 1) * stride)))
      assert(bl3(g).testString(s0.get))
    assert(!bl3(0).testString("absent-tag-xyz"))
    // orc-core (Spark) still reads the indexed file
    val dir = TempDirs.create("orcidx").toFile
    val p = new java.io.File(dir, "own.orc")
    java.nio.file.Files.write(p.toPath, b)
    val got = spark.read.orc(p.getAbsolutePath)
      .selectExpr("count(*)", "sum(rec_id)", "count(val)", "sum(val)",
        "count(distinct tag)").collect()(0)
    assert(got.getLong(0) == n && got.getLong(1) == keys.sum)
    assert(got.getLong(2) == vals.count(_.isDefined))
    assert(got.getLong(3) == vals.flatten.sum)
    assert(got.getLong(4) == 13L)
    p.delete(); dir.delete()
  }
  test("OrcWrite TIMESTAMP + DECIMAL: orc-core (spark.read.orc) " +
    "cross-reads own files — pre-epoch instants, negative amounts, " +
    "rescale to the declared (18,2); own decoders byte-exact") {
    val W = graft.sources.OrcWrite
    val O = graft.sources.Orc
    val n = 300
    val Epoch2015Us = 1420070400000000L
    val micros = (0 until n).map { i =>
      if (i % 9 == 0) Epoch2015Us - i.toLong * 1000000L - 500000L
      else 1700000000000000L + i.toLong * 1000000L + (i % 1000) * 1000L
    }
    val amounts = (0 until n).map(i => (i.toLong * 37) % 100000L - 5000L)
    for (comp <- Seq(0, 2)) {
      val b = W.writeTable(Seq(
        W.OLongCol("id", (0 until n).map(i => Some(i.toLong))),
        W.OTimestampCol("ts", micros),
        W.ODecimalCol("amount", amounts, scale = 2)),
        compression = comp)
      // own decoders, byte-exact
      val t = O.parseTail(b).getOrElse(fail(s"tail comp=$comp"))
      assert(t.typeKinds == Seq(12, 4, 9, 14))
      val st = t.stripes.head
      assert(O.stripeColumnTimestampMicros(b, t, st, 2)
        .exists(_.toSeq == micros), s"own ts comp=$comp")
      val (uns, scs) = O.stripeColumnDecimals(b, t, st, 3)
        .getOrElse(fail(s"own dec comp=$comp"))
      assert(uns.toSeq == amounts && scs.forall(_ == 2L))
      // orc-core as the independent reader
      val dir = TempDirs.create("orctd").toFile
      val p = new java.io.File(dir, "own.orc")
      java.nio.file.Files.write(p.toPath, b)
      val got = spark.read.orc(p.getAbsolutePath)
        .selectExpr("count(*)", "sum(unix_micros(ts))",
          "sum(amount)", "min(amount)").collect()(0)
      assert(got.getLong(0) == n.toLong)
      assert(got.getLong(1) == micros.sum, s"orc-core ts comp=$comp")
      val wantSum = new java.math.BigDecimal(
        java.math.BigInteger.valueOf(amounts.sum), 2)
      assert(got.getDecimal(2).compareTo(wantSum) == 0,
        s"orc-core amount comp=$comp")
      assert(got.getDecimal(3).compareTo(new java.math.BigDecimal(
        java.math.BigInteger.valueOf(amounts.min), 2)) == 0)
      p.delete(); dir.delete()
    }
    // damage: flips over the timestamp/decimal file never throw
    val b0 = W.writeTable(Seq(
      W.OTimestampCol("ts", micros.take(50)),
      W.ODecimalCol("amount", amounts.take(50), scale = 2)))
    for (i <- b0.indices by 7) {
      val bad = b0.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      O.parseTail(bad).foreach { t2 =>
        t2.stripes.headOption.foreach { st2 =>
          O.stripeColumnTimestampMicros(bad, t2, st2, 1)
          O.stripeColumnDecimals(bad, t2, st2, 2)
        }
      }
    }
  }
}

