package graft

import graft.sources.{XlsxSource, XlsxWriter}
import org.apache.spark.graft.TempDirs
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Generator-driven law tests (SURVEY.md §5 test plan item 4): round-trip
  * and totality laws for the forgiving parsers, adversarial xlsx
  * round-trips, forward-fill invariants. Inputs are ScalaCheck generators
  * sampled with a FIXED seed, evaluated in one DataFrame pass per law.
  */
class LawsSpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): List[A] = {
    val params = Gen.Parameters.default
    Iterator.from(0)
      .map(i => g.apply(params, Seed(0xC0FFEE + i)))
      .collect { case Some(a) => a }
      .take(n).toList
  }

  test("law: clean_money matches an independent reference parser") {
    val moneyGen: Gen[String] = for {
      sign <- Gen.oneOf("", "-", "+", "- ", "+ ")
      dollar <- Gen.oneOf("", "$")
      whole <- Gen.choose(0L, 99999999L)
      frac <- Gen.choose(0, 99)
      commas <- Gen.oneOf(true, false)
    } yield {
      val w = if (commas) f"$whole%,d" else whole.toString
      f"$sign$dollar$w.$frac%02d"
    }
    val cases = sample(moneyGen, 500)
    // independent model of pdf_to_xlsx.py:94-101
    def model(s: String): Double = {
      val v = s.replace("+", "").replace(" ", "").replace("$", "")
        .replace(",", "").toDouble
      if (s.contains("-")) -math.abs(v) else v
    }
    val df = cases.toDF("s")
      .select($"s", graft.functions.clean_money($"s").as("got"))
      .collect()
    df.foreach { r =>
      assert(r.getDouble(1) == model(r.getString(0)), r.getString(0))
    }
  }

  test("law: safe_float is total — null or a finite double, never a throw") {
    val junkGen = Gen.oneOf(
      Gen.alphaNumStr, Gen.asciiPrintableStr,
      Gen.oneOf("", "none", "NaN", "None", "1,5", "1.5", "-3,25", "  7 ",
        "1e3", "..", "--5", "∞"),
      Gen.choose(-1e12, 1e12).map(_.toString))
    val cases = sample(junkGen, 800)
    val out = cases.toDF("s")
      .select($"s", graft.functions.safe_float($"s").as("v")).collect()
    out.foreach { r =>
      if (!r.isNullAt(1))
        assert(java.lang.Double.isFinite(r.getDouble(1)), r.getString(0))
    }
    // sentinel law
    assert(out.filter(r => Set("", "none", "NaN", "None")(r.getString(0)))
      .forall(_.isNullAt(1)))
  }

  test("law: withGlobalRank ≡ window rank on arbitrary data, keys, layouts") {
    import graft.operators.Relational
    import org.apache.spark.sql.expressions.Window
    // duplicate sort-key values on purpose: the tie-break column (id)
    // must make ranks deterministic through BOTH spellings
    val rowGen = for {
      key <- Gen.choose(0L, 30L)
      payload <- Gen.choose(-1e6, 1e6)
    } yield (key, payload)
    for (seed <- 0 to 2) {
      val rows = sample(rowGen, 400).zipWithIndex
        .map { case ((k, p), i) => (i.toLong + seed * 1000, k, p) }
      val parts = Seq(1, 3, 13)(seed)
      val df = rows.toDF("id", "k", "p").repartition(parts)
      val order = Seq($"k".desc, $"id".asc)
      val spec = df.withColumn("r",
        row_number().over(Window.orderBy(order: _*)).cast("long"))
      val (two, n) = Relational.withGlobalRankN(df, order, "r")
      assert(n == rows.length.toLong)
      assert(spec.exceptAll(two).isEmpty && two.exceptAll(spec).isEmpty,
        s"seed=$seed parts=$parts")
    }
  }

  test("law: withStratumRankN ≡ per-stratum window rank + count, skewed strata") {
    import graft.operators.Relational
    import org.apache.spark.sql.expressions.Window
    // heavily skewed stratum distribution on purpose (the scale scenario
    // the operator exists for): stratum "en" takes ~70% of rows; ties in
    // the sort key are broken by id through both spellings
    val rowGen = for {
      stratum <- Gen.frequency((7, Gen.const("en")), (1, Gen.const("fr")),
        (1, Gen.const("de")), (1, Gen.const("es")))
      key <- Gen.choose(0L, 40L)
    } yield (stratum, key)
    for (seed <- 0 to 2) {
      val rows = sample(rowGen, 500).zipWithIndex
        .map { case ((st, k), i) => (i.toLong + seed * 1000, st, k) }
      val parts = Seq(1, 3, 13)(seed)
      val df = rows.toDF("id", "lang", "k").repartition(parts)
      val order = Seq($"k".desc, $"id".asc)
      val w = Window.partitionBy($"lang").orderBy(order: _*)
      val spec = df
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1))
          .over(Window.partitionBy($"lang")).cast("long"))
      val (two, counts) = Relational.withStratumRankCounts(df, Seq("lang"), order, "r", "n")
      assert(spec.exceptAll(two).isEmpty && two.exceptAll(spec).isEmpty,
        s"seed=$seed parts=$parts")
      // the counts returned beside the ranks are the per-stratum n
      assert(counts == rows.groupBy(_._2).map { case (st, rs) => Seq(st) -> rs.size.toLong },
        s"seed=$seed parts=$parts")
    }
    // empty input: no rows out, no throw
    val empty = Seq.empty[(Long, String)].toDF("id", "lang")
    assert(Relational.withStratumRankN(empty, Seq("lang"), Seq($"id"),
      "r", "n").count() == 0)
  }

  test("law: simHashNearDupPairs ≡ brute-force hamming join (pigeonhole " +
      "exactness)") {
    import graft.operators.Dedup
    // arbitrary 32-bit signatures, PLUS planted near-pairs at every
    // hamming distance 0..3 (random base, 0-3 random bit flips) — the
    // completeness cases a sparse random set alone would rarely hit
    val rnd = new scala.util.Random(0xBEEF)
    val base = Seq.fill(120)(rnd.nextLong() & 0xFFFFFFFFL)
    val planted = (0 to 3).flatMap { h =>
      Seq.fill(10) {
        val b = rnd.nextLong() & 0xFFFFFFFFL
        val flipped = (0 until h).foldLeft(b)((acc, _) =>
          acc ^ (1L << rnd.nextInt(32)))
        Seq(b, flipped)
      }.flatten
    }
    val sigs = (base ++ planted).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val df = sigs.toDF("id", "sig").repartition(9)
    val got = Dedup.simHashNearDupPairs(df, "id", "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      (sa, a) <- sigs.map(x => (x._2, x._1))
      (sb, b) <- sigs.map(x => (x._2, x._1)) if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("law: set-based span counting ≡ sequential run-length scan") {
    // the q162 claim: span starts (mask(p) AND NOT mask(p-1)) counted
    // set-based equal the runs a sequential scan finds — on arbitrary
    // bitmasks, including all-masked, none-masked, and boundary runs
    val maskGen = Gen.listOfN(40, Gen.oneOf(true, false))
    val masks = sample(maskGen, 60) ++ Seq(
      List.fill(5)(true), List.fill(5)(false), List(true),
      List(false, true), List(true, false))
    val rows = masks.zipWithIndex.flatMap { case (m, doc) =>
      m.zipWithIndex.map { case (b, i) => (doc.toLong, (i + 1).toLong, b) }
    }
    val df = rows.toDF("doc_id", "p", "mk").repartition(7)
    // recompute the predecessor's mask by self-derivation, as q162
    // does (here via a join on (doc, p-1), same semantics)
    val prev = df.select($"doc_id", ($"p" + 1).as("p"), $"mk".as("mkprev"))
    val got = df.join(prev, Seq("doc_id", "p"), "left")
      .select($"doc_id", $"mk",
        ($"mk" && !coalesce($"mkprev", lit(false))).as("st"))
      .groupBy($"doc_id")
      .agg(sum($"mk".cast("long")).as("n_masked"),
        sum($"st".cast("long")).as("n_spans"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    masks.zipWithIndex.foreach { case (m, doc) =>
      val nMasked = m.count(identity).toLong
      // sequential reference: count maximal true-runs
      val nSpans = m.zip(false +: m.init).count { case (c, p) => c && !p }
        .toLong
      assert(got(doc.toLong) == ((nMasked, nSpans)), s"doc $doc: $m")
    }
  }

  test("law: stratum nearest-rank quartiles ≡ driver-side sorted reference") {
    import graft.operators.Relational
    // the q158 pick: nearest-rank targets in pure integer arithmetic
    // over withStratumRankN's (rank, n); reference sorts per stratum on
    // the driver and indexes ceil(q·n) directly — duplicates included
    // so value ties cross the quartile boundaries
    val rowGen = for {
      stratum <- Gen.frequency((7, Gen.const("en")), (2, Gen.const("fr")),
        (1, Gen.const("de")))
      v <- Gen.choose(0L, 60L)
    } yield (stratum, v)
    for (seed <- 0 to 1) {
      val rows = sample(rowGen, 300 + seed * 77).zipWithIndex
        .map { case ((st, v), i) => (i.toLong, st, v) }
      val df = rows.toDF("id", "lang", "v").repartition(5 + seed * 6)
      val ranked = Relational.withStratumRankN(df, Seq("lang"),
        Seq($"v", $"id"), "r", "n")
      val got = ranked.groupBy($"lang")
        .agg(
          max(when($"r" === expr("(n + 3) DIV 4"), $"v")).as("p25"),
          max(when($"r" === expr("(n + 1) DIV 2"), $"v")).as("p50"),
          max(when($"r" === expr("(3 * n + 3) DIV 4"), $"v")).as("p75"))
        .collect()
        .map(x => x.getString(0) ->
          ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
      val ref = rows.groupBy(_._2).map { case (st, rs) =>
        val sorted = rs.sortBy(x => (x._3, x._1)).map(_._3)
        val n = sorted.size
        st -> ((sorted((n + 3) / 4 - 1), sorted((n + 1) / 2 - 1),
          sorted((3 * n + 3) / 4 - 1)))
      }
      assert(got == ref, s"seed=$seed")
    }
  }

  test("law: withStratumPrefixSum ≡ per-stratum running-sum window, skewed strata") {
    import graft.operators.Relational
    import org.apache.spark.sql.expressions.Window
    val rowGen = for {
      stratum <- Gen.frequency((7, Gen.const("en")), (2, Gen.const("fr")),
        (1, Gen.const("de")))
      v <- Gen.choose(1L, 50L)
    } yield (stratum, v)
    for (seed <- 0 to 2) {
      val rows = sample(rowGen, 500).zipWithIndex
        .map { case ((st, v), i) => (i.toLong + seed * 1000, st, v) }
      val parts = Seq(1, 3, 13)(seed)
      val df = rows.toDF("id", "lang", "v").repartition(parts)
      val w = Window.partitionBy($"lang").orderBy($"id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val spec = df.withColumn("cum", sum($"v").over(w))
      val two = Relational.withStratumPrefixSum(df, Seq("lang"),
        Seq($"id"), $"v", "cum")
      assert(spec.exceptAll(two).isEmpty && two.exceptAll(spec).isEmpty,
        s"seed=$seed parts=$parts")
    }
  }

  test("law: xlsx write→read round-trips arbitrary strings") {
    val nastyGen = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.take(50)),
      Gen.oneOf("<tag>&amp;", "a\"b'c", "línea\ncon\nsaltos", "tab\there",
        "]]><!--", "  leading/trailing  ", "ñu 😀 çß", "=1+2", "<v>7</v>"))
    val rows = sample(nastyGen, 60).distinct
      .filter(s => s.trim.nonEmpty) // blank headers/cells read back as null
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val out = TempDirs.create("xlsxlaw").toString
    XlsxWriter.write(s"$out/law.xlsx", Seq("s" -> rows.toDF("id", "payload")))
    val back = XlsxSource.read(spark, s"$out/law.xlsx", "s")
      .orderBy(col("_rownum"))
      .select(col("payload")).as[String].collect()
    // newlines and tabs survive escaping; CR is normalized by XML parsing
    val expected = rows.map(_._2.replace("\r", ""))
    assert(back.toSeq == expected)
  }

  test("law: forward-fill never un-fills and preserves non-null cells") {
    val valuesGen = Gen.listOfN(40,
      Gen.option(Gen.choose(0, 9).map(_.toString)))
    val vals = sample(valuesGen, 1).head.zipWithIndex
      .map { case (v, i) => (1, i.toLong, v.orNull) }
    val df = vals.toDF("part", "ord", "v")
    val ff = graft.operators.Relational
      .forwardFill(df, $"v", Seq($"part"), Seq($"ord"), "f")
      .orderBy($"ord").select("v", "f").collect()
    var lastSeen: String = null
    ff.foreach { r =>
      val v = r.getString(0)
      if (v != null) lastSeen = v
      assert(r.getString(1) == lastSeen) // fill = running last non-null
    }
  }

  test("law: dupClusters matches an independent union-find on random graphs") {
    val edgeGen: Gen[(Long, Long)] = for {
      a <- Gen.choose(0L, 40L)
      b <- Gen.choose(0L, 40L) if a != b
    } yield (a, b)
    val edges = sample(edgeGen, 60).distinct
    // independent reference: classic union-find over the same pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> {
      // representative = min member of the component
      val r = find(x)
      parent.keys.filter(find(_) == r).min
    }).toMap
    val got = graft.operators.Dedup
      .dupClusters(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("law: substringDupStats ≡ brute-force covered-index union on random corpora") {
    import graft.operators.Dedup
    // random small-vocab corpora force heavy cross-doc window collisions,
    // exercising span coalescing at every gap size around w
    val w = 3
    val docGen: Gen[(Long, String)] = for {
      id <- Gen.choose(0L, 23L)
      len <- Gen.choose(1, 14)
      toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "c"))
    } yield (id, toks.mkString(" "))
    val docs = sample(docGen, 40).distinctBy(_._1)
    // independent reference: materialize every covered token index
    val wins = docs.flatMap { case (id, text) =>
      val t = text.split(" ", -1)
      (0 to t.length - w).map(i => (id, i, t.slice(i, i + w).mkString(" ")))
    }
    val dupGrams = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val covered = wins.filter(p => dupGrams(p._3))
      .flatMap { case (id, p, _) => (p until p + w).map(id -> _) }.toSet
    val want = docs.map { case (id, text) =>
      val idx = covered.collect { case (`id`, i) => i }
      val spans = idx.toSeq.sorted.foldLeft(0) { (acc, i) =>
        if (idx(i - 1)) acc else acc + 1 }
      id -> ((text.split(" ", -1).length.toLong, idx.size.toLong,
        spans.toLong))
    }.toMap
    val got = Dedup
      .substringDupStats(docs.toDF("doc_id", "text"), $"text", $"doc_id", w)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
  }

  test("law: aggState fold ≡ one-shot for random rows, batches, fold order") {
    import graft.operators.Relational
    val rowGen = for {
      k <- Gen.choose(0L, 20L)
      v <- Gen.choose(-100000L, 100000L)
      batch <- Gen.choose(0, 4)
    } yield (k, v, batch)
    val rows = sample(rowGen, 500)
    val all = rows.map { case (k, v, _) => (k, v) }.toDF("k", "v")
    val oneShot = Relational.aggState(all, Seq("k"), "v")
    // batches are uneven (some possibly empty) and folded in a rotated order
    val states = (0 to 4).map { b =>
      Relational.aggState(
        rows.collect { case (k, v, `b`) => (k, v) }.toDF("k", "v"),
        Seq("k"), "v")
    }
    val folded = (states.drop(2) ++ states.take(2))
      .reduce(Relational.mergeAggState(_, _, Seq("k")))
    assert(oneShot.exceptAll(folded).isEmpty && folded.exceptAll(oneShot).isEmpty)
  }

  test("law: hash split is total, deterministic, and roughly 10/20/70") {
    val ids = (0L until 2000L).toDF("doc_id")
    def split(df: org.apache.spark.sql.DataFrame) = {
      val h = substring(md5($"doc_id".cast("string")), 1, 2)
      df.select($"doc_id",
        when(h < "1a", "test").when(h < "33", "val").otherwise("train").as("s"))
    }
    val a = split(ids).as[(Long, String)].collect().toMap
    val b = split(ids).as[(Long, String)].collect().toMap
    assert(a == b && a.size == 2000) // total + deterministic
    val frac = a.values.groupBy(identity).view.mapValues(_.size / 2000.0)
    assert(math.abs(frac("test") - 26.0 / 256) < 0.03)
    assert(math.abs(frac("val") - 25.0 / 256) < 0.03)
    assert(frac("train") > 0.7)
  }

  test("law: tokenBudget output is exactly the maximal best-first prefix") {
    import graft.operators.Curation
    val rowGen = for {
      bucket <- Gen.oneOf("a", "b", "c")
      score <- Gen.choose(0, 50)
      tokens <- Gen.choose(1L, 40L)
    } yield (bucket, score, tokens)
    val rows = sample(rowGen, 400).zipWithIndex
      .map { case ((b, s, t), i) => (b, i.toLong, s, t) }
    val budget = 150L
    val got = Curation.tokenBudget(
        rows.toDF("bucket", "id", "score", "tokens"),
        "bucket", $"score", $"id", $"tokens", budget)
      .select($"bucket", $"id", $"cum_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // independent model: sort each bucket (score desc, id), walk the
    // prefix while the running total fits
    val want = rows.groupBy(_._1).toSeq.flatMap { case (b, rs) =>
      var cum = 0L
      rs.sortBy { case (_, id, s, _) => (-s, id) }
        .iterator.takeWhile { case (_, _, _, t) => { cum += t; cum <= budget } }
        .map { case (_, id, _, _) => (b, id) }
    }.toSet
    assert(got == want && got.nonEmpty)
  }

  test("law: TopKPerKey ≡ window form on random data with nulls and ties") {
    import graft.operators.Relational
    val rowGen = for {
      key <- Gen.choose(0, 15)
      score <- Gen.option(Gen.choose(0, 9))
    } yield (key, score)
    val rows = sample(rowGen, 600).zipWithIndex
      .map { case ((k, s), i) => (k.toLong, s.map(_.toDouble), i.toLong) }
    val df = rows.toDF("k", "score", "id")
    Seq(1, 3, 7).foreach { k =>
      val ord = Seq($"score".desc_nulls_last, $"id")
      val custom = Relational.topKPerKey(df, Seq($"k"), ord, k)
        .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2))).toSet
      val window = Relational.topKPerKeyComposed(df, Seq($"k"), ord, k)
        .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2))).toSet
      assert(custom == window, s"k=$k")
    }
  }

  test("law: passageDupes output is consistent with its own invariants") {
    import graft.operators.Curation
    val textGen = Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))
    val docs = sample(textGen, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val out = Curation.passageDupes(docs.toDF("id", "text"), $"text", $"id",
        width = 4, stride = 2, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // every passage: n_occurrences ≥ n_docs ≥ 2, width tokens, and the
    // first_doc really contains it at some stride offset
    val byDoc = docs.toMap
    out.foreach { case (p, occ, nd, first) =>
      assert(occ >= nd && nd >= 2 && p.split(" ").length == 4)
      val toks = byDoc(first).split(" ")
      val found = (0 to (toks.length - 4) / 2)
        .exists(i => toks.slice(i * 2, i * 2 + 4).mkString(" ") == p)
      assert(found, s"first_doc $first does not contain '$p'")
    }
  }

  test("law: ExactAgg.sumExact equals an exact-cents reference, any partitioning") {
    import graft.queries.ExactAgg
    // money-like values: exact 2-decimal decimals stored as doubles
    val centsGen = Gen.choose(-50000000L, 50000000L)
    val rows = sample(Gen.zip(Gen.choose(0, 6), centsGen), 4000)
      .map { case (k, c) => (k.toLong, c, c / 100.0) }
    val df = rows.toDF("k", "cents", "v")
    val expected = rows.groupBy(_._1).view.mapValues { rs =>
      val total = rs.map(_._2).sum // exact integer cents
      BigDecimal(total) / 100 }.toMap
    Seq(1, 7, 32).foreach { parts =>
      val got = df.repartition(parts).groupBy($"k")
        .agg(ExactAgg.sumExact($"v", 2).as("s"))
        .as[(Long, Double)].collect().toMap
      expected.foreach { case (k, e) =>
        assert(BigDecimal(got(k)) == e,
          s"k=$k parts=$parts: ${got(k)} != $e")
      }
    }
  }

  test("law: every byte-walk parser is total on arbitrary bytes") {
    // the walks (JPEG segment chain, MP4 box stride, WARC length stride,
    // PNG/GIF/BMP/WAV fixed headers) stride by lengths READ FROM the
    // input — the classic non-termination / OOB risk class. Law: on ANY
    // byte array they terminate and return (no throw, no hang). Mix
    // pure-random bytes with adversarial prefixes (valid magics followed
    // by garbage, zero/huge length fields) that random bytes would
    // almost never hit.
    import graft.operators.Multimodal
    val magics = List[Array[Byte]](
      Array(0xFF, 0xD8, 0xFF).map(_.toByte),                    // JPEG SOI
      Array(0xFF, 0xD8, 0xFF, 0xFE, 0x00, 0x00).map(_.toByte),  // COM len=0
      Array(0xFF, 0xD8, 0xFF, 0xE0, 0xFF, 0xFF).map(_.toByte),  // APP0 len=65535
      Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte), // PNG sig, no IHDR
      "GIF89a".getBytes("US-ASCII"), "BM".getBytes("US-ASCII"),
      "RIFFxxxxWAVEfmt ".getBytes("US-ASCII"),
      Array[Byte](0, 0, 0, 0) ++ "ftyp".getBytes("US-ASCII"),   // size=0 box
      Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes("US-ASCII") ++
        Array[Byte](0, 0, 0, 8) ++ "moov".getBytes("US-ASCII"), // empty moov
      "II".getBytes("US-ASCII") ++ Array[Byte](42, 0, -1, -1, -1, -1), // IFD off 4G
      "MM".getBytes("US-ASCII") ++ Array[Byte](0, 42, 0, 0, 0, 8, -1, -1), // count 65535
      "WARC/1.0\r\nContent-Length: 999999999\r\n\r\n".getBytes("US-ASCII"),
      Array(0xFF, 0xFB, 0x00, 0x00).map(_.toByte),  // MP3 sync, free bitrate
      Array(0xFF, 0xFB, 0xF0, 0x00).map(_.toByte),  // MP3 invalid bitrate idx
      Array(0x1F, 0x8B, 0x08, 0x00).map(_.toByte),  // gzip magic + junk
      "RIFFxxxxWEBPVP8L".getBytes("US-ASCII"),      // WebP lossless, cut
      "WARC/1.0\r\nContent-Length: -5\r\n\r\nWARC/1.0".getBytes("US-ASCII"))
    val bytesGen: Gen[Array[Byte]] = for {
      prefix <- Gen.oneOf(Gen.const(Array.emptyByteArray), Gen.oneOf(magics))
      n <- Gen.choose(0, 300)
      tail <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield prefix ++ tail.toArray
    sample(bytesGen, 500).zipWithIndex.foreach { case (b, i) =>
      val p = Multimodal.Payload(i.toLong, "x", b)
      // each must return, not throw — values are free to be stub/None/empty
      Multimodal.MediaCodec(p); Multimodal.JpegCodec(p); Multimodal.TiffCodec(p)
      Multimodal.WebPCodec(p)
      Multimodal.parseWav(i.toLong, b); Multimodal.parseMp4(i.toLong, b)
      Multimodal.parseMp3(i.toLong, b)
      Multimodal.parseBmpPixels(i.toLong, b); Multimodal.parseWavSamples(i.toLong, b)
      Multimodal.parsePngPixels(i.toLong, b); Multimodal.parseGifPixels(i.toLong, b)
      graft.sources.Warc.parse(i.toLong, b)
      graft.sources.Warc.parseAuto(i.toLong, b)
      graft.sources.Csv.parse(b)
      graft.sources.TextEncoding.decode(b)
      graft.sources.Orc.parseTail(b)
      graft.sources.Xz.parse(b)
      graft.sources.Xz.parseAll(b)
      graft.sources.Lzma2.decode(b, 0, math.min(b.length.toLong, 64L))
      graft.sources.Json.parse(new String(b,
        java.nio.charset.StandardCharsets.ISO_8859_1))
    }
  }
}
