package graft

import graft.sources.{XlsxParser, XlsxSource, XlsxWriter}
import org.apache.spark.graft.TempDirs
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Excel source/sink (SURVEY.md §2.1 S2/S3/S7) against the reference's own
  * fixture workbooks at /root/reference/data_test (read-only inputs).
  */
class XlsxSpec extends SparkSpec {

  private val fixtureDir = "/root/reference/data_test"

  test("DataSource V2 format(\"xlsx\") matches XlsxSource on the fixtures") {
    val v2 = spark.read.format("xlsx")
      .option("sheet", "Precios").option("hyperlinkColumns", "Preview")
      .load(fixtureDir)
    val v1 = graft.sources.XlsxSource.read(spark, fixtureDir, "Precios",
      hyperlinkCols = Seq("Preview"))
    assert(v2.columns.toSeq == v1.columns.toSeq)
    // normalize _file (binaryFile and hadoop listing render schemes
    // slightly differently), then exact multiset equality
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("_file", regexp_extract(col("_file"), "[^/]+$", 0))
    assert(norm(v2).exceptAll(norm(v1)).isEmpty &&
      norm(v1).exceptAll(norm(v2)).isEmpty)
    assert(v2.count() > 0)
  }

  test("DataSource V2 matches XlsxSource on the committed ingestion " +
    "workbooks, both sheets") {
    val dir = "fixtures/ingestion"
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("_file", regexp_extract(col("_file"), "[^/]+$", 0))
    Seq("Compras" -> Nil, "Precios" -> Seq("Preview")).foreach {
      case (sheet, links) =>
        val opts = Map("sheet" -> sheet) ++
          links.map(_ => "hyperlinkColumns" -> links.mkString(","))
        val v2 = spark.read.format("xlsx").options(opts).load(dir)
        val v1 = XlsxSource.read(spark, dir, sheet, hyperlinkCols = links)
        assert(v2.columns.toSeq == v1.columns.toSeq, sheet)
        assert(norm(v2).exceptAll(norm(v1)).isEmpty &&
          norm(v1).exceptAll(norm(v2)).isEmpty, sheet)
        assert(v1.count() > 0, sheet)
    }
  }

  test("DataSource V2 column pruning reaches the scan") {
    val pruned = spark.read.format("xlsx").option("sheet", "Compras")
      .load(fixtureDir).select("_rownum", "Descripción")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("XlsxScan") && plan.contains("cols=2"),
      s"scan did not prune to 2 columns:\n$plan")
  }
  private val p1 = s"$fixtureDir/030-Lovely_Toy_Invntry_SV25_p1.xlsx"

  test("colIndex/colRef round-trip") {
    assert(XlsxParser.colIndex("A1") == 0)
    assert(XlsxParser.colIndex("J2") == 9)
    assert(XlsxParser.colIndex("AA3") == 26)
    (0 until 100).foreach(i => assert(XlsxParser.colIndex(XlsxParser.colRef(i) + "1") == i))
  }

  test("sheet names and headers of the p1 fixture") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p1))
    assert(XlsxParser.sheetNames(bytes) == Seq("Compras", "Precios"))
    val compras = XlsxParser.parseSheet(bytes, "Compras")
    val hdr = XlsxSource.headerRow(compras).map(_._1)
    assert(hdr.take(3) == Seq("Descripción", "Cant", "Precio"))
    assert(hdr.contains("Fch Cmpr") && hdr.contains("Liga"))
  }

  test("Compras sheet: 25 data rows, serial dates render ISO, formulas cached") {
    val df = XlsxSource.read(spark, p1, "Compras", hyperlinkCols = Seq("Liga"))
    assert(df.count() == 25)
    val r1 = df.filter(col("_rownum") === 1).head()
    assert(r1.getAs[String]("Cant") == "1")
    assert(r1.getAs[String]("Precio") == "162.31")
    // J2 = serial 45369 with builtin date numFmt 14 → 2024-03-18
    assert(r1.getAs[String]("Fch Cmpr") == "2024-03-18")
    // formula cell G2 (=B2*F2) yields its cached value
    assert(r1.getAs[String]("Total Cmpr") == "95.9")
    // 21 of 25 rows carry a Liga hyperlink (rows 8-10 etc. missing → W1 fill)
    assert(df.filter(col("_hyperlink_Liga").isNotNull).count() == 21)
    // _rownum is the contiguous source order 1..25
    assert(df.select(sum("_rownum")).head().getLong(0) == 25L * 26 / 2)
  }

  test("Precios sheet: 24 data rows, Preview hyperlinks on every row") {
    val df = XlsxSource.read(spark, p1, "Precios", hyperlinkCols = Seq("Preview"))
    assert(df.count() == 24)
    assert(df.filter(col("_hyperlink_Preview").isNotNull).count() == 24)
    // t="str" formula strings surface as plain values
    val r1 = df.filter(col("_rownum") === 1).head()
    assert(r1.getAs[String]("Descripción").startsWith("Sanrio"))
  }

  test("all four fixture workbooks parse with consistent schema") {
    val df = XlsxSource.read(spark, fixtureDir, "Compras")
    // p1 has 25 data rows, p2 has 27 (BASELINE.md)
    val byFile = df.groupBy("_file").count().collect().map(_.getLong(1)).sorted
    assert(byFile.length >= 2 && byFile.forall(_ > 0))
  }

  test("the full historical corpus (data_processed) parses cleanly") {
    // 11 real workbooks that previously ran through the reference to
    // success — every one must yield both sheets with sane shapes
    val dir = "/root/reference/data_processed"
    val compras = XlsxSource.read(spark, dir, "Compras")
    val precios = XlsxSource.read(spark, dir, "Precios", hyperlinkCols = Seq("Preview"))
    val byFileC = compras.groupBy("_file").count().collect()
    val byFileP = precios.groupBy("_file").count().collect()
    assert(byFileC.length == 11 && byFileP.length == 11)
    // every file yields data rows (measured corpus range: 7-222/sheet)
    assert(byFileC.forall(_.getLong(1) > 0))
    assert(byFileP.forall(_.getLong(1) > 0))
    // and no phantom rows: every row carries at least one value
    val nonMeta = compras.columns.filterNot(_.startsWith("_"))
    val allNull = nonMeta.map(n => col(s"`$n`").isNull).reduce(_ && _)
    assert(compras.filter(allNull).count() == 0)
    assert(compras.filter(col("Descripción").isNotNull).count() > 0)
  }

  test("XlsxSource.read without headers reads them on the driver: no Spark job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(listener)
    val compras = try {
      val df = XlsxSource.read(spark, "fixtures/ingestion", "Compras")
      org.apache.spark.graft.ListenerDrain(sc)
      df
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} Spark jobs to find the header")
    assert(compras.columns.contains("Descripción"))
  }

  test("both xlsx sources take the first workbook's header in name order, and fail alike on none") {
    import spark.implicits._
    val dir = TempDirs.create("xlsxh").toString
    XlsxWriter.write(s"$dir/b.xlsx", Seq("s" -> Seq(("x", "y")).toDF("b1", "b2")))
    XlsxWriter.write(s"$dir/a.xlsx", Seq("s" -> Seq(("x", "y")).toDF("a1", "a2")))
    def data(cols: Array[String]) = cols.filterNot(_.startsWith("_")).toSeq
    assert(data(XlsxSource.read(spark, dir, "s").columns) == Seq("a1", "a2"))
    assert(data(spark.read.format("xlsx").option("sheet", "s").load(dir).columns) ==
      Seq("a1", "a2"))
    val empty = TempDirs.create("xlsxe").toString
    val e1 = intercept[IllegalArgumentException](XlsxSource.read(spark, empty, "s"))
    val e2 = intercept[IllegalArgumentException](
      spark.read.format("xlsx").option("sheet", "s").load(empty))
    assert(e1.getMessage.startsWith("no .xlsx files under") && e2.getMessage == e1.getMessage)
  }

  test("writer round-trips through the reader") {
    import spark.implicits._
    val out = TempDirs.create("xlsxw").toString
    val a = Seq(("ab<c&d", 1L, 2.5, true), ("señor", 2L, -0.1, false))
      .toDF("name", "n", "x", "flag")
    val b = Seq(("k", java.lang.Double.valueOf(1.0)), ("m", null.asInstanceOf[java.lang.Double]))
      .toDF("key", "value")
    XlsxWriter.write(s"$out/rt.xlsx", Seq("uno" -> a, "dos" -> b))

    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$out/rt.xlsx"))
    assert(XlsxParser.sheetNames(bytes) == Seq("uno", "dos"))
    val ra = XlsxSource.read(spark, s"$out/rt.xlsx", "uno")
    assert(ra.orderBy("_rownum").collect().map(r => (r.getAs[String]("name"),
      r.getAs[String]("n"), r.getAs[String]("x"), r.getAs[String]("flag"))).toSeq ==
      Seq(("ab<c&d", "1", "2.5", "TRUE"), ("señor", "2", "-0.1", "FALSE")))
    val rb = XlsxSource.read(spark, s"$out/rt.xlsx", "dos")
    assert(rb.orderBy("_rownum").collect().map(r =>
      (r.getAs[String]("key"), r.getAs[String]("value"))).toSeq ==
      Seq(("k", "1"), ("m", null)))
  }

  test("writer fence: a sheet over maxRowsPerSheet aborts, never drains the driver") {
    import spark.implicits._
    val out = TempDirs.create("xlsxf").toString
    val big = spark.range(0, 50).toDF("n")
    val e = intercept[IllegalStateException] {
      XlsxWriter.write(s"$out/big.xlsx", Seq("s" -> big), maxRowsPerSheet = 10)
    }
    assert(e.getMessage.contains("parity-sink fence"))
    // at the fence exactly → fine
    XlsxWriter.write(s"$out/ok.xlsx",
      Seq("s" -> spark.range(0, 10).toDF("n")), maxRowsPerSheet = 10)
    // a guard above the format ceiling is itself rejected
    intercept[IllegalArgumentException] {
      XlsxWriter.write(s"$out/x.xlsx", Seq("s" -> big),
        maxRowsPerSheet = XlsxWriter.XlsxRowLimit + 1)
    }
  }

  test("writer emits date cells as styled serials the reader restores") {
    import spark.implicits._
    val out = TempDirs.create("xlsxd").toString
    val df = Seq(("a", "2024-03-18"), ("b", "1999-12-31"))
      .toDF("k", "d").withColumn("d", col("d").cast("date"))
    XlsxWriter.write(s"$out/dates.xlsx", Seq("s" -> df))
    // the round trip goes through a true numeric serial + date style, not
    // an inline string — same encoding the reference fixtures use
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$out/dates.xlsx"))
    val sheet = new String(new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes)) match { case z =>
        Iterator.continually(z.getNextEntry).takeWhile(_ != null)
          .collectFirst { case e if e.getName == "xl/worksheets/sheet1.xml" =>
            z.readAllBytes() }.get
      }, "UTF-8")
    assert(sheet.contains("""s="1"><v>45369</v>"""))
    val back = XlsxSource.read(spark, s"$out/dates.xlsx", "s")
      .orderBy("_rownum").select("d").as[String].collect()
    assert(back.toSeq == Seq("2024-03-18", "1999-12-31"))
  }
}
