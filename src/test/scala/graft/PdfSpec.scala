package graft

import graft.plans.Statements
import graft.sources.{PdfParser, XlsxSource}
import org.apache.spark.graft.TempDirs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PDF statement pipeline (SURVEY.md §3.1) against the reference's own
  * input/golden-output pairs: pdf_files/EdoCuentaSep25.pdf must reproduce
  * pdf_to_xlsx_files/cargos_bbva_17Sep2025.xlsx exactly.
  */
class PdfSpec extends SparkSpec {

  private val pdfDir = "/root/reference/pdf_files"

  test("DataSource V2 format(\"pdftext\") matches the binaryFile path") {
    val v2 = spark.read.format("pdftext").load(pdfDir)
    val v1 = graft.plans.Statements.pdfTexts(spark, pdfDir)
    import org.apache.spark.sql.functions._
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("_file", regexp_extract(col("_file"), "[^/]+$", 0))
    assert(v2.columns.toSeq == v1.columns.toSeq)
    assert(norm(v2).exceptAll(norm(v1)).isEmpty &&
      norm(v1).exceptAll(norm(v2)).isEmpty)
    assert(v2.count() > 0)
  }
  private val golden = "/root/reference/pdf_to_xlsx_files/cargos_bbva_17Sep2025.xlsx"

  private lazy val extracted = Statements.extract(spark, pdfDir)

  test("section headers survive text extraction") {
    val t = PdfParser.extractText(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$pdfDir/EdoCuentaSep25.pdf")))
    assert(t.contains("COMPRAS Y CARGOS DIFERIDOS A MESES SIN INTERESES"))
    assert(t.contains("COMPRAS Y CARGOS DIFERIDOS A MESES CON INTERESES"))
    assert(t.contains("CARGOS,COMPRAS Y ABONOS REGULARES(NO A MESES)"))
    assert(t.contains("TOTAL CARGOS"))
  }

  /** Normalized frame for comparison: golden sheet values are all strings
    * (serial dates already ISO via the reader); ours are typed → cast to
    * string, doubles rounded.
    */
  private def norm(df: DataFrame, doubles: Seq[String]): Seq[Seq[String]] =
    df.collect().map(_.toSeq.map {
      case null => null
      case d: java.sql.Date => d.toString
      case x: Double => (math.rint(x * 100) / 100).toString
      case s => s.toString
    }.map(v => v: String)).toSeq

  test("RegexTokenize generator ≡ composed posexplode path on real PDFs") {
    val texts = Statements.pdfTexts(spark, pdfDir)
    Seq((Statements.MsiPattern, 7), (Statements.ComprasPattern, 4)).foreach {
      case (pat, n) =>
        val sec = if (n == 7) Statements.MsiSection else Statements.ComprasSection
        val gen = Statements.rows(texts, sec, pat, n)
        val comp = Statements.rowsComposed(texts, sec, pat, n)
        assert(gen.count() > 0)
        assert(gen.exceptAll(comp).isEmpty && comp.exceptAll(gen).isEmpty,
          s"generator and composed tokenizers diverge for $pat")
    }
  }

  test("msi sheet matches the golden workbook") {
    val mine = extracted.msi.filter(col("_file").contains("EdoCuentaSep25"))
      .orderBy("_rownum").drop("_file", "_rownum")
    val gold = XlsxSource.read(spark, golden, "msi").orderBy("_rownum")
      .drop("_file", "_sheet", "_rownum")
    assert(mine.columns.toSeq == gold.columns.toSeq)
    assert(mine.count() == 15) // BASELINE.md: msi 15 rows for Sep25
    val g = gold.withColumn("Monto original", col("`Monto original`").cast("double"))
      .withColumn("Saldo pendiente", col("`Saldo pendiente`").cast("double"))
      .withColumn("Pago requerido", col("`Pago requerido`").cast("double"))
    assert(norm(mine, Nil) == norm(g, Nil))
  }

  test("compras sheet matches the golden workbook") {
    val mine = extracted.compras.filter(col("_file").contains("EdoCuentaSep25"))
      .orderBy("_rownum").drop("_file", "_rownum")
    val gold = XlsxSource.read(spark, golden, "compras").orderBy("_rownum")
      .drop("_file", "_sheet", "_rownum")
    assert(mine.columns.toSeq == gold.columns.toSeq)
    assert(mine.count() == 31) // BASELINE.md: compras 31 rows for Sep25
    val g = gold.withColumn("Pago requerido", col("`Pago requerido`").cast("double"))
    assert(norm(mine, Nil) == norm(g, Nil))
  }

  test("dynamic filename derives from max operation date (S10)") {
    val out = TempDirs.create("pdfout").toString
    val path = Statements.writeWorkbook(extracted, out)
    assert(path.endsWith("cargos_bbva_17Sep2025.xlsx"))
    // written workbook round-trips through our own reader
    val back = XlsxSource.read(spark, path, "compras")
    assert(back.count() == 31)
  }

  test("second golden pair: EdoCtaMar25 reproduces cargos_bbva_17Mar2025") {
    val goldOld = "/root/reference/pdf_to_xlsx_files_old/cargos_bbva_17Mar2025.xlsx"
    val old = Statements.extract(spark, "/root/reference/pdf_files_old")
    val mineMsi = old.msi.filter(col("_file").contains("EdoCtaMar25"))
      .orderBy("_rownum").drop("_file", "_rownum")
    val goldMsi = XlsxSource.read(spark, goldOld, "msi").orderBy("_rownum")
      .drop("_file", "_sheet", "_rownum")
      .withColumn("Monto original", col("`Monto original`").cast("double"))
      .withColumn("Saldo pendiente", col("`Saldo pendiente`").cast("double"))
      .withColumn("Pago requerido", col("`Pago requerido`").cast("double"))
    assert(mineMsi.count() == 56)
    assert(norm(mineMsi, Nil) == norm(goldMsi, Nil))
    val mineC = old.compras.filter(col("_file").contains("EdoCtaMar25"))
      .orderBy("_rownum").drop("_file", "_rownum")
    val goldC = XlsxSource.read(spark, goldOld, "compras").orderBy("_rownum")
      .drop("_file", "_sheet", "_rownum")
      .withColumn("Pago requerido", col("`Pago requerido`").cast("double"))
    assert(mineC.count() == 63)
    assert(norm(mineC, Nil) == norm(goldC, Nil))
  }

  test("old statement corpus extracts non-empty tables") {
    val old = Statements.extract(spark, "/root/reference/pdf_files_old")
    val msiByFile = old.msi.groupBy("_file").count().collect()
      .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    val comprasByFile = old.compras.groupBy("_file").count().collect()
      .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    println(s"msi: $msiByFile")
    println(s"compras: $comprasByFile")
    // the three CREDIT-CARD statements yield rows within BASELINE.md
    // bounds; EdoCuentaMar25.pdf is a bank-ACCOUNT statement with no
    // "COMPRAS Y CARGOS DIFERIDOS" sections → correctly zero rows
    assert(comprasByFile.keySet ==
      Set("EdoCtaMar25.pdf", "Estado_Cuenta_Mar_25.pdf", "Estado_Cuenta.pdf"))
    assert(comprasByFile.values.forall(n => n > 0 && n <= 63))
    assert(msiByFile.values.forall(n => n > 0 && n <= 56))
  }
}
