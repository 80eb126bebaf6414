package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}

/** Spark-side Excel source (SURVEY.md §2.1 S2/S3, §7.2 "the single biggest
  * build item"): distributed multi-sheet .xlsx scan built on the
  * `binaryFile` format — file listing and scheduling come from Spark's
  * FileSourceScanExec (so partition parallelism is one task per file fleet-
  * wide), and [[XlsxParser]] runs per file on executors.
  *
  * Contract with downstream operators:
  *  - `_file`, `_sheet`, `_rownum` (1-based data-row order within the
  *    sheet) are always present; `_rownum` is the explicit row order the
  *    reference relies on implicitly (forward-fill W1, positional zip W3 —
  *    SURVEY.md §2.5), which Spark must carry as data.
  *  - every header column arrives as a nullable string (schema-on-read;
  *    the conform step of the ingest pipeline applies typing — the Spark
  *    analog of `verify_columns` + `deep_clean_data`,
  *    `import_files_to_postgre.py:67-73,120-132`).
  *  - `_hyperlink_<col>` carries the cell hyperlink target for requested
  *    columns (the reference's openpyxl walk,
  *    `import_files_to_postgre.py:45-65`) — same single scan, no second
  *    parse of the file.
  *
  * Column binding is by header NAME per file (like pandas), so files whose
  * columns are ordered differently still align.
  */
object XlsxSource {

  /** Read one named sheet from every .xlsx under `path`.
    *
    * @param headers output columns; when None, the driver reads the
    *                header row of the first workbook ([[firstHeader]], no
    *                Spark job) — pass explicitly for fixed-schema
    *                production reads.
    * @param hyperlinkCols headers for which a `_hyperlink_<col>` column is
    *                emitted.
    */
  def read(spark: SparkSession, path: String, sheet: String,
           hyperlinkCols: Seq[String] = Nil,
           headers: Option[Seq[String]] = None): DataFrame = {
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xlsx").load(path)
      .select("path", "content")

    val outHeaders: Seq[String] = headers.getOrElse(
      firstHeader(spark.sparkContext.hadoopConfiguration, path, sheet))

    val schema = StructType(
      Seq(StructField("_file", StringType, nullable = false),
          StructField("_sheet", StringType, nullable = false),
          StructField("_rownum", LongType, nullable = false)) ++
        outHeaders.map(h => StructField(h, StringType, nullable = true)) ++
        hyperlinkCols.map(h => StructField(s"_hyperlink_$h", StringType, nullable = true)))

    val sheetName = sheet
    val hdrs = outHeaders.toArray
    val linkCols = hyperlinkCols.toArray

    implicit val enc = Encoders.row(schema)
    files.flatMap { row =>
      val file = row.getString(0)
      val parsed = XlsxParser.parseSheet(row.getAs[Array[Byte]](1), sheetName)
      dataRows(parsed).map { case (rownum, cell) =>
        val vals = hdrs.map(h => cell(h).map(_.value).orNull)
        val links = linkCols.map(h => cell(h).flatMap(_.hyperlink).orNull)
        Row.fromSeq(Seq(file, sheetName, rownum) ++ vals ++ links)
      }
    }.toDF()
  }

  /** The rows below a parsed sheet's header, bound by header NAME: each
    * row's 1-based `_rownum` and its cell under a header, if any. Both
    * xlsx sources bind rows through this one walk.
    */
  private[graft] def dataRows(s: XlsxParser.Sheet)
      : Iterator[(Long, String => Option[XlsxParser.Cell])] = {
    val hdr = headerRow(s).toMap // header name -> 0-based col index
    s.rows.dropWhile(r => !isHeader(r._2)).drop(1).iterator.zipWithIndex
      .map { case ((_, cells), i) =>
        val byCol = cells.iterator.map(c => c.col -> c).toMap
        ((i + 1).toLong, (h: String) => hdr.get(h).flatMap(byCol.get))
      }
  }

  /** The .xlsx workbooks at `path` (the file itself, or a directory's
    * files, Spark's hidden `_`/`.` names left out, like its scans) in
    * path-name order.
    */
  private[graft] def listWorkbooks(conf: Configuration, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val all = if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq.map(_.getPath) else Seq(p)
    all.filter { f =>
      val n = f.getName
      n.endsWith(".xlsx") && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.toString).sorted
  }

  private[graft] def readBytes(conf: Configuration, file: String): Array[Byte] = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** Header names of `sheet` in the first workbook at `path`
    * ([[listWorkbooks]] order), read and parsed on the driver: the
    * column set of a read that is given none.
    */
  private[graft] def firstHeader(conf: Configuration, path: String, sheet: String): Seq[String] = {
    val first = listWorkbooks(conf, path).headOption.getOrElse(
      throw new IllegalArgumentException(
        s"no .xlsx files under '$path' — pass the header names explicitly to read a possibly-empty dir"))
    headerRow(XlsxParser.parseSheet(readBytes(conf, first), sheet)).map(_._1)
  }

  /** The header row of a parsed sheet as (deduped name, 0-based column
    * index) in column order. Duplicate header names get a `_<n>` suffix
    * (pandas appends `.<n>`; `_` keeps names SQL-safe).
    */
  private[graft] def headerRow(s: XlsxParser.Sheet): Seq[(String, Int)] = {
    val hr = s.rows.collectFirst { case (_, cells) if isHeader(cells) => cells }
      .getOrElse(Vector.empty)
    val seen = scala.collection.mutable.Map[String, Int]()
    hr.sortBy(_.col).collect { case c if c.value != null =>
      val n = seen.getOrElse(c.value, 0)
      seen(c.value) = n + 1
      (if (n == 0) c.value else s"${c.value}_${n + 1}", c.col)
    }
  }

  private def isHeader(cells: Vector[XlsxParser.Cell]): Boolean =
    cells.exists(_.value != null)
}
