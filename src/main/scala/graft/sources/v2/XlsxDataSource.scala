package graft.sources.v2

import java.util

import graft.sources.{XlsxParser, XlsxSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DataSource V2 Excel connector (SURVEY.md §7.2's "single biggest build
  * item", completing the binaryFile-based [[graft.sources.XlsxSource]]):
  *
  * {{{
  * spark.read.format("xlsx")
  *   .option("sheet", "Compras")
  *   .option("hyperlinkColumns", "Preview")   // optional, comma-separated
  *   .load("/path/to/dir")
  * }}}
  *
  * Same output contract as XlsxSource.read: `_file`, `_sheet`, `_rownum`
  * (explicit source row order — the W1/W3 dependency), every header
  * column as nullable string, `_hyperlink_<col>` for requested columns.
  *
  * V2 integration points: schema inference peeks one file's header row
  * at planning; one InputPartition per file (files are small workbooks —
  * the fleet parallelism unit is the file); column pruning is pushed
  * down (SupportsPushDownRequiredColumns) so a metadata-only projection
  * never materializes unused cell strings.
  */
class XlsxDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xlsx"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    XlsxDataSource.fullSchema(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new XlsxTable(schema,
      new CaseInsensitiveStringMap(properties))
}

object XlsxDataSource {

  private[v2] def sheet(o: CaseInsensitiveStringMap): String = {
    require(o.containsKey("sheet"), "xlsx source requires .option(\"sheet\", ...)")
    o.get("sheet")
  }

  private[v2] def hyperlinkCols(o: CaseInsensitiveStringMap): Seq[String] =
    Option(o.get("hyperlinkColumns")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  private[v2] def path(o: CaseInsensitiveStringMap): String =
    Option(o.get("path")).getOrElse(
      throw new IllegalArgumentException("xlsx source requires a load path"))

  private[v2] def listFiles(o: CaseInsensitiveStringMap): Seq[String] =
    XlsxSource.listWorkbooks(SparkSession.active.sparkContext.hadoopConfiguration, path(o))

  private[v2] def readBytes(file: String): Array[Byte] =
    XlsxSource.readBytes(SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration()), file)

  private[v2] def fullSchema(o: CaseInsensitiveStringMap): StructType = {
    val headers = XlsxSource.firstHeader(
      SparkSession.active.sparkContext.hadoopConfiguration, path(o), sheet(o))
    StructType(
      Seq(StructField("_file", StringType, nullable = false),
        StructField("_sheet", StringType, nullable = false),
        StructField("_rownum", LongType, nullable = false)) ++
        headers.map(h => StructField(h, StringType, nullable = true)) ++
        hyperlinkCols(o).map(h =>
          StructField(s"_hyperlink_$h", StringType, nullable = true)))
  }
}

private[v2] class XlsxTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"xlsx:${options.get("path")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new XlsxScanBuilder(tableSchema, options)
}

private[v2] class XlsxScanBuilder(full: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve OUR column order; Catalyst re-projects on top
    required = StructType(full.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new XlsxScan(required, options)
}

private[v2] class XlsxScan(required: StructType, options: CaseInsensitiveStringMap)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"XlsxScan(sheet=${XlsxDataSource.sheet(options)}, cols=${required.size})"

  override def planInputPartitions(): Array[InputPartition] =
    XlsxDataSource.listFiles(options)
      .map(f => XlsxInputPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    XlsxReaderFactory(required.fieldNames,
      XlsxDataSource.sheet(options))
}

private[v2] case class XlsxInputPartition(file: String) extends InputPartition

private[v2] case class XlsxReaderFactory(columns: Array[String], sheet: String)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[XlsxInputPartition].file
    new XlsxPartitionReader(file, sheet, columns)
  }
}

/** Parses one workbook's sheet and emits the required columns row by row
  * — runs on the executor; the parse happens once per (file, task).
  */
private[v2] class XlsxPartitionReader(file: String, sheet: String,
                                      columns: Array[String])
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[InternalRow] = {
    val parsed = XlsxParser.parseSheet(XlsxDataSource.readBytes(file), sheet)
    // the same header-name binding as XlsxSource.read
    XlsxSource.dataRows(parsed).map { case (rownum, cell) =>
      val vals: Array[Any] = columns.map {
        case "_file" => UTF8String.fromString(file)
        case "_sheet" => UTF8String.fromString(sheet)
        case "_rownum" => rownum
        case h if h.startsWith("_hyperlink_") =>
          cell(h.stripPrefix("_hyperlink_")).flatMap(_.hyperlink)
            .map(UTF8String.fromString).orNull
        case h =>
          cell(h).map(_.value).map(UTF8String.fromString).orNull
      }
      new GenericInternalRow(vals)
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
