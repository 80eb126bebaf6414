package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: the Spark build plus (when SQL-expressible) the
  * byte-equivalent DuckDB oracle SQL the driver hash-compares against.
  * `headline` marks the queries Bench times at sf0.1.
  */
case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** Shared DuckDB spellings of the engine's seeded md5 hashes — ONE
  * definition (four query files embed these in their oracles), so a
  * width or spelling change cannot silently miss one file's oracles.
  * Must stay in lockstep with `graft.functions.hash60`/`hash56`.
  */
object OracleSql {
  /** Top 60 bits of md5 as BIGINT (twin of graft.functions.hash60). */
  def sqlHash60(expr: String): String =
    s"CAST('0x' || substr(md5($expr), 1, 15) AS BIGINT)"

  /** Bits 60..116 of md5 as BIGINT (twin of graft.functions.hash56). */
  def sqlHash56(expr: String): String =
    s"CAST('0x' || substr(md5($expr), 16, 14) AS BIGINT)"
}

/** Shared fixture plumbing for the oracle-backed streaming lifecycle
  * queries (q203–q215): a temp root with a `drop/` directory (deleted at
  * JVM exit, [[org.apache.spark.graft.TempDirs]]), and
  * [[land]] — write a frame as ONE parquet file into the drop dir with
  * an explicit mtime, so `maxFilesPerTrigger=1` file streams process
  * the deliveries as separate micro-batches in a deterministic order.
  * The write is distributed; only the single part-file RENAME runs
  * driver-side (bounded FS metadata ops — data never visits the
  * driver). ONE definition so the delivery protocol cannot drift
  * between query files.
  */
private[queries] final class StreamDeliveries(prefix: String) {
  val root: String =
    org.apache.spark.graft.TempDirs.create(prefix).toString
  private val drop = java.nio.file.Paths.get(root, "drop")
  java.nio.file.Files.createDirectories(drop)

  /** The drop directory file streams read from. */
  def dropDir: String = drop.toString

  /** Land `df` as `<name>.parquet` in the drop dir with mtime `mtime`. */
  def land(df: org.apache.spark.sql.DataFrame, name: String,
           mtime: Long): Unit = {
    val tmp = s"$root/$name.stage"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    val dst = drop.resolve(s"$name.parquet")
    java.nio.file.Files.move(part, dst)
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtime))
  }
}

/** Hex-string byte builders + DuckDB byte readers shared by every
  * byte-walk query (media headers in MultimodalQueries, the ZIP
  * central-directory walk in IngestionQueries). ONE definition so an
  * endianness or offset-arithmetic fix cannot silently miss one file's
  * copy. Spark side builds hex strings column-wise (later `unhex`ed to
  * the real bytes); the `sql*` twins read fields back out of
  * `hx = hex(blob)` in DuckDB — byte offset b is hex position 2b+1.
  */
private[queries] object HexBytes {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  def hexByte(c: Column): Column =
    lpad(hex(c.cast("long").bitwiseAND(lit(255L))), 2, "0")
  def le16(c: Column): Column =
    concat(hexByte(c), hexByte(shiftright(c.cast("long"), 8)))
  def le32(c: Column): Column =
    concat(hexByte(c), hexByte(shiftright(c.cast("long"), 8)),
      hexByte(shiftright(c.cast("long"), 16)),
      hexByte(shiftright(c.cast("long"), 24)))
  def be32(c: Column): Column = lpad(hex(c.cast("long")), 8, "0")

  // DuckDB hex builders (x must be a non-negative integer expression)
  def sqlLe16(x: String): String =
    s"concat(lpad(hex(($x) % 256), 2, '0'), lpad(hex(($x) // 256), 2, '0'))"
  def sqlLe32(x: String): String =
    s"concat(lpad(hex(($x) % 256), 2, '0'), lpad(hex((($x) // 256) % 256), 2, '0'), " +
      s"lpad(hex((($x) // 65536) % 256), 2, '0'), lpad(hex((($x) // 16777216) % 256), 2, '0'))"

  // DuckDB fixed-offset readers over hx = hex(blob)
  def sqlByte(pos: Int): String =
    s"CAST(concat('0x', substr(hx, $pos, 2)) AS BIGINT)"
  def sqlLe16At(bytePos: Int): String = {
    val p = 2 * bytePos + 1
    s"(${sqlByte(p)} + 256 * ${sqlByte(p + 2)})"
  }
  def sqlLe32At(bytePos: Int): String = {
    val p = 2 * bytePos + 1
    s"(${sqlByte(p)} + 256 * ${sqlByte(p + 2)} + 65536 * ${sqlByte(p + 4)} + 16777216 * ${sqlByte(p + 6)})"
  }
  def sqlBe32At(bytePos: Int): String =
    s"CAST(concat('0x', substr(hx, ${2 * bytePos + 1}, 8)) AS BIGINT)"

  // dynamic-offset readers: `x` is a 0-based byte-offset SQL expression;
  // the endianness-switched forms take `le`, a boolean SQL expression
  def sqlU8x(x: String): String =
    s"CAST(concat('0x', substr(hx, 2*($x) + 1, 2)) AS BIGINT)"
  def sqlU16x(x: String, le: String): String =
    s"(CASE WHEN $le THEN ${sqlU8x(x)} + 256*${sqlU8x(s"($x)+1")} " +
      s"ELSE 256*${sqlU8x(x)} + ${sqlU8x(s"($x)+1")} END)"
  def sqlU32x(x: String, le: String): String =
    s"(CASE WHEN $le THEN ${sqlU8x(x)} + 256*${sqlU8x(s"($x)+1")} + " +
      s"65536*${sqlU8x(s"($x)+2")} + 16777216*${sqlU8x(s"($x)+3")} " +
      s"ELSE 16777216*${sqlU8x(x)} + 65536*${sqlU8x(s"($x)+1")} + " +
      s"256*${sqlU8x(s"($x)+2")} + ${sqlU8x(s"($x)+3")} END)"
  def sqlLe16x(x: String): String = sqlU16x(x, "TRUE")
  def sqlLe32x(x: String): String = sqlU32x(x, "TRUE")
  def sqlLe64x(x: String): String =
    s"(${sqlLe32x(x)} + 4294967296 * ${sqlLe32x(s"($x)+4")})"
}

/** Order-independent aggregation of money-like doubles.
  *
  * A grouped `sum(double)` is association-order-dependent: partials merge
  * in shuffle-fetch order (Spark) / thread order (DuckDB), so the low bits
  * — and occasionally a `round()` boundary — vary run to run (observed:
  * q26 hash-flip in round 1). The data's money columns are exact 2-decimal
  * values, so summing exact integer micros instead is associative,
  * deterministic at any thread count, and bit-identical across engines.
  *
  * Per-row `round(x*1e6)` is itself engine-agreed: the true value is a
  * ≤4-decimal decimal, so x*1e6 sits within ~1e-4 of an integer — never
  * near a rounding tie. Final division long→double is one IEEE op on
  * identical inputs. Callers must round at the value's NATURAL precision
  * (2dp for money, 4dp for price×(1−discount) products) so the last
  * round() is an identity, not a tie-decider. Long range: group sums stay
  * exact below 2^53 micros ≈ 9e9 in value — far above any sf≤1 group; at
  * warehouse scale switch the same shape to DecimalType accumulators.
  */
object ExactAgg {
  import graft.functions.{c_round => round}
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Exact integer micros of a money-like double column. */
  def micros(c: Column): Column = round(c * lit(1000000.0)).cast("long")

  /** Order-independent sum, rounded at the natural precision `dp`. */
  def sumExact(c: Column, dp: Int): Column =
    round(sum(micros(c)) / lit(1000000.0), dp)

  /** Order-independent mean (null-skipping, like SQL avg). */
  def avgExact(c: Column, dp: Int): Column =
    round(sum(micros(c)) / lit(1000000.0) / count(c), dp)

  /** DuckDB twin of [[sumExact]]. */
  def sqlSum(e: String, dp: Int): String =
    s"round(sum(CAST(round(($e) * 1000000) AS BIGINT)) / 1000000.0, $dp)"

  /** DuckDB twin of [[avgExact]]. */
  def sqlAvg(e: String, dp: Int): String =
    s"round(sum(CAST(round(($e) * 1000000) AS BIGINT)) / 1000000.0 / count($e), $dp)"
}
