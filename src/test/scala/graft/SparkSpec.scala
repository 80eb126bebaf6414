package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * getOrCreate dedupes across suites in the forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlc = spark.sqlContext

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

/** SQL-frontend smoke: registered views + native functions drive the
  * engine through plain spark.sql.
  */
class SqlFrontendSpec extends SparkSpec {
  test("registerSql exposes tables and native functions to SQL") {
    Engine.registerSql(spark, sf())
    val r = spark.sql("""
      SELECT l_returnflag, count(*) AS n, hash60(l_returnflag) AS h
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""").collect()
    assert(r.length >= 2 && r.forall(_.getLong(2) >= 0))
    assert(spark.sql("SELECT count(*) FROM documents").head().getLong(0) > 0)
  }

  test("SQL-registered scalar library matches the Column API, no UDFs") {
    Engine.registerSql(spark, sf())
    val row = spark.sql("""
      SELECT safe_float('12,5')              AS sf,
             normalize_null('None')          AS nn,
             clean_money('$1,234.50+')       AS cm,
             CAST(spanish_to_date('17-ene-2025') AS STRING) AS sd,
             CAST(excel_serial_date(45369) AS STRING)       AS ed,
             store_name('https://www.amazon.com.mx/dp/x')   AS sn,
             domain_store('https://articulo.mercadolibre.com.mx/p') AS ds,
             truncate500(repeat('a', 600))   AS tr,
             derived_price(NULL, 100.0D)     AS dp,
             derived_offer(0.0D, 200.0D)     AS off,
             default_if_falsy(0.0D, 7.0D)    AS dif""").head()
    assert(row.getDouble(0) == 12.5)
    assert(row.isNullAt(1))
    assert(row.getDouble(2) == 1234.5)
    assert(row.getString(3) == "2025-01-17")
    assert(row.getString(4) == "2024-03-18")
    assert(row.getString(5) == "amazon")
    assert(row.getString(6) == "www.mercadolibre.com.mx")
    assert(row.getString(7).length == 500)
    assert(row.getDouble(8) == 130.0)
    assert(row.getDouble(9) == 170.0)
    assert(row.getDouble(10) == 7.0)
    // the SQL path expands to the same composed expression trees as the
    // Column API — nothing in the plan is a black-box UDF
    val plan = spark.sql("SELECT provider_url(text) FROM documents")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"UDF leaked into SQL function path:\n$plan")
  }

  test("curation scalars are SQL-callable and match the Column API") {
    Engine.registerSql(spark, sf())
    val row = spark.sql("""
      SELECT redact_pii('mail a@b.co ip 10.0.0.1 card 4111111111111111') AS r,
             round(quality_logit('alpha bravo charlie delta echo'), 6)   AS q
      """).head()
    assert(row.getString(0) == "mail [EMAIL] ip [IP] card [CARD]")
    import org.apache.spark.sql.functions._
    val viaColumn = spark.range(1)
      .select(round(graft.operators.Curation.qualityLogit(
        lit("alpha bravo charlie delta echo")), 6))
      .head().getDouble(0)
    assert(row.getDouble(1) == viaColumn)
  }

  test("text-sketch expressions are SQL-callable and match the Column API") {
    Engine.registerSql(spark, sf())
    val viaSql = spark.sql("""
      SELECT doc_id, simhash(text) AS sh, minhash_sigs(text) AS ms,
             hashing_vec(text) AS hv
      FROM documents ORDER BY doc_id LIMIT 50""").collect()
    import org.apache.spark.sql.functions._
    val d = Engine.table(spark, sf(), "documents")
    val viaCol = graft.operators.Dedup
      .simHash(d, col("text"), col("doc_id"))
      .join(d.select(col("doc_id").as("__id"),
        graft.operators.TextAnalysis.hashingVector(col("text")).as("hv")), "__id")
      .orderBy("__id").limit(50).collect()
    viaSql.zip(viaCol).foreach { case (s, c) =>
      assert(s.getLong(1) == c.getLong(1), "simhash parity")
      assert(s.getSeq[Long](3) == c.getSeq[Long](2), "hashing_vec parity")
      assert(s.getSeq[Long](2).length == 16, "minhash_sigs width")
    }
  }
}

object SparkSpec {
  /** The engine's own session (static confs included: they can only be
    * set when the first session is built), plus the test-only runtime
    * confs.
    */
  lazy val session: SparkSession = {
    val s = Engine.session("graft-test", 4)
    s.conf.set("spark.sql.ansi.enabled", "false")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }
}
