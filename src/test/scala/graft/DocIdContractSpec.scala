package graft

import org.apache.spark.sql.functions.{col, count, countDistinct, lit}

/** `documents.doc_id` is a key. The two-phase exact-dedup keepers
  * depend on it: they aggregate `md5(text) -> min(doc_id)` and then
  * LEFT SEMI join the winners back on `doc_id` alone
  * (`CurationQueries.scala:98`, q102's clean stage, and
  * `CurationQueries.scala:1073`, q161's `uniq`). A repeated doc_id
  * would let both rows through the join-back and break the
  * one-row-per-content-hash answer. The contract is checked here over
  * every scale the engine is verified at, not at run time, so the
  * queries carry no extra job.
  */
class DocIdContractSpec extends SparkSpec {

  for (dir <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"documents.doc_id is unique at $dir") {
      val d = Engine.table(spark, sf(dir), "documents")
      val r = d.agg(count(col("doc_id")), countDistinct(col("doc_id")),
        count(lit(1))).head()
      assert(r.getLong(2) > 0, s"$dir: no documents")
      assert(r.getLong(0) == r.getLong(2), s"$dir: null doc_id")
      assert(r.getLong(1) == r.getLong(2), s"$dir: repeated doc_id")
    }
}
