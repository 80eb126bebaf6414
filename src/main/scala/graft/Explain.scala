package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-inspection main: print the formatted physical plan of named
  * registry queries at an arbitrary sf dir — the tool for adjudicating
  * plan changes at BENCH scale (PlanQualitySpec pins plans at sf0.001;
  * stats-dependent choices like broadcast-vs-shuffle can differ at
  * sf0.1, and this shows exactly what the optimizer picked there).
  *
  * Usage: runMain graft.Explain <sfDir> <query> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Engine.session("graft-explain")
    val exec = sys.env.get("SPARK_GRAFT_EXPLAIN_EXEC").contains("1")
    args.tail.foreach { q =>
      println(s"===== $q @ $sfDir =====")
      val df = SparkEntry.queries(q)(spark, sfDir)
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      if (exec) {
        // run it, then print the FINAL adaptive plan — what AQE actually
        // chose once runtime stage sizes were known
        df.write.format("noop").mode("overwrite").save()
        println(s"===== $q FINAL (post-AQE) =====")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
