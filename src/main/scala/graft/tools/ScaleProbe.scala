package graft.tools

import org.apache.spark.sql.functions._

/** Scratch scale-probe main (not part of the driver contract): the
  * local bench at sf0.1 cannot resolve shuffle-volume questions — its
  * exchanges move KBs. This tool manufactures a `mult`-times lineitem
  * (baskets kept intact by offsetting `l_orderkey` per copy;
  * part/supplier keys untouched so per-key group sizes really grow),
  * optionally with a hot supplier, and times registered queries on it.
  *
  * Env: SPARK_GRAFT_SF_DIR (source), SPARK_GRAFT_PROBE_DIR (scratch
  * output), SPARK_GRAFT_PROBE_MULT (default 10), SPARK_GRAFT_PROBE_SKEW
  * (=1: the last copy funnels every row to l_suppkey=1, a 600k-row hot
  * supplier at mult=10), SPARK_GRAFT_CPUS, SPARK_GRAFT_REPS.
  * Args: registered query names (default q89_copurchase_pairs
  * q105_topk_per_supplier); they read only `lineitem`.
  */
object ScaleProbe {

  /** The directory holding the manufactured lineitem for one
    * (mult, skew) pair, so a run never reuses another pair's data.
    */
  def dataDir(dest: String, mult: Int, skew: Boolean): String =
    s"$dest/lineitem_x$mult${if (skew) "_skew" else ""}"

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dest = sys.env.getOrElse("SPARK_GRAFT_PROBE_DIR", "/tmp/graft_sfprobe")
    val mult = sys.env.getOrElse("SPARK_GRAFT_PROBE_MULT", "10").toInt
    val skew = sys.env.getOrElse("SPARK_GRAFT_PROBE_SKEW", "0") == "1"
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val cpus = graft.Engine.localCpus
    val spark = graft.Engine.session("graft-scale-probe", cpus)

    val dir = dataDir(dest, mult, skew)
    val liPath = s"$dir/lineitem.parquet"
    // _SUCCESS, not the directory: an interrupted build is rebuilt
    if (!new java.io.File(s"$liPath/_SUCCESS").exists()) {
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val maxOk = li.agg(max(col("l_orderkey"))).head.getLong(0) + 1L
      val copies = (0 until mult).map { k =>
        val c = li.withColumn("l_orderkey",
          col("l_orderkey") + lit(k * maxOk))
        if (skew && k == mult - 1)
          c.withColumn("l_suppkey", lit(1L)) else c
      }
      copies.reduce(_ union _).repartition(cpus)
        .write.mode("overwrite").parquet(liPath)
      println(s"[probe] built $liPath mult=$mult skew=$skew")
    }

    val names = if (args.nonEmpty) args.toSeq
      else Seq("q89_copurchase_pairs", "q105_topk_per_supplier")
    def build(name: String) = graft.SparkEntry.queries(name)(spark, dir)
    // warm-up (codegen + listing caches), then timed medians
    names.foreach { n =>
      try build(n).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[probe] $n warmup FAILED: $e") }
      graft.Checkpoints.release()
    }
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        build(n).write.format("noop").mode("overwrite").save()
        val el = (System.nanoTime() - t0) / 1e9
        graft.Checkpoints.release()
        System.gc()
        el
      }
      println(f"[probe] $n skew=$skew mult=$mult cpus=$cpus " +
        f"median=${times.sorted.apply(times.size / 2)}%.3f " +
        times.map(t => f"$t%.3f").mkString("reps=[", ",", "]"))
    }
    spark.stop()
  }
}
