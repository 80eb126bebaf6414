package graft

import org.apache.spark.graft.TempDirs
import org.apache.spark.sql.functions._

/** Pins the engine's checkpoint hygiene: every `localCheckpoint` an
  * operator takes is ledgered in [[Checkpoints]] and freed — in-loop for
  * iterative operators, at `release()` for build-scoped intermediates —
  * so a long-lived session (the streaming-service shape) holds ZERO net
  * block-manager state across repeated query builds.
  */
class CheckpointSpec extends SparkSpec {

  private def persistedCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("cp registers, drop frees, release drains the ledger") {
    Checkpoints.release()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val base = persistedCount
    val df = Checkpoints.cp(spark.range(100).toDF("x"))
    assert(persistedCount == base + 1, "cp persists exactly one RDD")
    assert(Checkpoints.pending >= 1)
    Checkpoints.drop(df)
    assert(persistedCount == base, "drop frees the checkpointed blocks")
    val a = Checkpoints.cp(spark.range(10).toDF("a"))
    val b = Checkpoints.cp(spark.range(10).toDF("b"))
    assert(a.count() + b.count() == 20)
    Checkpoints.release()
    assert(persistedCount == base, "release drains everything ledgered")
  }

  test("iterative operators free superstep blocks in-loop") {
    Checkpoints.release()
    val base = persistedCount
    // a 2-component graph with a chain, so both CC operators iterate
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L)
    )).toDF("id_a", "id_b")
    val cc = graft.operators.Dedup.dupClustersAlternating(pairs)
    assert(cc.count() == 7)
    Checkpoints.release()
    assert(persistedCount == base,
      s"star contraction leaked ${persistedCount - base} persistent RDDs")
    val cc2 = graft.operators.Dedup.dupClusters(pairs)
    assert(cc2.count() == 7)
    Checkpoints.release()
    assert(persistedCount == base,
      s"label propagation leaked ${persistedCount - base} persistent RDDs")
  }

  test("streaming batch gates free their blocks before returning") {
    import spark.implicits._
    Checkpoints.release()
    val base = persistedCount
    val tmp = TempDirs.create("ckpt_stream").toString
    // two micro-batches of the near-dup ingest gate — the long-running
    // service shape: per-batch blocks must not outlive the batch call
    graft.streaming.StreamOps.nearDupBatch(
      Seq((1L, "the quick brown fox jumps over the lazy dog again ok"),
        (2L, "pack my box with five dozen liquor jugs right now yes"))
        .toDF("doc_id", "text"), batchId = 0, "text", "doc_id",
      s"$tmp/store", s"$tmp/out")
    graft.streaming.StreamOps.nearDupBatch(
      Seq((3L, "sphinx of black quartz judge my vow said the editor"))
        .toDF("doc_id", "text"), batchId = 1, "text", "doc_id",
      s"$tmp/store", s"$tmp/out")
    assert(persistedCount == base,
      s"nearDupBatch leaked ${persistedCount - base} persistent RDDs")
    assert(Checkpoints.pending == 0,
      s"ledger not drained: ${Checkpoints.pending} entries")
  }

  test("release before a lazy checkpoint materializes is safe") {
    Checkpoints.release()
    val base = persistedCount
    // lazy checkpoint, never acted on before release() — the runner shape
    // where a build's plan never executed one branch. Release must be a
    // bookkeeping no-op (no blocks exist yet) that leaves the frame fully
    // usable, NOT a storage-target corruption.
    val df = Checkpoints.cp(spark.range(50).toDF("x"), eager = false)
    Checkpoints.release()
    assert(Checkpoints.pending == 0, "ledger drained")
    assert(df.agg(sum(col("x"))).head.getLong(0) == 1225L,
      "frame still computes correctly after release-before-materialize")
    // the post-release materialization re-persisted the checkpoint; it is
    // untracked (ledger already drained), so free it directly
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    assert(persistedCount <= base)
  }

  test("isLive fails closed on non-checkpoint frames, tracks release") {
    // a plain projection has no checkpoint leaf: nothing to verify, so a
    // cache guard must treat it as NOT live and rebuild
    assert(!Checkpoints.isLive(spark.range(5).toDF("x")),
      "non-LogicalRDD plan must not be vacuously live")
    val df = Checkpoints.cp(spark.range(5).toDF("x"))
    assert(Checkpoints.isLive(df), "materialized checkpoint is live")
    Checkpoints.release()
    assert(!Checkpoints.isLive(df), "released checkpoint is not live")
  }

  test("q161 double build-and-run: zero net persistent-RDD growth") {
    Checkpoints.release()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val base = persistedCount
    def once(): Unit = {
      val df = SparkEntry.queries("q161_pretrain_pipeline")(spark, sf())
      assert(df.count() > 0)
      Checkpoints.release()
    }
    once()
    val afterFirst = persistedCount
    once()
    val afterSecond = persistedCount
    assert(afterFirst == base && afterSecond == base,
      s"q161 leaked blocks: base=$base first=$afterFirst second=$afterSecond")
  }
}
