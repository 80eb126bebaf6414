package graft.operators

import graft.Checkpoints.TrackedCheckpointOps
import graft.functions.{c_round => round}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-based ANN (q355) — a navigable-small-world index in the HNSW
  * family (Malkov & Yashunin 2016, public paper), formulated
  * set-oriented so it scales the way everything else here does:
  *
  *  - LAYERS: every node gets a deterministic level from its id hash
  *    (geometric, p = 1/4 — `hash60(id) % 4 == 0` promotes to layer
  *    1); layer 1 is the sparse express lane, layer 0 holds everyone.
  *  - ADJACENCY: per layer, each node keeps its M best neighbors BY
  *    COSINE among its peers under SEVERAL independent LSH views —
  *    bucketed self-joins, never an all-pairs product (q37's
  *    candidate discipline); multiple views stitch buckets into one
  *    navigable component. Deterministic: rounded sim desc, id asc.
  *  - SEARCH: beam search as iterated joins — frontier ∪ its
  *    out-neighbors, score against the query, keep the best `beam`;
  *    a fixed hop budget per layer unrolls to a static plan (and to
  *    an exact SQL replay — q355's oracle reproduces the whole walk,
  *    so the ORACLE is exact equality, strictly stronger than a
  *    recall floor). The layer-1 walk seeds the layer-0 walk.
  *  - SCALE: the adjacency store persists hive-partitioned by
  *    (level, bucket); each hop joins the BROADCAST frontier against
  *    it on (bucket, src), so partition pruning limits the scan to
  *    the buckets the walk actually visits — the q355 output carries
  *    the visited/total bucket counts as oracled columns.
  *  - APPEND: adjacency is a pure function of the node set (top-M
  *    per bucket), so incremental insertion — recompute ONLY the
  *    buckets the new nodes land in, keep every other edge — must
  *    equal a full rebuild EXACTLY (q197's law, but byte-exact on
  *    edges rather than on search answers).
  */
object GraphAnn {

  /** Plane-sign rows for LSH view `view`: globally-indexed rows
    * view*nPlanes .. view*nPlanes+nPlanes-1 of the md5-parity matrix,
    * so every view is deterministic and SQL-replayable.
    */
  def viewSigns(view: Int, nPlanes: Int, dims: Int): Seq[Seq[Int]] =
    Similarity.planeSigns((view + 1) * nPlanes, dims)
      .drop(view * nPlanes)

  /** Node decoration: (id, vec, bucket, level) — `bucket` is the
    * view-0 bucket, the adjacency store's partition key.
    */
  def nodes(corpus: DataFrame, vec: String, id: String,
            nPlanes: Int, dims: Int): DataFrame =
    corpus.select(col(id).as("node"),
      Similarity.asDouble(col(vec)).as("nv"))
      .withColumn("bucket", Similarity.lshBucketComposed(col("nv"),
        viewSigns(0, nPlanes, dims)))
      .withColumn("level",
        when(graft.functions.hash60(col("node")) % 4 === 0, 1L)
          .otherwise(0L))

  /** One layer's adjacency: candidates are bucket peers under ANY of
    * `views` independent LSH views (the cross-bucket stitching that
    * makes the graph NAVIGABLE — a single view yields disconnected
    * islands), deduplicated, then each source keeps its top-M by
    * cosine. Still never an all-pairs product: `views` bucketed
    * self-joins. Columns: (level, bucket, src, dst, sim) with
    * `bucket` = the source's view-0 bucket (the partition key).
    */
  def adjacency(nodes: DataFrame, minLevel: Int, m: Int, views: Int,
                nPlanes: Int, dims: Int): DataFrame =
    adjacencyFor(nodes, nodes, minLevel, m, views, nPlanes, dims)

  /** Adjacency restricted to `srcNodes` as SOURCES while candidates
    * come from the FULL node set — the shape incremental maintenance
    * needs (a touched source's best neighbor may live in an
    * untouched bucket).
    */
  private def adjacencyFor(srcNodes: DataFrame, allNodes: DataFrame,
                           minLevel: Int, m: Int, views: Int,
                           nPlanes: Int, dims: Int): DataFrame = {
    val srcs = srcNodes.filter(col("level") >= minLevel)
    val all = allNodes.filter(col("level") >= minLevel)
    val pairs = (0 until views).map { r =>
      val signs = viewSigns(r, nPlanes, dims)
      val a = srcs.withColumn("vb",
        Similarity.lshBucketComposed(col("nv"), signs))
        .select(col("node").as("src"), col("bucket").as("sbucket"),
          col("vb"))
      val b = all.withColumn("vb",
        Similarity.lshBucketComposed(col("nv"), signs))
        .select(col("node").as("dst"), col("vb"))
      a.join(b, Seq("vb")).filter(col("src") =!= col("dst"))
        .select(col("src"), col("sbucket"), col("dst"))
    }.reduce(_.union(_)).distinct()
    val scored = pairs
      .join(all.select(col("node").as("src"), col("nv").as("sv")),
        Seq("src"))
      .join(all.select(col("node").as("dst"), col("nv").as("dv")),
        Seq("dst"))
      .withColumn("sim",
        round(Similarity.cosine(col("sv"), col("dv")), 6))
      .select(col("sbucket").as("bucket"), col("src"), col("dst"),
        col("sim"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= m)
      .select(lit(minLevel.toLong).as("level"), col("bucket"),
        col("src"), col("dst"), col("sim"))
  }

  /** Incremental append (q197's shape): keep edges of untouched
    * buckets, rebuild ONLY the buckets that received a new node —
    * over the FULL node set, so the result is definitionally the
    * rebuild answer when the maintenance is correct.
    */
  def appendAdjacency(oldAdj: DataFrame, allNodes: DataFrame,
                      newNodes: DataFrame, minLevel: Int, m: Int,
                      views: Int, nPlanes: Int,
                      dims: Int): DataFrame = {
    // a new node can add candidate pairs in any bucket it shares
    // under ANY view with an existing node — the touched set is its
    // view-0 buckets UNION the view-0 buckets of its view-peers
    val newN = newNodes.filter(col("level") >= minLevel)
    val existing = allNodes.filter(col("level") >= minLevel)
    val touched = (0 until views).map { r =>
      val nb = newN.withColumn("vb", Similarity.lshBucketComposed(
        col("nv"), viewSigns(r, nPlanes, dims)))
        .select(col("vb")).distinct()
      existing.withColumn("vb", Similarity.lshBucketComposed(
        col("nv"), viewSigns(r, nPlanes, dims)))
        .join(broadcast(nb), Seq("vb"), "left_semi")
        .select(col("bucket"))
    }.reduce(_.union(_)).distinct()
    val kept = oldAdj.filter(col("level") === minLevel.toLong)
      .join(broadcast(touched), Seq("bucket"), "left_anti")
    val rebuilt = adjacencyFor(
      allNodes.join(broadcast(touched), Seq("bucket"), "left_semi"),
      allNodes, minLevel, m, views, nPlanes, dims)
    kept.unionByName(rebuilt)
      .select(col("level"), col("bucket"), col("src"), col("dst"),
        col("sim"))
  }

  /** Score a (query_id, node) candidate set and keep the top `beam`
    * per query — the frontier shape every walk step (and the seeding
    * step) shares. Columns out: (query_id, node, bucket, sim).
    */
  def beamOf(cand: DataFrame, nodes: DataFrame, queries: DataFrame,
             beam: Int): DataFrame = {
    val scored = cand
      .join(nodes.select(col("node"), col("nv"), col("bucket")),
        Seq("node"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("sim",
        round(Similarity.cosine(col("qv"), col("nv")), 6))
      .select(col("query_id"), col("node"), col("bucket"),
        col("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("node").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= beam)
      .drop("rn")
  }

  /** The query's own candidate seeds: its bucket peers under every
    * LSH view (multi-probe-style) — the ef-seed set the layer-0 walk
    * starts from, refined by graph expansion. Queries must be corpus
    * nodes (`queryNodes` decorated like [[nodes]]).
    */
  def viewPeerSeeds(queryNodes: DataFrame, allNodes: DataFrame,
                    views: Int, nPlanes: Int,
                    dims: Int): DataFrame =
    (0 until views).map { r =>
      val signs = viewSigns(r, nPlanes, dims)
      val q = queryNodes.select(col("node").as("query_id"),
        Similarity.lshBucketComposed(col("nv"), signs).as("vb"))
      val c = allNodes.select(col("node"),
        Similarity.lshBucketComposed(col("nv"), signs).as("vb"))
      q.join(c, Seq("vb")).select(col("query_id"), col("node"))
    }.reduce(_.union(_)).distinct()

  /** One beam-search layer: `hops` rounds of expand → score → keep
    * top `beam`. Frontier columns: (query_id, node, bucket, sim).
    * Returns every intermediate frontier (for the visited-bucket
    * audit) with the final one last. Each hop's frontier is pinned
    * behind a tracked checkpoint, so the next hop plans on a leaf, not
    * on every hop before it, and the task binary stays one hop's size.
    */
  def walk(frontier0: DataFrame, adj: DataFrame, nodes: DataFrame,
           queries: DataFrame, hops: Int, beam: Int)
      : Seq[DataFrame] = {
    var frontier = frontier0
    val out = Seq.newBuilder[DataFrame]
    out += frontier
    var h = 0
    while (h < hops) {
      val expanded = adj
        .join(broadcast(frontier.select(col("node").as("src"),
          col("bucket"), col("query_id"))), Seq("bucket", "src"))
        .select(col("query_id"), col("dst").as("node"))
      val cand = frontier.select(col("query_id"), col("node"))
        .union(expanded).distinct()
      frontier = beamOf(cand, nodes, queries, beam).trackedCheckpoint()
      out += frontier
      h += 1
    }
    out.result()
  }
}
