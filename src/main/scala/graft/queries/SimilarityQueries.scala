package graft.queries

import graft.Engine
import graft.operators.Similarity
import graft.functions.{c_round => round}
import org.apache.spark.sql.functions._

/** Similarity-search coverage over `embeddings` (64-dim float vectors):
  * brute-force cosine top-k as the exactness baseline, random-hyperplane
  * LSH bucketing as the 100 TB path, and embedding near-dup pairs.
  *
  * Oracle note: both engines compute dot products as sequential
  * left-folds over the same doubles (float→double cast is exact), so raw
  * similarities agree bit-for-bit; outputs still round to 6 decimals.
  */
object SimilarityQueries {

  private val Dims = 64
  private val Planes = 8

  /** DuckDB cosine with explicit dot/norm (mirrors Similarity.cosine). */
  private def sqlCos(a: String, b: String): String =
    s"""(list_dot_product($a, $b)
        / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"""

  /** Shared oracle for the streamed k-means epoch — q198 (3-way fold by
    * direct kmeansIterBatch calls) and q213 (the same fold through a
    * LIVE kmeansIterStream run) must both be bit-identical to one
    * full-corpus Lloyd iteration from the frozen centroids.
    */
  private lazy val kmeansEpochOracle: String = s"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        cent AS (SELECT vec_id AS centroid_id, vec AS cv FROM v
                 WHERE vec_id % 101 = 0),
        assigned AS (
          SELECT vec_id, vec,
                 (list(centroid_id ORDER BY
                    CAST(round(${sqlCos("vec", "cv")} * 1e6) AS BIGINT) DESC,
                    centroid_id ASC))[1] AS cluster_id
          FROM v CROSS JOIN cent GROUP BY vec_id, vec),
        sums AS (
          SELECT cluster_id, g.dim,
                 CAST(sum(CAST(round(vec[g.dim] * 1e9) AS BIGINT)) AS BIGINT)
                   AS sxi
          FROM assigned CROSS JOIN generate_series(1, $Dims) g(dim)
          GROUP BY cluster_id, g.dim),
        means AS (
          SELECT cluster_id, list(sxi / 1e9 ORDER BY dim) AS mv FROM sums
          GROUP BY cluster_id),
        folded AS (
          SELECT cluster_id AS centroid_id,
                 list_transform(mv, x -> x / sqrt(list_dot_product(mv, mv)))
                   AS ncv
          FROM means),
        fin AS (
          SELECT c.centroid_id, coalesce(f.ncv, c.cv) AS cv
          FROM cent c LEFT JOIN folded f USING (centroid_id))
        SELECT centroid_id, CAST(g.dim AS BIGINT) AS dim,
               round(cv[g.dim], 6) AS cv_i
        FROM fin CROSS JOIN generate_series(1, $Dims) g(dim)"""

  /** Spherical k-means (k=20, 3 Lloyd's iterations) trained once per
    * (session, sf dir) and shared by q65/q138: the registry contract —
    * relied on by the whole-registry plan gates — is that query builds
    * are cheap, and [[Similarity.kmeans]] runs eager jobs (seed collect
    * + per-iteration localCheckpoint) at build time. The checkpointed
    * result is session-tied, so the cache key carries the session.
    */
  // Weak keys + soft values so a JVM hosting many sessions cannot leak:
  // the cached DataFrame strongly references its session, so a plain
  // map keyed by session would pin stopped sessions forever. With the
  // value held softly, the only path to the session key is soft — the
  // GC clears the whole entry under memory pressure (and always before
  // OOM), while a warm cache survives normal operation. Guarded by the
  // map's own lock; builds are driver-side registry work, so holding it
  // across a (seconds-scale) k-means train is fine.
  private val trainedCache = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    java.util.HashMap[String,
      java.lang.ref.SoftReference[org.apache.spark.sql.DataFrame]]]
  private def trainedCentroids(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame =
    trainedCache.synchronized {
      val perSession = trainedCache.computeIfAbsent(s,
        _ => new java.util.HashMap)
      Option(perSession.get(dir)).flatMap(r => Option(r.get))
          .filter(graft.Checkpoints.isLive) match {
        case Some(df) => df
        case None =>
          val df = Similarity.kmeans(
            Engine.fanOut(Engine.table(s, dir, "embeddings")),
            "embedding", "vec_id", k = 20, iters = 3)
          // session-lifetime by design: the trained table is k×dims
          // doubles (bounded), and Checkpoints.release() between queries
          // must NOT free the blocks this cache will hand to later builds
          graft.Checkpoints.untrack(df)
          perSession.put(dir, new java.lang.ref.SoftReference(df))
          df
      }
    }

  /** The DuckDB twin of [[trainedCentroids]]: recursive-CTE replay of
    * all 3 Lloyd's iterations (md5-ordered seeds, round(cos·1e6) argmax
    * with centroid-id tie-break, 1e-9-quantized integer dimension sums,
    * list_dot_product renorm — the bit-compatible fold q70 pins; empty
    * clusters keep the previous centroid on both sides). Yields CTEs
    * `v` (vec_id, vec) and `trained` (centroid_id, cvec); callers embed
    * as `WITH RECURSIVE $$kmeansTrainedCtes, ...`.
    */
  private def kmeansTrainedCtes: String = s"""v AS (
          SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        init AS (
          SELECT CAST(row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT)
                   - 1 AS centroid_id, vec AS cv
          FROM v
          QUALIFY row_number() OVER (
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 20),
        cent(iter, centroid_id, cv) AS (
          SELECT 0 AS iter, centroid_id, cv FROM init
          UNION ALL
          SELECT p.iter + 1, p.centroid_id, coalesce(r.ncv, p.cv)
          FROM cent p LEFT JOIN (
            WITH assigned AS (
              SELECT vec_id, vec,
                     (list(centroid_id ORDER BY
                        CAST(round(${sqlCos("vec", "cv")} * 1e6) AS BIGINT) DESC,
                        centroid_id ASC))[1] AS cluster_id
              FROM v CROSS JOIN cent GROUP BY vec_id, vec),
            sums AS (
              SELECT cluster_id, g.dim,
                     CAST(sum(CAST(round(vec[g.dim] * 1e9) AS BIGINT)) AS BIGINT)
                       AS sxi
              FROM assigned CROSS JOIN generate_series(1, $Dims) g(dim)
              GROUP BY cluster_id, g.dim),
            means AS (
              SELECT cluster_id, list(sxi / 1e9 ORDER BY dim) AS mv FROM sums
              GROUP BY cluster_id)
            SELECT cluster_id AS centroid_id,
                   list_transform(mv, x -> x / sqrt(list_dot_product(mv, mv)))
                     AS ncv
            FROM means) r USING (centroid_id)
          WHERE p.iter < 3),
        trained AS (SELECT centroid_id, cv AS cvec FROM cent WHERE iter = 3)"""

  /** The plane-sign matrix as DuckDB list literals. */
  private def sqlPlanes(planes: Int = Planes, dims: Int = Dims): Seq[String] =
    Similarity.planeSigns(planes, dims).map(p =>
      p.map(s => s"$s.0").mkString("[", ", ", "]"))

  /** DuckDB LSH bucket expression over a DOUBLE[] column `v`. */
  private def sqlBucket(v: String, planes: Int = Planes,
                        dims: Int = Dims): String =
    sqlPlanes(planes, dims).zipWithIndex.map { case (plane, p) =>
      s"(CASE WHEN list_dot_product($v, $plane) > 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB LSH bucket for GraphAnn view `r`: globally-indexed plane
    * rows r*vplanes .. (r+1)*vplanes-1 over the `nv` column (the twin
    * of GraphAnn.viewSigns + lshBucketComposed).
    */
  private def sqlBucketView(r: Int, vplanes: Int,
                            dims: Int = Dims): String = {
    val signs = graft.operators.GraphAnn.viewSigns(r, vplanes, dims)
    signs.zipWithIndex.map { case (plane, p) =>
      val lit = plane.map(s => s"$s.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(nv, $lit) > 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** DuckDB CTE chain computing (vec_id, j, code): the per-subspace PQ
    * assignments of Similarity.pqEncode, re-derived data-driven from the
    * same md5-parity codebook (shared by q117/q118).
    */
  private val sqlPqCodes: String = """
        terms AS (
          SELECT vec_id, g.j, gk.k, gd.d,
                 (CASE WHEN CAST('0x' || substr(md5(
                      'pq:' || g.j || ':' || gk.k || ':' || gd.d), 1, 1)
                      AS INT) % 2 = 0 THEN 1 ELSE -1 END)
                 * CAST(round(embedding[8 * g.j + gd.d] * 1e6) AS BIGINT)
                   AS t
          FROM embeddings
          CROSS JOIN generate_series(0, 7) g(j)
          CROSS JOIN generate_series(0, 15) gk(k)
          CROSS JOIN generate_series(1, 8) gd(d)),
        dots AS (
          SELECT vec_id, j, k, CAST(sum(t) AS BIGINT) AS dot
          FROM terms GROUP BY 1, 2, 3),
        pq AS (
          SELECT vec_id, j, (list(k ORDER BY dot DESC, k))[1] AS code
          FROM dots GROUP BY vec_id, j)"""

  /** Persisted-IVF index path under java.io.tmpdir, keyed on the sf dir
    * AND a fingerprint of the input files (count, total bytes, max
    * mtime), so the index builds at most once per dataset VERSION: the
    * registry contract (relied on by the whole-registry plan gates) is
    * that query builds are cheap — re-running the assignment write job
    * per plan inspection is not — while the fingerprint keeps a
    * REGENERATED dataset from silently serving a stale index (the
    * listing is a few ms). `suffix` separates q134's full build from
    * q197's build-then-append lineage.
    */
  private def ivfIndexPath(s: org.apache.spark.sql.SparkSession,
                           dir: String, suffix: String): String = {
    val fpPath = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = fpPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(fpPath).filter(_.isFile)
    val fp = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.productHash(
        (files.length, files.map(_.getLen).sum,
          files.map(_.getModificationTime).max)).toLong & 0xffffffffL)
    s"${System.getProperty("java.io.tmpdir")}/graft_ivf_" + suffix + "_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + s"_$fp"
  }

  /** Existence probe through the Hadoop FileSystem of the path's
    * scheme — the index path works on any FS the session can reach,
    * not just the local disk.
    */
  private def fsExists(s: org.apache.spark.sql.SparkSession,
                       path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Zero-byte marker create (overwrite) via Hadoop FileSystem. */
  private def fsTouch(s: org.apache.spark.sql.SparkSession,
                      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .create(p, true).close()
  }

  /** Shared oracle for q134 AND q197: the persisted-index search answer
    * over the FULL corpus (q43's in-flight semantics). q197's
    * incremental append is correct precisely iff it equals this
    * full-rebuild answer.
    */
  private val ivfIndexedOracle: String = s"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        cent AS (SELECT vec_id AS centroid_id, vec AS cvec FROM v
                 WHERE vec_id % 101 = 0),
        assign AS (
          SELECT vec_id, vec, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(${sqlCos("vec", "cvec")}, 6) DESC,
                            centroid_id ASC) AS rn
          FROM v CROSS JOIN cent),
        corpus AS (SELECT vec_id AS neighbor_id, vec AS nvec,
                          centroid_id AS cluster_id
                   FROM assign WHERE rn = 1),
        probes AS (
          SELECT vec_id AS query_id, vec AS qvec, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(${sqlCos("vec", "cvec")}, 6) DESC,
                            centroid_id ASC) AS rn
          FROM v CROSS JOIN cent WHERE vec_id % 50 = 0),
        probed AS (SELECT query_id, qvec, centroid_id AS cluster_id
                   FROM probes WHERE rn <= 3),
        scored AS (
          SELECT p.query_id, p.cluster_id, c.neighbor_id,
                 round(${sqlCos("p.qvec", "c.nvec")}, 6) AS sim
          FROM probed p JOIN corpus c USING (cluster_id)
          WHERE p.query_id != c.neighbor_id),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, cluster_id, neighbor_id, rank, sim
        FROM ranked WHERE rank <= 3"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // Brute-force cosine top-3 for every 50th vector — exact baseline.
    "q36_cosine_topk" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.table(s, dir, "embeddings")
        val queries = e.filter(col("vec_id") % 50 === 0)
        // fanOut the corpus side: the pairwise cosine scoring is
        // expression-bound and must not run on the scan's single task.
        Similarity.cosineTopK(Engine.fanOut(e), queries, "embedding",
          "vec_id", k = 3)
      },
      oracle = Some(s"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(${sqlCos("q.vec", "c.vec")}, 6) AS sim
          FROM v q JOIN v c ON q.vec_id != c.vec_id
          WHERE q.vec_id % 50 = 0),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 3"""),
      headline = true),

    // LSH-bucketed ANN — the scale path: candidates only within the
    // 8-hyperplane bucket, ranked by cosine.
    "q37_ann_lsh" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.table(s, dir, "embeddings")
        val queries = e.filter(col("vec_id") % 50 === 0)
        Similarity.lshTopK(Engine.fanOut(e), queries, "embedding", "vec_id",
          k = 3, nPlanes = Planes, dims = Dims)
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT vec_id, vec, ${sqlBucket("vec")} AS bucket
          FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)),
        scored AS (
          SELECT q.vec_id AS query_id, q.bucket AS bucket,
                 c.vec_id AS neighbor_id,
                 round(${sqlCos("q.vec", "c.vec")}, 6) AS sim
          FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
          WHERE q.vec_id % 50 = 0),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, bucket, neighbor_id, rank, sim
        FROM ranked WHERE rank <= 3""")),

    // IVF ANN — the alternate scale path: corpus vectors assigned to
    // their nearest centroid list (centroids broadcast → map-side
    // assignment), queries probe the nprobe=3 nearest lists. Centroids
    // are a deterministic corpus sample (vec_id % 101); production would
    // k-means them with an identical query shape.
    "q43_ann_ivf" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.table(s, dir, "embeddings")
        val centroids = e.filter(col("vec_id") % 101 === 0)
          .select(col("vec_id").as("centroid_id"),
            Similarity.asDouble(col("embedding")).as("cv"))
        val queries = e.filter(col("vec_id") % 50 === 0)
        Similarity.ivfTopK(Engine.fanOut(e), queries, "embedding", "vec_id",
          k = 3, centroids = centroids, nprobe = 3)
      },
      oracle = Some(s"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        cent AS (SELECT vec_id AS centroid_id, vec AS cvec FROM v
                 WHERE vec_id % 101 = 0),
        assign AS (
          SELECT vec_id, vec, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(${sqlCos("vec", "cvec")}, 6) DESC,
                            centroid_id ASC) AS rn
          FROM v CROSS JOIN cent),
        corpus AS (SELECT vec_id AS neighbor_id, vec AS nvec,
                          centroid_id AS cluster_id
                   FROM assign WHERE rn = 1),
        probes AS (
          SELECT vec_id AS query_id, vec AS qvec, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(${sqlCos("vec", "cvec")}, 6) DESC,
                            centroid_id ASC) AS rn
          FROM v CROSS JOIN cent WHERE vec_id % 50 = 0),
        probed AS (SELECT query_id, qvec, centroid_id AS cluster_id
                   FROM probes WHERE rn <= 3),
        scored AS (
          SELECT p.query_id, p.cluster_id, c.neighbor_id,
                 round(${sqlCos("p.qvec", "c.nvec")}, 6) AS sim
          FROM probed p JOIN corpus c USING (cluster_id)
          WHERE p.query_id != c.neighbor_id),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, cluster_id, neighbor_id, rank, sim
        FROM ranked WHERE rank <= 3"""),
      headline = true),

    // IVF index BUILD leg (q134's write pass, measured as compute): the
    // broadcast-centroid assignment over the whole corpus plus the
    // per-list size aggregate — the data-sized cost a build pays before
    // the hive-partitioned write. Benched alongside q134's search leg
    // so both halves of build-once/search-many carry numbers. (Bench
    // executes every query through the noop sink, so all queries
    // measure compute, not sink IO — this one included.)
    "q137_ivf_list_sizes" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.table(s, dir, "embeddings")
        val centroids = e.filter(col("vec_id") % 101 === 0)
          .select(col("vec_id").as("centroid_id"),
            Similarity.asDouble(col("embedding")).as("cv"))
        Similarity.ivfAssign(Engine.fanOut(e), centroids,
            "embedding", "vec_id")
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_vectors"))
      },
      oracle = Some(s"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        cent AS (SELECT vec_id AS centroid_id, vec AS cvec FROM v
                 WHERE vec_id % 101 = 0),
        assign AS (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(${sqlCos("vec", "cvec")}, 6) DESC,
                            centroid_id ASC) AS rn
          FROM v CROSS JOIN cent)
        SELECT centroid_id AS cluster_id, count(*) AS n_vectors
        FROM assign WHERE rn = 1 GROUP BY centroid_id"""),
      headline = true),

    // IVF over TRAINED centroids: spherical k-means (3 Lloyd's
    // iterations) replaces the deterministic sample of q43. The training
    // is partitioning-invariant by construction — exact 1e-9-quantized
    // integer dimension sums, md5-ordered seed selection, fixed iteration
    // count — which makes it CROSS-ENGINE reproducible too: the oracle
    // re-derives all 3 Lloyd's iterations as a DuckDB recursive CTE
    // (seeds via the same md5 order, assignment via the same
    // round(cos·1e6) argmax with centroid-id tie-break, means via the
    // same integer sums, spherical renorm via list_dot_product — the
    // bit-compatible fold q70 pins), then runs q43's probe/rank skeleton
    // over the trained table. Empty clusters keep the previous centroid
    // on both sides (LEFT JOIN + coalesce ≡ the Spark left join).
    "q65_ann_ivf_trained" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.fanOut(Engine.table(s, dir, "embeddings"))
        val queries = e.filter(col("vec_id") % 50 === 0)
        Similarity.ivfTopK(e, queries, "embedding", "vec_id",
          k = 3, centroids = trainedCentroids(s, dir), nprobe = 3)
      },
      oracle = Some(s"""
        WITH RECURSIVE $kmeansTrainedCtes,
        assign AS (
          SELECT vec_id, vec, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(${sqlCos("vec", "cvec")}, 6) DESC,
                            centroid_id ASC) AS rn
          FROM v CROSS JOIN trained),
        corpus AS (SELECT vec_id AS neighbor_id, vec AS nvec,
                          centroid_id AS cluster_id
                   FROM assign WHERE rn = 1),
        probes AS (
          SELECT vec_id AS query_id, vec AS qvec, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(${sqlCos("vec", "cvec")}, 6) DESC,
                            centroid_id ASC) AS rn
          FROM v CROSS JOIN trained WHERE vec_id % 50 = 0),
        probed AS (SELECT query_id, qvec, centroid_id AS cluster_id
                   FROM probes WHERE rn <= 3),
        scored AS (
          SELECT p.query_id, p.cluster_id, c.neighbor_id,
                 round(${sqlCos("p.qvec", "c.nvec")}, 6) AS sim
          FROM probed p JOIN corpus c USING (cluster_id)
          WHERE p.query_id != c.neighbor_id),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, cluster_id, neighbor_id, rank, sim
        FROM ranked WHERE rank <= 3""")),

    // SemDeDup (Abbas et al. 2023): semantic dedup = cluster first
    // (the same trained k-means as q65), pairwise-compare ONLY within a
    // cluster, keep the example farthest from its centroid in each
    // cosine-≥-τ neighborhood. The quadratic stage is bounded by
    // cluster size, never corpus size — the clustering IS the scale
    // story. Every vector comes back with its cluster, centroid
    // similarity, and kept flag so drop rates are auditable per
    // cluster; the oracle replays training (shared recursive CTE),
    // assignment, and the EXISTS drop rule verbatim.
    "q138_semdedup" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.fanOut(Engine.table(s, dir, "embeddings"))
        Similarity.semDedup(e, trainedCentroids(s, dir),
          "embedding", "vec_id", tau = 0.4)
      },
      oracle = Some(s"""
        WITH RECURSIVE $kmeansTrainedCtes,
        assign AS (
          SELECT vec_id, vec, centroid_id,
                 round(${sqlCos("vec", "cvec")}, 6) AS cent_sim,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(${sqlCos("vec", "cvec")}, 6) DESC,
                            centroid_id ASC) AS rn
          FROM v CROSS JOIN trained),
        members AS (
          SELECT vec_id, vec, centroid_id AS cluster_id, cent_sim
          FROM assign WHERE rn = 1),
        dropped AS (
          SELECT DISTINCT b.vec_id
          FROM members a JOIN members b
            ON a.cluster_id = b.cluster_id AND a.vec_id != b.vec_id
           AND (a.cent_sim < b.cent_sim OR
                (a.cent_sim = b.cent_sim AND a.vec_id < b.vec_id))
          WHERE round(${sqlCos("a.vec", "b.vec")}, 6) >= 0.4)
        SELECT m.vec_id, m.cluster_id, m.cent_sim,
               m.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
        FROM members m"""),
      headline = true),

    // Greedy k-center diversity coreset (Gonzalez farthest-point):
    // 8 maximally-spread exemplars — the diversity-selection
    // counterpart to q138's redundancy removal. Each round scans once,
    // reduces via TakeOrderedAndProject with the selected set as an
    // m×dims plan literal; the oracle replays the whole traversal as a
    // recursive CTE carrying the selected ids/vectors/distances in
    // list columns, with the identical 1e-9-quantized argmax and id
    // tie-break. dist is the shared quantized integer over 1e9 — no
    // rounding, bit-identical by construction.
    "q141_kcenter_coreset" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.fanOut(Engine.table(s, dir, "embeddings"))
        Similarity.kCenterCoreset(e, "embedding", "vec_id", m = 8)
      },
      oracle = Some(s"""
        WITH RECURSIVE v AS (
          SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        seed AS (
          SELECT vec_id, vec FROM v ORDER BY vec_id LIMIT 1),
        sel(r, ids, vecs, dqs) AS (
          SELECT 1, [vec_id], [vec], [CAST(0 AS BIGINT)] FROM seed
          UNION ALL
          SELECT s.r + 1,
                 list_append(s.ids, b.bst.vec_id),
                 list_append(s.vecs, b.bst.vec),
                 list_append(s.dqs, b.bst.mdq)
          FROM sel s JOIN (
            WITH cand AS (
              SELECT v.vec_id, v.vec,
                     list_min(list_transform(s2.vecs, c ->
                       CAST(round((1 - ${sqlCos("v.vec", "c")}) * 1e9)
                         AS BIGINT))) AS mdq
              FROM v, sel s2
              WHERE NOT list_contains(s2.ids, v.vec_id))
            SELECT (list(struct_pack(vec_id := vec_id, vec := vec,
                     mdq := mdq) ORDER BY mdq DESC, vec_id ASC))[1] AS bst
            FROM cand) b ON s.r < 8),
        fin AS (SELECT ids, dqs FROM sel WHERE r = 8),
        expand AS (
          SELECT ids, dqs, unnest(generate_series(1, 8)) AS rk FROM fin)
        SELECT CAST(rk AS BIGINT) AS sel_rank, ids[rk] AS vec_id,
               dqs[rk] / 1e9 AS dist
        FROM expand"""),
      headline = true),

    // Exact embedding covariance (whitening/PCA prep): the full 64×64
    // upper triangle from ONE pass of the CovMoments typed Aggregator —
    // fixed d(d+3)/2+1 longs of mergeable state on the partial-agg
    // path, the same scaling class as a sketch but exact. Component and
    // product sums quantize to 1e-9 integers with DuckDB-round
    // semantics pinned in the Aggregator; the final covariance is then
    // computed and rounded ENTIRELY on the integer grid —
    //   cov·1e18·n² = 1e9·n·P_ij − S_i·S_j  (exact in Decimal/HUGEINT)
    // quantized to 1e-6 by half-away-from-zero integral division
    // ((2|N|+D) div 2D on the non-negative side, sign restored), so no
    // engine's double-rounding tie-break ever enters the result. The
    // pair index table (2080 rows) is a local literal joined onto the
    // 1-row moment state.
    "q143_embedding_covariance" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.fanOut(Engine.table(s, dir, "embeddings"))
        val cm = graft.operators.CovMoments(Dims)
        val st = e.select(Similarity.asDouble(col("embedding")).as("v"))
          .agg(cm(col("v")).as("st"))
        val pairs = for { i <- 0 until Dims; j <- i until Dims }
          yield (cm.offset(i, j), i, j)
        import s.implicits._
        val pt = pairs.toDF("idx", "i", "j")
        pt.crossJoin(broadcast(st))
          .withColumn("n", element_at(col("st"), lit(1))
            .cast(org.apache.spark.sql.types.DecimalType(20, 0)))
          .withColumn("si", element_at(col("st"), col("i") + 2)
            .cast(org.apache.spark.sql.types.DecimalType(20, 0)))
          .withColumn("sj", element_at(col("st"), col("j") + 2)
            .cast(org.apache.spark.sql.types.DecimalType(20, 0)))
          .withColumn("p", element_at(col("st"), col("idx") + lit(2 + Dims))
            .cast(org.apache.spark.sql.types.DecimalType(20, 0)))
          // num = cov·1e18·n² and den = 1e12·n² (so num/den = cov·1e6),
          // both exact integers in Decimal(38,0).
          .withColumn("num",
            expr("CAST(1000000000 AS DECIMAL(20,0)) * n * p - si * sj"))
          .withColumn("den",
            expr("CAST(1000000000000 AS DECIMAL(20,0)) * n * n"))
          .select(col("i").cast("long").as("dim_i"),
            col("j").cast("long").as("dim_j"),
            expr("""CAST(CASE WHEN num >= 0
                     THEN (2 * num + den) div (2 * den)
                     ELSE -((-2 * num + den) div (2 * den)) END AS DOUBLE)
                   / 1e6""").as("cov"))
      },
      oracle = Some(s"""
        WITH v AS (SELECT embedding::DOUBLE[] AS vec FROM embeddings),
        nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM v),
        dm AS (SELECT unnest(generate_series(0, ${Dims - 1})) AS i),
        ij AS (SELECT a.i AS i, b.i AS j FROM dm a, dm b WHERE b.i >= a.i),
        sums AS (
          SELECT dm.i AS i,
                 CAST(sum(CAST(round(vec[dm.i + 1] * 1e9) AS BIGINT))
                   AS HUGEINT) AS s
          FROM v CROSS JOIN dm GROUP BY dm.i),
        prods AS (
          SELECT x.i AS i, x.j AS j,
                 CAST(sum(CAST(round(vec[x.i + 1] * vec[x.j + 1] * 1e9)
                   AS BIGINT)) AS HUGEINT) AS p
          FROM v CROSS JOIN ij x GROUP BY x.i, x.j),
        grid AS (
          SELECT p.i, p.j,
                 CAST(1000000000 AS HUGEINT) * nn.n * p.p - si.s * sj.s
                   AS num,
                 CAST(1000000000000 AS HUGEINT) * nn.n * nn.n AS den
          FROM prods p
          JOIN sums si ON si.i = p.i
          JOIN sums sj ON sj.i = p.j
          CROSS JOIN nn)
        SELECT CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j,
               CAST(CASE WHEN num >= 0
                    THEN (2 * num + den) // (2 * den)
                    ELSE -((-2 * num + den) // (2 * den)) END AS DOUBLE)
                 / 1e6 AS cov
        FROM grid"""),
      headline = true),

    // Per-vector array analytics: norm / min / max / mean of each
    // embedding as one codegen'd projection — both engines fold the
    // array sequentially, so values agree bit-for-bit before rounding.
    "q70_vector_stats" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.table(s, dir, "embeddings")
        val v = Similarity.asDouble(col("embedding"))
        e.select(col("vec_id"),
          round(Similarity.norm(v), 6).as("vnorm"),
          round(array_min(v), 6).as("vmin"),
          round(array_max(v), 6).as("vmax"),
          round(aggregate(v, lit(0.0), (acc, x) => acc + x) / size(v), 6)
            .as("vmean"))
      },
      oracle = Some("""
        SELECT vec_id,
               round(sqrt(list_dot_product(vec, vec)), 6) AS vnorm,
               round(list_min(vec), 6) AS vmin,
               round(list_max(vec), 6) AS vmax,
               round(list_sum(vec) / len(vec), 6) AS vmean
        FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)""")),

    // Int8 max-abs quantization: the vector-store prep pass (4× smaller
    // index, dot products in integer SIMD). scale = 127/max|x|; each
    // element rounds to [-127, 127]. Pure projection — zero shuffles at
    // Johnson-Lindenstrauss ±1 random projection 64→8 dims (embedding
    // compression ahead of clustering/ANN): eight sign-pattern dot
    // products scaled by 1/√64 (exact power of two), zero shuffle. The
    // sign matrix re-derives from planeSign at offset 100 — a different
    // deterministic matrix than the LSH planes, same construction both
    // engines.
    "q101_random_projection" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.table(s, dir, "embeddings")
        val v = Similarity.asDouble(col("embedding"))
        val projCols = (0 until 8).map { p =>
          val plane = array((0 until Dims).map(d =>
            lit(Similarity.planeSign(100 + p, d).toDouble)): _*)
          round(Similarity.dot(v, plane) / 8.0, 6).as(s"p$p")
        }
        e.select(col("vec_id") +: projCols: _*)
      },
      oracle = Some {
        val projs = (0 until 8).map { p =>
          val plane = (0 until Dims).map(d =>
            s"${Similarity.planeSign(100 + p, d)}.0").mkString("[", ", ", "]")
          s"round(list_dot_product(embedding::DOUBLE[], $plane) / 8.0, 6) AS p$p"
        }.mkString(",\n               ")
        s"SELECT vec_id,\n               $projs\nFROM embeddings"
      }),

    // any corpus size. The checksum (sum of quantized ints) and bounds
    // make the whole quantized vector oracle-comparable without emitting
    // 64 columns; float→double promotion is exact on both engines.
    "q93_quantize_int8" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.table(s, dir, "embeddings")
        val v = Similarity.asDouble(col("embedding"))
        e.select(col("vec_id"), v.as("v"))
          .withColumn("scale", lit(127.0) / array_max(transform(col("v"), abs(_))))
          .withColumn("q", transform(col("v"),
            x => round(x * col("scale"), 0).cast("long")))
          .select(col("vec_id"), round(col("scale"), 6).as("scale"),
            aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
            array_min(col("q")).as("q_min"), array_max(col("q")).as("q_max"))
      },
      oracle = Some("""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS vec,
                 127.0 / list_max(list_transform(embedding::DOUBLE[],
                   x -> abs(x))) AS scale
          FROM embeddings),
        q AS (
          SELECT vec_id, scale,
                 list_transform(vec, x -> CAST(round(x * scale, 0) AS BIGINT)) AS qv
          FROM v)
        SELECT vec_id, round(scale, 6) AS scale,
               CAST(list_sum(qv) AS BIGINT) AS q_sum,
               list_min(qv) AS q_min, list_max(qv) AS q_max
        FROM q""")),

    // Embedding near-dup pairs: same bucket AND cosine ≥ τ (τ=0.3 — the
    // synthetic vectors are noise; real corpora would use ~0.95).
    // The continuous EMBEDDING near-dup ingest, oracle-backed — the
    // vector twin of the text gate (q209): embeddings arrive as two
    // mtimes-ordered deliveries, and each micro-batch of
    // embNearDupIngest drops vectors whose 6dp-rounded cosine against
    // any SAME-BUCKET stored survivor reaches tau, then within-batch
    // (smaller id wins), then appends survivors' (bucket, vector) rows
    // to the store. One threshold rule everywhere (the store gate
    // rounds exactly like the within-batch compare). The oracle
    // replays the arrival-order semantics with q38's bucket/cosine
    // spellings. Drain ×2 from one checkpoint rewrites nothing.
    "q212_stream_emb_neardup" -> QueryDef(
      build = (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val e = Engine.table(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val dv = new StreamDeliveries("graft_q212_embdup")
        val root = dv.root
        def land(df: org.apache.spark.sql.DataFrame, name: String,
                 mtime: Long): Unit = dv.land(df, name, mtime)
        land(e.filter(col("vec_id") % 2 === 0), "a", 1000000000000L)
        land(e.filter(col("vec_id") % 2 === 1), "b", 1000000060000L)
        val store = s"$root/store"; val out = s"$root/out"
        val chk = s"$root/chk"
        def drain(): Unit = {
          val stream = s.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", "1").parquet(dv.dropDir)
          graft.streaming.StreamOps.embNearDupIngest(stream, "embedding",
            "vec_id", store, out, chk, tau = 0.3, nPlanes = Planes,
            dims = Dims,
            trigger = Some(Trigger.AvailableNow())).awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: must rewrite nothing
        s.read.parquet(out)
          .select(col("vec_id"), col("batch").cast("int").as("ingest_batch"))
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT vec_id, vec, ${sqlBucket("vec")} AS bucket
          FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)),
        ev AS (SELECT * FROM v WHERE vec_id % 2 = 0),
        ov AS (SELECT * FROM v WHERE vec_id % 2 = 1),
        edrop AS (
          SELECT DISTINCT b.vec_id FROM ev a JOIN ev b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          WHERE round(${sqlCos("a.vec", "b.vec")}, 6) >= 0.3),
        esurv AS (
          SELECT vec_id, vec, bucket FROM ev
          WHERE vec_id NOT IN (SELECT vec_id FROM edrop)),
        ogated AS (
          SELECT o.vec_id, o.vec, o.bucket FROM ov o
          WHERE NOT EXISTS (
            SELECT 1 FROM esurv s
            WHERE s.bucket = o.bucket
              AND round(${sqlCos("s.vec", "o.vec")}, 6) >= 0.3)),
        odrop AS (
          SELECT DISTINCT b.vec_id FROM ogated a JOIN ogated b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          WHERE round(${sqlCos("a.vec", "b.vec")}, 6) >= 0.3),
        surv AS (
          SELECT vec_id, 0 AS ingest_batch FROM esurv
          UNION ALL
          SELECT vec_id, 1 AS ingest_batch FROM ogated
          WHERE vec_id NOT IN (SELECT vec_id FROM odrop))
        SELECT vec_id, CAST(ingest_batch AS INT) AS ingest_batch
        FROM surv""")),

    "q38_embedding_neardup" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.table(s, dir, "embeddings")
        Similarity.embeddingNearDupPairs(Engine.fanOut(e), "embedding",
          "vec_id", tau = 0.3, nPlanes = Planes, dims = Dims)
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT vec_id, vec, ${sqlBucket("vec")} AS bucket
          FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings))
        SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
               round(${sqlCos("a.vec", "b.vec")}, 6) AS sim
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(${sqlCos("a.vec", "b.vec")}, 6) >= 0.3""")),

    // Product-quantization encode: 64 dims → 8 subspaces × 16
    // deterministic ±1 centroids → one packed BIGINT code (4 bits per
    // subspace). Dots over 1e6-quantized integer components make the
    // argmax exact on any engine; the oracle re-derives the same
    // codebook from md5 parity data-driven (generate_series) while the
    // Spark side unrolls it into one codegen'd zero-shuffle projection.
    "q117_pq_encode" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.table(s, dir, "embeddings")
        Similarity.pqEncode(e, "embedding", "vec_id")
      },
      oracle = Some(s"""
        WITH $sqlPqCodes
        SELECT vec_id,
               CAST(sum(code * (CAST(1 AS BIGINT) << (4 * j))) AS BIGINT)
                 AS pq_code
        FROM pq GROUP BY vec_id""")),

    // Multi-index PQ ANN for every 50th vector: candidates share ≥2 of 8
    // subspace codes with the query (posting-list join — never the
    // all-pairs expansion), exact cosine re-ranks the survivors. The
    // third ANN strategy next to LSH (q37) and IVF (q43), completing
    // the PQ path q117 opens.
    "q118_ann_pq" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.table(s, dir, "embeddings")
        val queries = e.filter(col("vec_id") % 50 === 0)
        Similarity.pqTopK(Engine.fanOut(e), queries, "embedding", "vec_id",
          k = 3, minMatch = 2)
      },
      oracle = Some(s"""
        WITH $sqlPqCodes,
        cand AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 count(*) AS n_match
          FROM pq q JOIN pq c ON q.j = c.j AND q.code = c.code
                            AND q.vec_id != c.vec_id
          WHERE q.vec_id % 50 = 0
          GROUP BY 1, 2 HAVING count(*) >= 2),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        scored AS (
          SELECT query_id, neighbor_id, n_match,
                 round(${sqlCos("q.vec", "c.vec")}, 6) AS sim
          FROM cand JOIN v q ON q.vec_id = query_id
                    JOIN v c ON c.vec_id = neighbor_id),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, n_match, rank, sim
        FROM ranked WHERE rank <= 3""")),

    // Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    // ranking (q119's scoring, full corpus) and the dense cosine ranking
    // against doc 0's embedding fuse as Σ 1/(60+rank) over the top-100
    // of each list — the standard RRF hybrid-search shape. Each list is
    // rank-capped before the full outer join, so the fusion join carries
    // ≤200 rows per query regardless of corpus size; ranks come from
    // integer/rounded sort keys, and the fused score is two fixed-order
    // float terms.
    "q122_hybrid_rrf" -> QueryDef(
      build = (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val qTerms = Seq("spark", "table", "join")
        val d = Engine.table(s, dir, "documents")
        val toks = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        val docLen = toks.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("len"))
        val stats = docLen.agg(count(lit(1)).as("n_docs"),
          sum(col("len")).as("total_len"))
        val tf = toks.where(col("term").isin(qTerms: _*))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(stats))
          .select(col("term"), expr(
            "ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)")
            .as("idf"))
        val lex = tf.join(broadcast(idf), "term").join(docLen, "doc_id")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), expr("""
            CAST(round(idf * (CAST(tf AS DOUBLE) * 2.2
              / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
                 * CAST(len AS DOUBLE)
                 / (CAST(total_len AS DOUBLE) / n_docs)))) * 1e9) AS LONG)
            """).as("ts"))
          .where(col("doc_id") =!= 0)
          .groupBy(col("doc_id")).agg(sum(col("ts")).as("s"))
          // top-100 cut FIRST (TakeOrderedAndProject — per-partition
          // heaps, no corpus-sized single-partition window), then the
          // rank window runs over the 100 survivors only
          .orderBy(col("s").desc, col("doc_id")).limit(100)
          .withColumn("rl", row_number().over(
            Window.orderBy(col("s").desc, col("doc_id"))))
          .select(col("doc_id"), col("rl"))
        val v = Engine.table(s, dir, "embeddings")
          .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
        val dense = v.where(col("vec_id") =!= 0)
          .crossJoin(broadcast(v.where(col("vec_id") === 0)
            .select(col("v").as("qv"))))
          .select(col("vec_id"),
            round(Similarity.cosine(col("qv"), col("v")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(100)
          .withColumn("rd", row_number().over(
            Window.orderBy(col("sim").desc, col("vec_id"))))
          .select(col("vec_id"), col("rd"))
        lex.join(dense, col("doc_id") === col("vec_id"), "full_outer")
          .select(coalesce(col("doc_id"), col("vec_id")).as("id"),
            col("rl").as("lex_rank"), col("rd").as("dense_rank"),
            round(coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0)), 6)
              .as("rrf"))
          .orderBy(col("rrf").desc, col("id")).limit(20)
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
        stats AS (SELECT count(*) AS n_docs,
                         CAST(sum(len) AS BIGINT) AS total_len FROM dl),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
               WHERE term IN ('spark', 'table', 'join') GROUP BY 1, 2),
        idf AS (
          SELECT term, ln((CAST(n_docs - df AS DOUBLE) + 0.5)
                   / (CAST(df AS DOUBLE) + 0.5) + 1.0) AS idf
          FROM (SELECT term, count(*) AS df FROM tf GROUP BY term)
          CROSS JOIN stats),
        lexscore AS (
          SELECT doc_id, CAST(sum(CAST(round(idf * (CAST(tf AS DOUBLE) * 2.2
                   / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
                      * CAST(len AS DOUBLE)
                      / (CAST(total_len AS DOUBLE) / n_docs)))) * 1e9)
                   AS BIGINT)) AS BIGINT) AS s
          FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
          CROSS JOIN stats WHERE doc_id != 0 GROUP BY doc_id),
        lex AS (
          SELECT doc_id, rl FROM (
            SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rl
            FROM lexscore) WHERE rl <= 100),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        dense AS (
          SELECT vec_id, rd FROM (
            SELECT c.vec_id,
                   row_number() OVER (ORDER BY
                     round(${sqlCos("q.vec", "c.vec")}, 6) DESC,
                     c.vec_id) AS rd
            FROM v c CROSS JOIN (SELECT vec FROM v WHERE vec_id = 0) q
            WHERE c.vec_id != 0) WHERE rd <= 100)
        SELECT coalesce(lex.doc_id, dense.vec_id) AS id,
               rl AS lex_rank, rd AS dense_rank,
               round(coalesce(1.0 / (60 + rl), 0.0)
                 + coalesce(1.0 / (60 + rd), 0.0), 6) AS rrf
        FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.vec_id
        ORDER BY rrf DESC, id LIMIT 20""")),

    // End-to-end text retrieval index: documents → feature-hashing
    // vectors (q127's vocabulary-free projection, integer weights) →
    // 6-hyperplane LSH buckets → top-3 cosine within bucket. The whole
    // index build is projections; the only shuffle is the bucket join —
    // the same one the retrieval semantics require. Integer vectors make
    // every dot exact, so ranks are engine-stable.
    "q128_text_index_pipeline" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.fanOut(Engine.table(s, dir, "documents"))
        val hv = d.select(col("doc_id"),
            graft.operators.TextAnalysis.hashingVector(col("text"), dims = 16)
              .as("vec"))
          .filter(Similarity.norm(Similarity.asDouble(col("vec"))) > 0)
        val queries = hv.filter(col("doc_id") % 50 === 0)
        Similarity.lshTopK(hv, queries, "vec", "doc_id",
          k = 3, nPlanes = 6, dims = 16)
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents)),
        g AS (
          SELECT doc_id, h % 16 AS dim,
                 CAST(sum(CASE WHEN (h >> 4) & 1 = 1 THEN 1 ELSE -1 END)
                      AS DOUBLE) AS w
          FROM toks GROUP BY 1, 2),
        dense AS (
          SELECT d.doc_id, gs.dim, coalesce(g.w, 0.0) AS w
          FROM (SELECT DISTINCT doc_id FROM documents) d
          CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS dim) gs
          LEFT JOIN g ON g.doc_id = d.doc_id AND g.dim = gs.dim),
        hv AS (
          SELECT doc_id, list(w ORDER BY dim) AS vec FROM dense
          GROUP BY doc_id),
        v AS (
          SELECT doc_id AS vec_id, vec,
                 ${sqlBucket("vec", planes = 6, dims = 16)} AS bucket
          FROM hv WHERE list_dot_product(vec, vec) > 0),
        scored AS (
          SELECT q.vec_id AS query_id, q.bucket AS bucket,
                 c.vec_id AS neighbor_id,
                 round(${sqlCos("q.vec", "c.vec")}, 6) AS sim
          FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
          WHERE q.vec_id % 50 = 0),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, bucket, neighbor_id, rank, sim
        FROM ranked WHERE rank <= 3"""),
      headline = true),

    // Hard-negative mining for contrastive training: every 100th vector
    // queries for its 2 most-similar neighbors of a DIFFERENT label —
    // near in embedding space, other class. Candidates via the LSH
    // bucket equi-join (q37's scale shape, never all-pairs) with the
    // label-mismatch predicate on the join; bounded-heap top-k per
    // query.
    "q133_hard_negatives" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.fanOut(Engine.table(s, dir, "embeddings"))
        Similarity.hardNegatives(e, "embedding", "vec_id", "label",
          queryPred = col("vec_id") % 100 === 0, k = 2,
          nPlanes = Planes, dims = Dims)
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT vec_id, vec, label, ${sqlBucket("vec")} AS bucket
          FROM (SELECT vec_id, embedding::DOUBLE[] AS vec, label
                FROM embeddings)),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 c.label AS neg_label,
                 round(${sqlCos("q.vec", "c.vec")}, 6) AS sim
          FROM v q JOIN v c
            ON q.bucket = c.bucket AND q.vec_id != c.vec_id
               AND q.label != c.label
          WHERE q.vec_id % 100 = 0),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, neg_label, rank, sim
        FROM ranked WHERE rank <= 2"""),
      headline = true),

    // IVF search over a PERSISTED index: the corpus is written
    // hive-partitioned by cluster_id (one directory per inverted list),
    // then the search reads ONLY the probed lists — the probed-id set is
    // bounded by |centroids|, collects like the centroid matrix, and
    // becomes a literal partition filter (planning-time directory
    // pruning, pinned in ScaleToolkitSpec). Build-once/search-many; the
    // oracle is q43's, because results are identical to the in-flight
    // ivfTopK by construction.
    "q134_ann_ivf_indexed" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.table(s, dir, "embeddings")
        val centroids = e.filter(col("vec_id") % 101 === 0)
          .select(col("vec_id").as("centroid_id"),
            Similarity.asDouble(col("embedding")).as("cv"))
        val queries = e.filter(col("vec_id") % 50 === 0)
        val path = ivfIndexPath(s, dir, "idx")
        if (!fsExists(s, s"$path/_SUCCESS")) {
          Similarity.writeIvfIndex(Engine.fanOut(e), centroids,
            "embedding", "vec_id", path)
        }
        Similarity.searchIvfIndex(s, path, queries, "embedding", "vec_id",
          centroids, k = 3, nprobe = 3)
      },
      oracle = Some(ivfIndexedOracle),
      // headline: the warmup pass builds (and fingerprints) the index,
      // so the timed reps measure the SEARCH leg — the partition-pruned
      // read that is the build-once/search-many serving posture. The
      // build leg's compute is benched as q137.
      headline = true),

    // INCREMENTAL append to the persisted IVF index (promoted from
    // spec-only in round 7): the index is built over 4/5 of the corpus,
    // then the remaining fifth arrives later and appendToIvfIndex lands
    // it inside the existing list directories — new vectors assign to
    // the FROZEN centroid matrix, so placement is identical to a full
    // rebuild, and the search (partition pruning intact) must return
    // EXACTLY what a never-incremental index returns. That equivalence
    // is the operator's whole contract, so the oracle is q134's
    // full-corpus search verbatim: any append-path bug (missed rows,
    // wrong list dir, schema drift between write and append) shows up
    // as a hash mismatch against the full-rebuild answer.
    "q197_ivf_append" -> QueryDef(
      build = (s, dir) => {
        val e = Engine.table(s, dir, "embeddings")
        val centroids = e.filter(col("vec_id") % 101 === 0)
          .select(col("vec_id").as("centroid_id"),
            Similarity.asDouble(col("embedding")).as("cv"))
        val queries = e.filter(col("vec_id") % 50 === 0)
        val path = ivfIndexPath(s, dir, "appended")
        // completion marker AFTER the append: base write + append are
        // two jobs, and _SUCCESS alone would mark a crash between them
        // as a complete index
        val done = s"$path/_GRAFT_APPEND_DONE"
        if (!fsExists(s, done)) {
          Similarity.writeIvfIndex(
            Engine.fanOut(e.filter(col("vec_id") % 5 =!= 0)), centroids,
            "embedding", "vec_id", path)
          Similarity.appendToIvfIndex(
            e.filter(col("vec_id") % 5 === 0), centroids,
            "embedding", "vec_id", path)
          fsTouch(s, done)
        }
        Similarity.searchIvfIndex(s, path, queries, "embedding", "vec_id",
          centroids, k = 3, nprobe = 3)
      },
      oracle = Some(ivfIndexedOracle)),

    // STREAMING IVF index maintenance — q197's append ≡ rebuild law
    // through the LIVE stream machinery: the corpus arrives as three
    // mtimes-ordered vector deliveries, each micro-batch assigns to the
    // frozen centroids and lands hive-partitioned under
    // batch=<id>/cluster_id=<k> (per-batch dirs overwritten on replay —
    // the at-rest idempotency discipline), and the partition-pruned
    // search over the drained index must return EXACTLY the q134
    // full-rebuild answer. Drain ×2 from one checkpoint: the replay
    // adds no files, so any non-idempotent append would double rows and
    // flip the hash.
    "q224_ivf_stream_append" -> QueryDef(
      build = (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val e = Engine.table(s, dir, "embeddings")
        val centroids = e.filter(col("vec_id") % 101 === 0)
          .select(col("vec_id").as("centroid_id"),
            Similarity.asDouble(col("embedding")).as("cv"))
        val queries = e.filter(col("vec_id") % 50 === 0)
        val vecs = e.select(col("vec_id"), col("embedding"))
        val dv = new StreamDeliveries("graft_q224_ivf")
        dv.land(vecs.filter(pmod(col("vec_id"), lit(3)) === 0), "a",
          1000000000000L)
        dv.land(vecs.filter(pmod(col("vec_id"), lit(3)) === 1), "b",
          1000000060000L)
        dv.land(vecs.filter(pmod(col("vec_id"), lit(3)) === 2), "c",
          1000000120000L)
        val idx = s"${dv.root}/index"; val chk = s"${dv.root}/chk"
        def drain(): Unit = {
          val stream = s.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", "1").parquet(dv.dropDir)
          graft.streaming.StreamOps.ivfAppendStream(stream, centroids,
            "embedding", "vec_id", idx, chk, Some(Trigger.AvailableNow()))
            .awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: must be a no-op
        Similarity.searchIvfIndex(s, idx, queries, "embedding", "vec_id",
          centroids, k = 3, nprobe = 3)
      },
      oracle = Some(ivfIndexedOracle)),

    // Streaming k-means epoch fold (promoted from spec-only in round 7):
    // the corpus arrives as an ARBITRARY batch split (here 3 foreachBatch
    // deliveries via the stream's own kmeansIterBatch), each batch
    // reduces to per-(cluster, dim) 1e-9-quantized INTEGER partial sums
    // in its state partition, and finishKmeansStream folds the
    // partitions into spherical centroids. Because the partials are
    // exact integers the fold is associative, so the result must be
    // BIT-IDENTICAL to one batch Lloyd's iteration over the whole corpus
    // — which is exactly what the oracle computes (same round(cos·1e6)
    // argmax, same integer sums, same renorm; empty clusters keep the
    // previous centroid on both sides). Output = the folded centroid
    // matrix exploded to (centroid_id, dim, component).
    "q198_kmeans_epoch_fold" -> QueryDef(
      build = (s, dir) => {
        import graft.streaming.StreamOps
        val e = Engine.fanOut(Engine.table(s, dir, "embeddings"))
        val centroids = e.filter(col("vec_id") % 101 === 0)
          .select(col("vec_id").as("centroid_id"),
            Similarity.asDouble(col("embedding")).as("cv"))
        val statePath = org.apache.spark.graft.TempDirs
          .create("graft_q198_epoch").toString
        (0 until 3).foreach { b =>
          StreamOps.kmeansIterBatch(
            e.filter(pmod(col("vec_id"), lit(3)) === b), b.toLong,
            "embedding", "vec_id", centroids, statePath)
        }
        StreamOps.finishKmeansStream(s, statePath, centroids)
          .select(col("centroid_id"),
            posexplode(col("cv")).as(Seq("dim", "x")))
          .select(col("centroid_id"), (col("dim") + 1).cast("long").as("dim"),
            round(col("x"), 6).as("cv_i"))
      },
      oracle = Some(kmeansEpochOracle)),

    // The k-means EPOCH through the real stream machinery — q198 proves
    // the 3-way fold ≡ one batch Lloyd iteration by calling
    // kmeansIterBatch directly; q213 proves the same law holds when the
    // batches come from a LIVE kmeansIterStream run: three
    // mtimes-ordered vector deliveries (maxFilesPerTrigger=1 → three
    // micro-batches against the frozen broadcast centroids), drained
    // twice from one checkpoint (replayed batches overwrite their own
    // integer-partial partitions — the associative fold makes any
    // arrival split equivalent), then finishKmeansStream folds to
    // centroids that must be BIT-identical to the full-corpus Lloyd
    // step. Oracle shared verbatim with q198.
    "q213_stream_kmeans_epoch" -> QueryDef(
      build = (s, dir) => {
        import graft.streaming.StreamOps
        import org.apache.spark.sql.streaming.Trigger
        val e = Engine.table(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val centroids = e.filter(col("vec_id") % 101 === 0)
          .select(col("vec_id").as("centroid_id"),
            Similarity.asDouble(col("embedding")).as("cv"))
        val dv = new StreamDeliveries("graft_q213_kmeans")
        val root = dv.root
        def land(df: org.apache.spark.sql.DataFrame, name: String,
                 mtime: Long): Unit = dv.land(df, name, mtime)
        (0 until 3).foreach { b =>
          land(e.filter(pmod(col("vec_id"), lit(3)) === b), s"p$b",
            1000000000000L + b * 60000L)
        }
        val state = s"$root/state"; val chk = s"$root/chk"
        def drain(): Unit = {
          val stream = s.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", "1").parquet(dv.dropDir)
          StreamOps.kmeansIterStream(stream, "embedding", "vec_id",
            centroids, state, chk,
            trigger = Some(Trigger.AvailableNow())).awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: must rewrite nothing
        StreamOps.finishKmeansStream(s, state, centroids)
          .select(col("centroid_id"),
            posexplode(col("cv")).as(Seq("dim", "x")))
          .select(col("centroid_id"), (col("dim") + 1).cast("long").as("dim"),
            round(col("x"), 6).as("cv_i"))
      },
      oracle = Some(kmeansEpochOracle)),

    // Cross-document CHUNK retrieval (RAG-prep granularity): documents
    // split into q94's 32-token/stride-24 spans, each chunk embedded
    // with the vocabulary-free feature-hashing vector, and each query
    // chunk (chunk 0 of every 100th doc) retrieves its 3 nearest chunks
    // FROM OTHER DOCUMENTS — the within-doc overlap that would dominate
    // a naive nearest-chunk search is excluded by riding hardNegatives
    // with doc_id as the label. Everything before the LSH bucket join is
    // a projection; chunk keys pack (doc_id, chunk_id) into one long.
    "q135_chunk_retrieval" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.fanOut(Engine.table(s, dir, "documents"))
        val chunks = d
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(1), size(col("toks")), lit(24))).as("start"))
          .select(col("doc_id"),
            expr("CAST((start - 1) DIV 24 AS LONG)").as("chunk_id"),
            array_join(slice(col("toks"), col("start"), lit(32)), " ")
              .as("ctext"))
        // 20-bit chunk-packing guard: a document with > 2^20 chunks
        // (~25M tokens at stride 24) would silently collide its chunk
        // keys into the next doc_id's key space — fail loudly instead.
        // assert_true returns null when the bound holds, so the coalesce
        // folds to +0 on the happy path.
        val packGuard = coalesce(
          assert_true(col("chunk_id") < lit(1048576L)).cast("long"), lit(0L))
        val vecs = chunks.select(
            (col("doc_id") * lit(1048576L) + col("chunk_id") + packGuard)
              .as("ckey"),
            col("doc_id").as("doc"),
            graft.operators.TextAnalysis.hashingVector(col("ctext"), dims = 16)
              .as("vec"))
          .filter(Similarity.norm(Similarity.asDouble(col("vec"))) > 0)
        Similarity.hardNegatives(vecs, "vec", "ckey", "doc",
          queryPred = expr("ckey % 1048576 = 0 AND (ckey DIV 1048576) % 100 = 0"),
          k = 3, nPlanes = 6, dims = 16)
          .select(col("query_id"), col("neighbor_id"),
            col("neg_label").as("neighbor_doc"), col("rank"), col("sim"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        chunks AS (
          SELECT doc_id, (start - 1) // 24 AS chunk_id,
                 array_to_string(t[start : start + 31], ' ') AS ctext
          FROM (SELECT doc_id, t, unnest(generate_series(1, len(t), 24))
                  AS start FROM t)),
        ctoks AS (
          SELECT doc_id, chunk_id,
                 CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) AS h
          FROM (SELECT doc_id, chunk_id, unnest(string_split(ctext, ' ')) AS tk
                FROM chunks)),
        g AS (
          SELECT doc_id, chunk_id, h % 16 AS dim,
                 CAST(sum(CASE WHEN (h >> 4) & 1 = 1 THEN 1 ELSE -1 END)
                      AS DOUBLE) AS w
          FROM ctoks GROUP BY 1, 2, 3),
        dense AS (
          SELECT c.doc_id, c.chunk_id, gs.dim, coalesce(g.w, 0.0) AS w
          FROM (SELECT DISTINCT doc_id, chunk_id FROM chunks) c
          CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS dim) gs
          LEFT JOIN g ON g.doc_id = c.doc_id AND g.chunk_id = c.chunk_id
            AND g.dim = gs.dim),
        hv AS (
          SELECT doc_id, chunk_id, list(w ORDER BY dim) AS vec FROM dense
          GROUP BY 1, 2),
        v AS (
          SELECT doc_id * 1048576 + chunk_id AS vec_id, doc_id, chunk_id,
                 vec, ${sqlBucket("vec", planes = 6, dims = 16)} AS bucket
          FROM hv WHERE list_dot_product(vec, vec) > 0),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 c.doc_id AS neighbor_doc,
                 round(${sqlCos("q.vec", "c.vec")}, 6) AS sim
          FROM v q JOIN v c
            ON q.bucket = c.bucket AND q.doc_id != c.doc_id
          WHERE q.chunk_id = 0 AND q.doc_id % 100 = 0),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, neighbor_doc, rank, sim
        FROM ranked WHERE rank <= 3"""),
      headline = true),

    // q355 — GRAPH ANN (HNSW-family navigable small world, Malkov &
    // Yashunin 2016) as set-oriented joins: deterministic hash
    // levels, per-layer top-M-in-LSH-bucket adjacency (no all-pairs
    // anywhere), beam search as a FIXED unrolled join chain — layer-1
    // express walk seeds the layer-0 walk — against the adjacency
    // store persisted hive-partitioned by (level, bucket), each hop
    // a broadcast-frontier join on (bucket, src) so partition
    // pruning bounds the scan to VISITED buckets (the visited/total
    // bucket counts are oracled output columns). The oracle replays
    // the ENTIRE walk in SQL — entry, every hop, every beam cut —
    // so correctness is exact equality, strictly stronger than a
    // recall floor; avg recall@3 vs the exact brute-force answer is
    // ALSO an oracled column (0.30 on the uniform-random synthetic
    // embeddings, where the single-table LSH candidate set of q37
    // scores 0.00 recall@3 — random geometry bounds every sublinear
    // method, and the graph walk is what reaches beyond the seed
    // buckets). Incremental append (q197's law): new
    // nodes rebuild only their buckets and must reproduce the full
    // rebuild edge set EXACTLY (append_exact).
    "q355_ann_graph_hnsw" -> QueryDef(
      build = (s, dir) => {
        val G = graft.operators.GraphAnn
        val M = 6; val Beam = 8; val Hops1 = 2; val Hops0 = 3
        val K = 3; val Views = 3; val VPlanes = 6
        val e = Engine.table(s, dir, "embeddings")
        val nodes = G.nodes(Engine.fanOut(e), "embedding", "vec_id",
          VPlanes, Dims)
        val path = ivfIndexPath(s, dir, "hnsw")
        if (!fsExists(s, s"$path/_SUCCESS")) {
          G.adjacency(nodes, 0, M, Views, VPlanes, Dims)
            .unionByName(G.adjacency(nodes, 1, M, Views, VPlanes,
              Dims))
            .write.mode("overwrite")
            .partitionBy("level", "bucket").parquet(path)
        }
        val adjAll = s.read.parquet(path)
          .withColumn("level", col("level").cast("long"))
          .withColumn("bucket", col("bucket").cast("long"))
        val adj1 = adjAll.filter(col("level") === 1L)
        val adj0 = adjAll.filter(col("level") === 0L)
        val queries = nodes.filter(col("node") % 50 === 0)
          .select(col("node").as("query_id"), col("nv").as("qv"))
        // entry: min id on the express layer (fall back to global)
        val entry = nodes.filter(col("level") >= 1L)
          .agg(min(col("node"))).head() match {
          case r if !r.isNullAt(0) => r.getLong(0)
          case _ => nodes.agg(min(col("node"))).head().getLong(0)
        }
        val f10 = queries.select(col("query_id"))
          .withColumn("node", lit(entry))
          .join(broadcast(nodes.select(col("node"), col("bucket"))),
            Seq("node"))
          .withColumn("sim", lit(0.0))
          .select(col("query_id"), col("node"), col("bucket"),
            col("sim"))
        val fr1 = G.walk(f10, adj1, nodes, queries, Hops1, Beam)
        val wSeed = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("node").asc)
        val seed = fr1.last.withColumn("rn", row_number().over(wSeed))
          .filter(col("rn") === 1).drop("rn")
        // layer-0 seeds: the layer-1 winner PLUS the query's own
        // multi-view bucket peers (ef-style seeding)
        val peers = G.viewPeerSeeds(
          nodes.filter(col("node") % 50 === 0), nodes, Views,
          VPlanes, Dims)
        val f00 = G.beamOf(
          seed.select(col("query_id"), col("node")).union(peers)
            .distinct(),
          nodes, queries, Beam)
        val fr0 = G.walk(f00, adj0, nodes, queries, Hops0, Beam)
        // answer = best of EVERYTHING the walk scored (all frontiers
        // except the unscored entry seed), not just the last beam
        val visitedScored = (fr1.tail ++ fr0)
          .map(_.select(col("query_id"), col("node"), col("sim")))
          .reduce(_.union(_)).distinct()
        val res = visitedScored
          .filter(col("node") =!= col("query_id"))
          .withColumn("rank", row_number().over(wSeed))
          .filter(col("rank") <= K)
          .select(col("query_id"), col("node").as("neighbor_id"),
            col("rank"), col("sim"))
        val visited = (fr1 ++ fr0).map(_.select(col("bucket")))
          .reduce(_.union(_))
          .agg(countDistinct(col("bucket")).cast("long")
            .as("n_buckets_visited"))
        val total = nodes.agg(countDistinct(col("bucket"))
          .cast("long").as("n_buckets_total"))
        val exact = Similarity.cosineTopK(Engine.fanOut(e),
          e.filter(col("vec_id") % 50 === 0), "embedding", "vec_id",
          K).select(col("query_id"), col("neighbor_id"))
        val recall = res.select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).cast("double").as("h"))
          .crossJoin(broadcast(
            queries.agg(count(lit(1)).cast("double").as("nq"))))
          .select(round(col("h") / (lit(K.toDouble) * col("nq")), 6)
            .as("avg_recall"))
        // append ≡ rebuild, byte-exact on edges
        val newNodes = nodes.filter(col("node") % 7 === 3)
        val baseNodes = nodes.filter(col("node") % 7 =!= 3)
        val appended = Seq(0, 1).map(l => G.appendAdjacency(
          G.adjacency(baseNodes, l, M, Views, VPlanes, Dims), nodes,
          newNodes, l, M, Views, VPlanes, Dims))
          .reduce(_.unionByName(_))
        val rebuilt = Seq(0, 1)
          .map(l => G.adjacency(nodes, l, M, Views, VPlanes, Dims))
          .reduce(_.unionByName(_))
        val appendExact = rebuilt.exceptAll(appended)
          .union(appended.exceptAll(rebuilt))
          .agg(count(lit(1)).as("n"))
          .select(when(col("n") === 0, 1L).otherwise(0L)
            .as("append_exact"))
        res.crossJoin(broadcast(recall))
          .crossJoin(broadcast(visited))
          .crossJoin(broadcast(total))
          .crossJoin(broadcast(appendExact))
      },
      oracle = Some(graphAnnOracle(m = 6, beam = 8, hops1 = 2,
        hops0 = 3, k = 3, views = 3, vplanes = 6)))
  )

  /** The q355 oracle: the COMPLETE graph-ANN walk replayed in SQL —
    * node decoration (bucket, hash level), per-layer top-M bucket
    * adjacency, the entry node, every unrolled beam hop on both
    * layers, the final top-k, the visited-bucket audit, and exact
    * recall@k — generated from the same constants as the Spark side.
    */
  private def graphAnnOracle(m: Int, beam: Int, hops1: Int,
                             hops0: Int, k: Int, views: Int,
                             vplanes: Int): String = {
    def adj(name: String, lvlFilter: String) = {
      val unions = (0 until views).map(r =>
        s"""SELECT a.node AS src, a.bucket AS sbucket, b.node AS dst
            FROM v a JOIN v b
              ON a.vb$r = b.vb$r AND a.node != b.node
            $lvlFilter""").mkString("\n            UNION\n            ")
      s"""
        $name AS (
          SELECT bucket, src, dst, sim FROM (
            SELECT p.sbucket AS bucket, p.src, p.dst,
                   round(${sqlCos("sa.nv", "sb.nv")}, 6) AS sim,
                   row_number() OVER (PARTITION BY p.src
                     ORDER BY round(${sqlCos("sa.nv", "sb.nv")}, 6)
                       DESC, p.dst ASC) AS rn
            FROM ($unions) p
            JOIN v sa ON sa.node = p.src
            JOIN v sb ON sb.node = p.dst)
          WHERE rn <= $m)"""
    }
    def hops(layer: Int, n: Int, f0: String, adjT: String)
        : (String, Seq[String], String) = {
      var prev = f0
      val blocks = Seq.newBuilder[String]
      val names = Seq.newBuilder[String]
      for (h <- 1 to n) {
        val c = s"c${layer}_$h"
        val f = s"f${layer}_$h"
        blocks += s"""
        $c AS (
          SELECT query_id, node FROM $prev
          UNION
          SELECT f.query_id, a.dst AS node
          FROM $prev f JOIN $adjT a ON f.node = a.src),
        $f AS (
          SELECT query_id, node, bucket, sim FROM (
            SELECT c.query_id, c.node, v.bucket,
                   round(${sqlCos("q.qv", "v.nv")}, 6) AS sim,
                   row_number() OVER (PARTITION BY c.query_id
                     ORDER BY round(${sqlCos("q.qv", "v.nv")}, 6)
                       DESC, c.node ASC) AS rn
            FROM $c c
            JOIN v ON v.node = c.node
            JOIN qs q ON q.query_id = c.query_id)
          WHERE rn <= $beam)"""
        names += f
        prev = f
      }
      (prev, names.result(), blocks.result().mkString(","))
    }
    val (f1Last, f1Names, blocks1) = hops(1, hops1, "f1_0", "adj1")
    val (f0Last, f0Names, blocks0) = hops(0, hops0, "f0_0", "adj0")
    val allF = Seq("f1_0") ++ f1Names ++ Seq("f0_0") ++ f0Names
    val vbCols = (0 until views).map(r =>
      s"${sqlBucketView(r, vplanes)} AS vb$r").mkString(",\n                 ")
    s"""
        WITH v AS (
          SELECT node, nv, vb0 AS bucket, ${(0 until views)
      .map(r => s"vb$r").mkString(", ")}, level FROM (
            SELECT node, nv,
                 $vbCols,
                 CASE WHEN ${OracleSql.sqlHash60(
      "CAST(node AS VARCHAR)")} % 4 = 0
                   THEN 1 ELSE 0 END AS level
            FROM (SELECT vec_id AS node, embedding::DOUBLE[] AS nv
                  FROM embeddings))),
        ${adj("adj1", "WHERE a.level >= 1 AND b.level >= 1")},
        ${adj("adj0", "WHERE 1 = 1")},
        qs AS (SELECT node AS query_id, nv AS qv FROM v
               WHERE node % 50 = 0),
        entry AS (
          SELECT COALESCE(
            (SELECT min(node) FROM v WHERE level >= 1),
            (SELECT min(node) FROM v)) AS e),
        f1_0 AS (
          SELECT q.query_id, v.node, v.bucket, 0.0 AS sim
          FROM qs q CROSS JOIN entry e JOIN v ON v.node = e.e),
        $blocks1,
        seed1 AS (
          SELECT query_id, node FROM (
            SELECT query_id, node, row_number() OVER (
              PARTITION BY query_id
              ORDER BY sim DESC, node ASC) AS rn FROM $f1Last)
          WHERE rn = 1),
        c0_0 AS (
          SELECT query_id, node FROM seed1
          ${(0 until views).map(r =>
      s"""UNION
          SELECT q.node AS query_id, c.node
          FROM v q JOIN v c ON q.vb$r = c.vb$r
          WHERE q.node % 50 = 0""").mkString("\n          ")}),
        f0_0 AS (
          SELECT query_id, node, bucket, sim FROM (
            SELECT c.query_id, c.node, v.bucket,
                   round(${sqlCos("q.qv", "v.nv")}, 6) AS sim,
                   row_number() OVER (PARTITION BY c.query_id
                     ORDER BY round(${sqlCos("q.qv", "v.nv")}, 6)
                       DESC, c.node ASC) AS rn
            FROM c0_0 c
            JOIN v ON v.node = c.node
            JOIN qs q ON q.query_id = c.query_id)
          WHERE rn <= $beam),
        $blocks0,
        scoredall AS (
          SELECT DISTINCT query_id, node, sim
          FROM (${(f1Names ++ Seq("f0_0") ++ f0Names)
      .map(f => s"SELECT query_id, node, sim FROM $f")
      .mkString(" UNION ALL ")})),
        res AS (
          SELECT query_id, node AS neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, node ASC) AS INT) AS rank,
                 sim
          FROM scoredall WHERE node != query_id
          QUALIFY rank <= $k),
        visited AS (
          SELECT CAST(count(DISTINCT bucket) AS BIGINT)
            AS n_buckets_visited
          FROM (${allF.map(f => s"SELECT bucket FROM $f")
      .mkString(" UNION ALL ")})),
        total AS (
          SELECT CAST(count(DISTINCT bucket) AS BIGINT)
            AS n_buckets_total FROM v),
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.node AS query_id, c.node AS neighbor_id,
                   row_number() OVER (PARTITION BY q.node
                     ORDER BY round(${sqlCos("q.nv", "c.nv")}, 6)
                       DESC, c.node ASC) AS rn
            FROM v q JOIN v c ON q.node != c.node
            WHERE q.node % 50 = 0)
          WHERE rn <= $k),
        nq AS (SELECT count(*) AS nq FROM qs),
        hits AS (
          SELECT count(*) AS h FROM res
          JOIN exact USING (query_id, neighbor_id)),
        recall AS (
          SELECT round(h * 1.0 / ($k * nq), 6) AS avg_recall
          FROM hits CROSS JOIN nq)
        SELECT r.query_id, r.neighbor_id, r.rank, r.sim,
               rc.avg_recall, vis.n_buckets_visited,
               tot.n_buckets_total, CAST(1 AS BIGINT) AS append_exact
        FROM res r CROSS JOIN recall rc CROSS JOIN visited vis
        CROSS JOIN total tot"""
  }
}
