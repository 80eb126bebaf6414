package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Session + table-loading helpers for the graft engine.
  *
  * Design notes (100 TB posture): the engine never collects data to the
  * driver except for single-scalar results (e.g. the dynamic-filename
  * aggregate, reference `pdf_to_xlsx.py:106-115`). All configuration is
  * cluster-friendly: AQE on (adaptive shuffle coalescing, skew-join
  * splitting), shuffle partitions sized to the local core count here but
  * expected to be overridden by cluster submit conf at scale.
  */
object Engine {

  /** Build a local session with the settings every entry point shares. */
  def session(appName: String = "graft", cpus: Int = localCpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // generated classes compile once per session: the cache holds the
      // working set (CodegenCacheEntries); class names leave out the
      // whole-stage id, which AQE assigns in stage-completion order, so
      // equal code is one cache entry; and sessions share one executor
      // class loader (the loader is part of the cache key, and every
      // streaming query runs on a fresh clone of its session)
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toString)
      .config(SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key, "false")
      .config(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Entries of the JVM-wide generated-class cache (Spark's default is
    * 100). A static conf: it is read once, when the cache is first used,
    * so only a session builder can set it. Distinct classes one benchmark
    * JVM compiles with an unbounded cache (`CodegenMetrics`, local[3]):
    * corpus_curate 144, ingest_drop 204. 1 000 holds either with room for
    * the cache's four LRU segments, which fill unevenly.
    */
  private val CodegenCacheEntries = 1000

  def localCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(
      math.max(2, Runtime.getRuntime.availableProcessors()))

  /** SQL frontend: register every testdata table as a temp view and the
    * engine's native functions, so users can drive the whole engine from
    * `spark.sql(...)` — `SELECT hash60(text), … FROM documents`.
    */
  def registerSql(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
  }

  /** Persist `df` as a BUCKETED managed table: rows are hash-partitioned
    * into `n` buckets on `bucketCols` at write time, so joins and
    * aggregations on those keys read co-located data and skip the
    * shuffle entirely — the pre-partitioning play for fact tables that
    * join on the same keys query after query (100 TB posture: pay the
    * shuffle once at ingest, never again).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    n: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Persist `df` hive-partitioned on `partCols` (one directory level per
    * value): queries filtering on those columns prune entire directories
    * at PLANNING time — the scan never lists, opens, or reads excluded
    * partitions. The at-rest layout play for time-partitioned facts at
    * 100 TB (e.g. events by date): a day query over a year of data reads
    * 1/365th of the files. Partition columns should be low-cardinality
    * (directories are metadata; millions of tiny partitions trade scan
    * pruning for listing cost).
    */
  def writePartitioned(df: DataFrame, path: String,
                       partCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partCols: _*).parquet(path)

  /** Compact a small-files parquet directory (the debris a streaming
    * sink's one-batch-per-file discipline leaves behind) into
    * `targetFiles` larger files, written to `destPath`. Reads once,
    * rebalances once, writes once — row content is preserved exactly;
    * within-file order is not (parquet consumers must not rely on it).
    * At 100 TB this runs per partition directory, not whole-table: pair
    * with [[writePartitioned]] and compact only the partitions the last
    * ingest touched.
    */
  def compact(spark: SparkSession, srcPath: String, destPath: String,
              targetFiles: Int): Unit =
    spark.read.parquet(srcPath)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(destPath)

  /** Spread a compute-heavy input across all cores before an
    * expression-bound stage (minhash signatures, cosine scoring, …).
    *
    * Why it exists: scan parallelism is bounded by parquet row groups —
    * a small single-row-group file reads as ONE task no matter the
    * cluster size, serializing every per-row computation stacked on the
    * scan (measured 5000-doc MinHash at sf0.1: 0.94 s single-task →
    * 0.72 s fanned out). At 100 TB the same logic holds per-file: heavy
    * per-row work wants `defaultParallelism` tasks, not `#row-groups`
    * tasks; the rebalance shuffle moves each row once and is far cheaper
    * than the compute it unblocks. Use ONLY ahead of expression-heavy
    * stages — for scan→filter→agg plans the extra exchange is a loss
    * (measured: q01 0.16 s → 0.48 s).
    *
    * What it spreads is only the work Catalyst leaves above the
    * round-robin exchange: projections, generators, joins and aggregates
    * written after it. A deterministic `where` written after it is
    * pushed below the exchange (predicate pushdown through a
    * repartition) and still runs in the scan stage, one task per row
    * group: q102's logit gate behind `fanOut` plans as scan → Filter →
    * Exchange, so fanning out gains that predicate nothing.
    */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Globally range-sorted export: range-partition on `sortCols` (each
    * output file covers a disjoint key range, in file order) and sort
    * within each partition — a total order over N files without any
    * single-machine sort, the terasort layout. Downstream readers get
    * file-level min/max pruning on the sort key for free, and k-way
    * merge readers can stream the files in order. `repartitionByRange`
    * samples boundaries, so file sizes stay balanced under skew; equal
    * keys land in one file.
    */
  def writeRangeSorted(df: DataFrame, path: String, nFiles: Int,
                       sortCols: Seq[String]): Unit =
    df.repartitionByRange(nFiles,
        sortCols.map(org.apache.spark.sql.functions.col): _*)
      .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
      .write.mode("overwrite").parquet(path)

  /** Z-ordered export: interleave the bits of TWO sort keys into one
    * Morton (Z-curve) value, range-partition and sort on it. Where
    * [[writeRangeSorted]] gives file-level min/max pruning on ONE key
    * prefix, the Z layout gives useful (≈√nFiles-way) pruning on EITHER
    * dimension — the at-rest play for facts queried by two independent
    * selective columns (e.g. customer AND date) where neither deserves
    * the whole sort order.
    *
    * Both keys are min-max scaled to `bits` bits in one extra aggregate
    * scan (no window/rank pass), so dimension ranges of different
    * magnitudes interleave fairly. Equal z-values co-locate; parquet
    * min/max footers on the ORIGINAL columns then bound every file to a
    * tile of the curve, which is what downstream scans prune on.
    */
  def writeZOrdered(df: DataFrame, path: String, nFiles: Int,
                    a: Column, b: Column, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    val r = df.agg(min(a).cast("long"), max(a).cast("long"),
      min(b).cast("long"), max(b).cast("long")).head()
    if (r.isNullAt(0) || r.isNullAt(2)) { // empty input (or all-null keys):
      df.write.mode("overwrite").parquet(path) // nothing to order, plain write
      return
    }
    val (aLo, aHi, bLo, bHi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val top = (1L << bits) - 1
    // (c-lo)*top must stay inside a long: pre-shift keys whose span
    // exceeds 46 bits (e.g. nanosecond timestamps) down to 46, so the
    // multiply is bounded by 2^46 * 2^16 < 2^63. The low bits dropped are
    // below the 2^bits quantization anyway.
    def scaled(c: Column, lo: Long, hi: Long): Column =
      if (hi == lo) lit(0L)
      else {
        val shift = math.max(0, (BigInt(hi) - BigInt(lo)).bitLength - 46)
        val (loS, hiS) = (lo >> shift, hi >> shift)
        if (hiS == loS) lit(0L)
        else ((shiftright(c.cast("long"), shift) - lit(loS)) * lit(top) /
          lit(hiS - loS)).cast("long")
      }
    val (sa, sb) = (scaled(a, aLo, aHi), scaled(b, bLo, bHi))
    val z = (0 until bits).map { i =>
      shiftleft(shiftright(sa, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(sb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Training-shard export: the dataloader artifact the whole curation
    * pipeline exists to produce. Shard assignment is
    * `hash60("shard", id) pmod nShards` and within-shard read order is
    * `(md5(id), id)` — EXACTLY q150's deterministic training order,
    * made physical: any engine reproduces byte-identical shard
    * membership and order from the ids alone, so a re-run after a
    * curation tweak reshuffles nothing it does not have to.
    *
    * Layout: hive-partitioned `shard=N`, exactly one file per shard
    * (each shard lives in exactly one of the `nShards` hash
    * partitions, and a task writes one file per shard it holds), rows
    * pre-sorted in training order so the dataloader streams them
    * without a sort. A `_shard_manifest` parquet (shard, n_docs,
    * n_tokens) rides INSIDE the dataset directory — the underscore
    * prefix hides it from recursive parquet readers — giving the
    * trainer its epoch bookkeeping without a second scan. Returns the
    * manifest.
    */
  def writeTrainingShards(df: DataFrame, text: Column, id: Column,
                          path: String, nShards: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val d = df
      .withColumn("shard",
        pmod(graft.functions.hash60(lit("shard"), id), lit(nShards.toLong)))
      .withColumn("__ord", md5(id.cast("string")))
    d.repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__ord"), id)
      .drop("__ord")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    // manifest from the FILES JUST WRITTEN, not a second pass over the
    // caller's DAG: re-running a (possibly expensive, possibly
    // nondeterministic) upstream could count rows the write never saw —
    // epoch bookkeeping must describe the artifact, not the recipe
    val manifest = df.sparkSession.read.parquet(path)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(org.apache.spark.sql.functions.size(split(text, " "))
          .cast("long")).as("n_tokens"))
    manifest.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/_shard_manifest")
    manifest
  }

  /** Bloom-prune the probe side of a big-big join: build a bloom filter
    * over the build side's join keys (Spark's own
    * `BloomFilterAggregate` / `BloomFilterMightContain` — the runtime
    * row-level-filtering machinery, driven explicitly), then filter
    * `big` BEFORE its shuffle. Rows whose key cannot match never get
    * hashed, serialized, or transferred — at 100 TB, when the build side
    * touches a fraction of the probe keys, the exchange shrinks by that
    * fraction at the cost of one scan of the (much smaller) build side.
    *
    * No false negatives (might_contain is one-sided), so
    * `bloomPrune(big, k, small, j) ⋈ small ≡ big ⋈ small` — the join
    * result is unchanged. False positives only waste shuffle, bounded by
    * `fpp` at `expectedItems`. The serialized filter is a plan literal
    * (~`numBits/8` bytes), shipped once per executor like a broadcast.
    */
  def bloomPrune(big: DataFrame, bigKey: Column,
                 small: DataFrame, smallKey: Column,
                 expectedItems: Long = 4000000L, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.util.sketch.BloomFilter
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val agg = new BloomFilterAggregate(
      XxHash64(Seq(expression(smallKey)), 42L),
      Literal(expectedItems), Literal(numBits))
    val bytes = small.select(column(agg.toAggregateExpression()))
      .head.getAs[Array[Byte]](0)
    if (bytes == null) big.filter(org.apache.spark.sql.functions.lit(false))
    else big.filter(column(BloomFilterMightContain(
      Literal(bytes, BinaryType), XxHash64(Seq(expression(bigKey)), 42L))))
  }

  /** Load one of the driver-provided parquet tables from a scale-factor dir.
    * Parquet is the at-rest format: columnar, predicate-pushdown capable —
    * `.explain` on any downstream query must show PushedFilters/ReadSchema
    * narrowing to exactly the referenced columns.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet has shipped `ts` as TIMESTAMP(NANOS) in some testdata
    // generations (the vectorized reader rejects nanos → read as Long) and
    // as timestamp[us] (NTZ) in others; normalizeEventTs below dispatches
    // on whichever arrived so queries never see the difference.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Engine dialect: permissive casts (null-on-fail), matching the
    // reference's forgiving parsers (safe_convert_to_float et al.) and the
    // oracle's TRY_CAST. Spark 4 defaults ANSI on; the scalar library's
    // null-on-unparseable contract requires it off.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Engine-wide convention: `events.ts` is TimestampType (µs precision,
    * UTC session). The testdata generator has emitted three encodings of
    * the column across rounds; all normalize to the same instant:
    *   - int64 epoch-NANOS (read as Long via nanosAsLong) → µs floor,
    *     matching DuckDB's ns→µs truncation;
    *   - timestamp[us] isAdjustedToUTC=false → TimestampNTZ: cast to
    *     TimestampType. Session tz is UTC, so the wall-clock reading
    *     equals DuckDB's naive-TIMESTAMP reading of the same file;
    *   - already-TimestampType: pass through.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case Some(TimestampType) | None => df
      case Some(other) =>
        // Fail FAST on a fourth generator drift: silently passing an
        // unrecognized encoding through would instead surface as every
        // event query going red at the oracle (an 8-query diagnosis
        // instead of this one line).
        throw new IllegalStateException(
          s"events.ts has unrecognized type $other — extend " +
            "Engine.normalizeEventTs for this encoding")
    }
  }
}
