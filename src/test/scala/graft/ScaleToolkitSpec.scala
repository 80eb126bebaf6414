package graft

import graft.operators.{Conform, Relational}
import org.apache.spark.graft.TempDirs
import org.apache.spark.sql.functions._

/** Scale-technique operators: skew salting, bucketed co-located joins,
  * schema-contract conformance.
  */
class ScaleToolkitSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin returns exactly the plain join's rows") {
    val li = Engine.table(spark, sf(), "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = Engine.table(spark, sf(), "orders")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, Seq("l_orderkey"))
    val salted = Relational.saltedJoin(li, o, Seq("l_orderkey"), saltFactor = 8)
      .select(plain.columns.map(col): _*)
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("bucketed tables join without an exchange") {
    // warehouse dir is a static conf — use the session default and drop
    // the tables (+ files) afterwards
    val li = Engine.table(spark, sf(), "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = Engine.table(spark, sf(), "orders")
      .selectExpr("o_orderkey AS l_orderkey", "o_totalprice")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Engine.writeBucketed(li, "li_b", Seq("l_orderkey"), n = 4)
      Engine.writeBucketed(o, "o_b", Seq("l_orderkey"), n = 4)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b").join(spark.table("o_b"), Seq("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("near-dup band-key store rides the bucketed layout: gate join is store-side exchange-free") {
    import spark.implicits._
    // the compacted (band, sig) store registered bucketed on its join
    // keys: the incremental gate's probe (semi-join on band+sig) must
    // read co-located buckets — only the (small) arriving batch shuffles
    val docs = Engine.table(spark, sf(), "documents")
    val storeKeys = graft.operators.Dedup.lshBandKeys(
      docs, col("text"), col("doc_id"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Engine.writeBucketed(storeKeys.select(col("band"), col("sig"))
        .dropDuplicates("band", "sig"), "nd_store", Seq("band", "sig"), n = 4)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val batchKeys = storeKeys.filter(col("__id") < 50)
        .select(col("band"), col("sig"), col("__id"))
        .repartition(4, col("band"), col("sig"))
      val gated = batchKeys
        .join(spark.table("nd_store"), Seq("band", "sig"), "left_semi")
      val plan = gated.queryExecution.executedPlan.toString
      // exactly one Exchange: the batch side's repartition; none on the
      // bucketed store scan
      assert("Exchange".r.findAllIn(plan).size <= 1,
        s"store side shuffled:\n$plan")
      assert(gated.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS nd_store")
    }
  }

  test("persisted IVF index: search prunes unprobed lists, equals in-flight ivfTopK") {
    import graft.operators.Similarity
    val dir = TempDirs.create("ivfidx").toString
    val e = Engine.table(spark, sf(), "embeddings")
    val centroids = e.filter(col("vec_id") % 31 === 0)
      .select(col("vec_id").as("centroid_id"),
        Similarity.asDouble(col("embedding")).as("cv"))
    val queries = e.filter(col("vec_id") % 50 === 0)
    Similarity.writeIvfIndex(e, centroids, "embedding", "vec_id", s"$dir/idx")
    val viaIndex = Similarity.searchIvfIndex(spark, s"$dir/idx", queries,
      "embedding", "vec_id", centroids, k = 3, nprobe = 2)
    // identical results to the in-flight path
    val inFlight = Similarity.ivfTopK(e, queries, "embedding", "vec_id",
      k = 3, centroids = centroids, nprobe = 2)
    assert(viaIndex.exceptAll(inFlight).isEmpty &&
      inFlight.exceptAll(viaIndex).isEmpty)
    // and the scan prunes: probed list ids become a literal partition
    // filter, so unprobed directories are never read
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(plan).isDefined,
      s"probed lists did not become a partition filter:\n$plan")
  }

  test("IVF index append: increments equal a full rebuild, search sees " +
      "them with pruning intact") {
    import graft.operators.Similarity
    val dir = TempDirs.create("ivfapp").toString
    val e = Engine.table(spark, sf(), "embeddings")
    val centroids = e.filter(col("vec_id") % 31 === 0)
      .select(col("vec_id").as("centroid_id"),
        Similarity.asDouble(col("embedding")).as("cv"))
    val queries = e.filter(col("vec_id") % 50 === 0)
    // build from two thirds, append the rest in TWO increments
    Similarity.writeIvfIndex(e.filter(col("vec_id") % 3 =!= 2), centroids,
      "embedding", "vec_id", s"$dir/idx")
    Similarity.appendToIvfIndex(
      e.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 0),
      centroids, "embedding", "vec_id", s"$dir/idx")
    Similarity.appendToIvfIndex(
      e.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 1),
      centroids, "embedding", "vec_id", s"$dir/idx")
    // list membership equals one rebuild over the union corpus
    val appended = spark.read.parquet(s"$dir/idx")
      .select(col("neighbor_id"), col("cluster_id").cast("long"))
    Similarity.writeIvfIndex(e, centroids, "embedding", "vec_id",
      s"$dir/full")
    val rebuilt = spark.read.parquet(s"$dir/full")
      .select(col("neighbor_id"), col("cluster_id").cast("long"))
    assert(appended.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(appended).isEmpty)
    // search over the appended index ≡ in-flight search over everything,
    // with the planning-time list pruning intact
    val viaIndex = Similarity.searchIvfIndex(spark, s"$dir/idx", queries,
      "embedding", "vec_id", centroids, k = 3, nprobe = 2)
    val inFlight = Similarity.ivfTopK(e, queries, "embedding", "vec_id",
      k = 3, centroids = centroids, nprobe = 2)
    assert(viaIndex.exceptAll(inFlight).isEmpty &&
      inFlight.exceptAll(viaIndex).isEmpty)
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(plan).isDefined,
      s"append broke partition pruning:\n$plan")
  }

  test("streamed IVF index (batch=N/cluster_id=K layout): replaying a " +
      "batch is a no-op, and list pruning survives the extra level") {
    import graft.operators.Similarity
    import graft.streaming.StreamOps
    val dir = TempDirs.create("ivfstream").toString
    val e = Engine.table(spark, sf(), "embeddings")
    val centroids = e.filter(col("vec_id") % 31 === 0)
      .select(col("vec_id").as("centroid_id"),
        Similarity.asDouble(col("embedding")).as("cv"))
    val queries = e.filter(col("vec_id") % 50 === 0)
    StreamOps.ivfAppendBatch(e.filter(col("vec_id") % 2 === 0), 0L,
      centroids, "embedding", "vec_id", s"$dir/idx")
    StreamOps.ivfAppendBatch(e.filter(col("vec_id") % 2 === 1), 1L,
      centroids, "embedding", "vec_id", s"$dir/idx")
    val before = spark.read.parquet(s"$dir/idx")
      .select(col("neighbor_id"), col("cluster_id").cast("long")).collect()
      .map(_.toString).sorted.toSeq
    // crash-and-replay: same batchId overwrites the same directory
    StreamOps.ivfAppendBatch(e.filter(col("vec_id") % 2 === 1), 1L,
      centroids, "embedding", "vec_id", s"$dir/idx")
    val after = spark.read.parquet(s"$dir/idx")
      .select(col("neighbor_id"), col("cluster_id").cast("long")).collect()
      .map(_.toString).sorted.toSeq
    assert(before == after, "replay must leave the index unchanged")
    // search through the two-level layout ≡ in-flight, pruning intact
    val viaIndex = Similarity.searchIvfIndex(spark, s"$dir/idx", queries,
      "embedding", "vec_id", centroids, k = 3, nprobe = 2)
    val inFlight = Similarity.ivfTopK(e, queries, "embedding", "vec_id",
      k = 3, centroids = centroids, nprobe = 2)
    assert(viaIndex.exceptAll(inFlight).isEmpty &&
      inFlight.exceptAll(viaIndex).isEmpty)
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(plan).isDefined,
      s"the batch level broke list pruning:\n$plan")
  }

  test("partitioned layout prunes at planning time (PartitionFilters)") {
    val dir = TempDirs.create("parted").toString
    val orders = Engine.table(spark, sf(), "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    Engine.writePartitioned(orders, dir, Seq("o_year"))
    val q = spark.read.parquet(dir).filter(col("o_year") === 1995)
    val plan = q.queryExecution.executedPlan.toString
    // the year predicate must land in PartitionFilters (directory
    // pruning), not PushedFilters (row-group skipping inside files read
    // anyway)
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*o_year".r.findFirstIn(plan).isDefined,
      s"year filter did not become a partition filter:\n$plan")
    // and only the 1995 directory's rows surface
    val expected = orders.filter(col("o_year") === 1995).count()
    assert(q.count() == expected && expected > 0)
  }

  test("compact: many small files become few, content preserved exactly") {
    val base = TempDirs.create("compact").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    val orders = Engine.table(spark, sf(), "orders")
    orders.repartition(20).write.parquet(src) // simulate streaming debris
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(src) == 20)
    Engine.compact(spark, src, dst, targetFiles = 4)
    assert(parquetFiles(dst) == 4)
    val a = spark.read.parquet(dst)
    assert(a.count() == orders.count() &&
      a.exceptAll(orders).isEmpty && orders.exceptAll(a).isEmpty)
  }

  test("bloomPrune: no false negatives, real pruning, pre-shuffle filter") {
    val li = Engine.table(spark, sf(), "lineitem")
      .select("l_orderkey", "l_quantity")
    // selective build side: a thin slice of orders
    val o = Engine.table(spark, sf(), "orders")
      .filter(col("o_totalprice") > 400000)
      .selectExpr("o_orderkey AS l_orderkey", "o_totalprice")
    val pruned = Engine.bloomPrune(li, col("l_orderkey"), o, col("l_orderkey"))
    // join through the pruned probe side ≡ plain join (one-sided filter)
    val plain = li.join(o, Seq("l_orderkey"))
    val viaBloom = pruned.join(o, Seq("l_orderkey"))
    assert(plain.exceptAll(viaBloom).isEmpty && viaBloom.exceptAll(plain).isEmpty)
    // the filter must actually drop non-matching rows (fpp ≪ 1)
    val (nLi, nPruned) = (li.count(), pruned.count())
    assert(nPruned < nLi / 2, s"bloom kept $nPruned of $nLi rows")
    // and it runs as a plan-level predicate before any exchange
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom predicate in:\n$plan")
    // empty build side degenerates to keep-nothing, not keep-everything
    assert(Engine.bloomPrune(li, col("l_orderkey"),
      o.filter(lit(false)), col("l_orderkey")).isEmpty)
  }

  test("writeRangeSorted: disjoint file ranges, sorted within, content kept") {
    val orders = Engine.table(spark, sf(), "orders")
      .select("o_orderkey", "o_totalprice")
    val dst = TempDirs.create("rs").toString + "/out"
    Engine.writeRangeSorted(orders, dst, nFiles = 4, Seq("o_totalprice"))
    val files = new java.io.File(dst).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length == 4)
    val stats = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("o_totalprice"), max("o_totalprice")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    // part-file order IS range order: each file's max ≤ the next file's min
    stats.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo, s"overlapping file ranges: $hi > $lo")
    }
    // sorted within each file
    val first = spark.read.parquet(files.head)
      .select("o_totalprice").as[Double].collect()
    assert(first.sameElements(first.sorted))
    // content preserved exactly
    val back = spark.read.parquet(dst)
    assert(back.count() == orders.count() &&
      back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty)
  }

  test("writeZOrdered: every file bounds BOTH dims tightly, content kept") {
    val orders = Engine.table(spark, sf(), "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val dst = TempDirs.create("zo").toString + "/out"
    Engine.writeZOrdered(orders, dst, nFiles = 16,
      col("o_custkey"), col("o_orderkey"))
    val files = new java.io.File(dst).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length == 16)
    def fraction(dim: String): Double = {
      val g = orders.agg(min(dim).cast("double"), max(dim).cast("double")).head()
      val span = g.getDouble(1) - g.getDouble(0)
      val fr = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(dim).cast("double"), max(dim).cast("double")).head()
        (r.getDouble(1) - r.getDouble(0)) / span
      }
      fr.sum / fr.length
    }
    // a single-key sort would leave the OTHER dim's per-file range ≈ 1.0;
    // the Z layout must bound both well below that (16 files ≈ 4×4 tiles)
    val (fCust, fOrd) = (fraction("o_custkey"), fraction("o_orderkey"))
    assert(fCust < 0.6, s"o_custkey mean file-range fraction $fCust")
    assert(fOrd < 0.6, s"o_orderkey mean file-range fraction $fOrd")
    // content preserved exactly
    val back = spark.read.parquet(dst)
    assert(back.count() == orders.count() &&
      back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty)
  }

  test("writeTrainingShards: q150 order made physical, one file per shard, " +
      "manifest exact") {
    import graft.functions.hash60
    val docs = Engine.table(spark, sf(), "documents")
      .select("doc_id", "text")
    val dst = TempDirs.create("ts").toString + "/out"
    val manifest = Engine.writeTrainingShards(docs, $"text", $"doc_id",
      dst, nShards = 8).localCheckpoint()
    // layout: 8 shard dirs, exactly one data file each; the manifest
    // hides under an underscore dir the recursive reader skips
    val dirs = new java.io.File(dst).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(dirs.length == 8, dirs.map(_.getName).mkString(","))
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: ${files.length} files")
    }
    // membership: the recursive read returns every doc exactly once,
    // with q150's shard assignment
    val back = spark.read.parquet(dst)
    val expected = docs.withColumn("shard",
      pmod(hash60(lit("shard"), $"doc_id"), lit(8L)).cast("int"))
    assert(back.count() == docs.count() &&
      back.exceptAll(expected).isEmpty && expected.exceptAll(back).isEmpty)
    // within-file order IS the training order: (md5(id), id) ascending
    val f0 = dirs.head.listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val ids = spark.read.parquet(f0).select("doc_id").as[Long].collect()
    val sortedIds = ids.map(i => (java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString, i))
      .sortBy(identity).map(_._2)
    assert(ids.sameElements(sortedIds), "file rows not in training order")
    // manifest: per-shard doc and token counts match a direct recompute
    val direct = expected.groupBy($"shard".cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " ")).cast("long")).as("n_tokens"))
    val m = manifest.withColumn("shard", $"shard".cast("int"))
    assert(m.exceptAll(direct).isEmpty && direct.exceptAll(m).isEmpty)
    // the on-disk manifest copy reads back identically
    val onDisk = spark.read.parquet(s"$dst/_shard_manifest")
      .withColumn("shard", $"shard".cast("int"))
    assert(onDisk.exceptAll(direct).isEmpty && direct.exceptAll(onDisk).isEmpty)
  }

  test("aggState: batch folds equal the full recompute, any fold order") {
    val orders = Engine.table(spark, sf(), "orders")
      .selectExpr("o_custkey", "o_orderkey",
        "CAST(round(o_totalprice * 100) AS LONG) AS cents")
    val keys = Seq("o_custkey")
    val full = Relational.aggState(orders, keys, "cents")
    // three arbitrary batches (disjoint, covering), folded out of order
    val b = (0 to 2).map(i => Relational.aggState(
      orders.filter(col("o_orderkey") % 3 === i), keys, "cents"))
    val folded = Relational.mergeAggState(
      Relational.mergeAggState(b(2), b(0), keys), b(1), keys)
    assert(full.exceptAll(folded).isEmpty && folded.exceptAll(full).isEmpty)
    // finish derives mean = sum/count
    val m = Relational.finishAggState(folded, keys)
      .filter(col("n") > 0).limit(1).head()
    assert(m.getDouble(m.fieldIndex("mean")) ==
      m.getLong(m.fieldIndex("total")).toDouble / m.getLong(m.fieldIndex("n")))
  }

  test("conform: required enforced, optional injected, typing applied") {
    val df = Seq(("x", "1,5", "45369", "None")).toDF("Descripción", "Cant", "d", "note")
    val out = Conform.conform(df, Conform.Contract(
      required = Seq("Descripción"), optional = Seq("Marca"),
      numeric = Seq("Cant")))
    val r = out.head()
    assert(out.columns.contains("Marca"))
    assert(r.getAs[Double]("Cant") == 1.5) // EU comma
    assert(r.getAs[String]("note") == null) // 'None' sentinel → null
    intercept[IllegalArgumentException] {
      Conform.conform(df, Conform.Contract(required = Seq("missing_col")))
    }
  }
}
