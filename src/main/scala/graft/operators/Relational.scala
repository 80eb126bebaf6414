package graft.operators

import graft.Checkpoints.TrackedCheckpointOps
import org.apache.spark.sql.expressions.Window
import graft.functions.{c_round => round}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Set-oriented re-expressions of the reference's row-at-a-time relational
  * logic (SURVEY.md §2.3/§2.5/§2.9). Every operator here is shuffle-aware:
  * dims broadcast, facts stay partitioned, and the only exchanges are the
  * ones the semantics force (dropDuplicates in the dim upsert).
  */
object Relational {

  /** W1 forward-fill, unbounded variant: last non-null value of `col` up
    * to the current row within a partition. Reference semantics:
    * `previous_link` carry-forward, `import_files_to_postgre.py:143-153`.
    */
  def forwardFill(df: DataFrame, value: Column, partitionBy: Seq[Column],
                  orderBy: Seq[Column], as: String): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as, last(value, ignoreNulls = true).over(w))
  }

  /** W1 faithful single-row-lookback variant: the reference sets
    * `previous_link` to the row's own (possibly empty) value *after* use
    * (`import_files_to_postgre.py:153`), so a blank inherits only from the
    * immediately-previous row — `lag`, not unbounded `last`.
    */
  def fillFromPrevious(df: DataFrame, value: Column, partitionBy: Seq[Column],
                       orderBy: Seq[Column], as: String): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    df.withColumn(as, coalesce(value, lag(value, 1).over(w)))
  }

  /** W2 first-match per key (the reference's `.iloc[0]` after an equality
    * filter, `import_files_to_postgre.py:214-215`): deterministic first
    * row per key under `orderBy`.
    */
  def firstPerKey(df: DataFrame, keys: Seq[Column], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** W2 first-per-key, aggregation form: when the ordering can be packed
    * into ONE numeric column (`ord`, unique within each key group),
    * `min_by` turns the window's shuffle-everything-then-sort into a hash
    * aggregation with map-side partial reduction — the shuffle carries at
    * most one row per (key, input partition) instead of every input row,
    * and no per-partition sort happens at all. Measured at sf0.1 on
    * lineitem: 0.78 s vs 1.07 s for the row_number window; at 100 TB the
    * gap grows with rows-per-key (the pre-shuffle reduction is the point).
    * Returns one row per key: keys ++ payload fields.
    *
    * WARNING — `ord` MUST be unique within every key group. The
    * per-column min_bys below only agree on ONE source row under that
    * contract; if `ord` ever ties within a key, each payload column may
    * come from a DIFFERENT tied row (a silently mixed output row — the
    * struct form returned an arbitrary-but-consistent row instead). A
    * caller that cannot prove uniqueness must pack a tiebreaker into
    * `ord` (as q11 does with its packed total key) or use
    * [[firstPerKey]].
    */
  def firstPerKeyAgg(df: DataFrame, keys: Seq[Column], ord: Column,
                     payload: Seq[Column]): DataFrame = {
    // One min_by PER payload column, not one min_by over a struct: a
    // struct-valued aggregation buffer is not hash-aggregable
    // (HashAggregateExec needs mutable primitive buffers), so the struct
    // form planned as Sort + SortAggregate on BOTH sides of the exchange
    // — a full sort of the input where no sort is needed. Per-column
    // min_bys keep primitive buffers → HashAggregate with map-side
    // partials (measured r18 at sf0.1 on lineitem, full-bench medians:
    // q11 0.81 s → 0.56 s; plan 2 Sorts + 2 SortAggregates → 2
    // HashAggregates, no sort anywhere). All min_bys pick
    // the SAME row because `ord` is unique within each key group — the
    // operator's documented contract.
    // output names = exactly what the struct-select form produced
    // (struct's auto-naming of each payload column; analysis-only, no job)
    val fieldNames = df.select(struct(payload: _*).as("__s"))
      .schema.fields.head.dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    val aggs = payload.zipWithIndex.map { case (p, i) =>
      min_by(p, ord).as(s"__first$i") }
    val named = df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    named.select(named.columns.dropRight(payload.length).map(col) ++
      payload.indices.map(i => col(s"__first$i").as(fieldNames(i))): _*)
  }

  /** Exact global rank (1-based, dense input → row_number semantics)
    * WITHOUT the single-partition global window. `Window.orderBy(...)`
    * with no partitionBy funnels the whole input through one task; this
    * is the scale-safe two-pass spelling of the same total order:
    *
    *  1. range-repartition + sort on the rank keys (the terasort layout:
    *     partition i holds keys entirely before partition i+1, balanced
    *     by sampled boundaries even under skew);
    *  2. count rows per partition (a P-row aggregate, P = shuffle
    *     partitions) and turn the counts into cumulative offsets on the
    *     driver — bounded by construction, like a broadcast dim;
    *  3. rank = offset(partition) + local row index + 1, where the local
    *     index is recovered from `monotonically_increasing_id` (pid<<33 |
    *     consecutive per-partition counter) evaluated on the SORTED,
    *     checkpoint-pinned partitions — no further exchange, no window.
    *
    * The localCheckpoint materializes the sorted rows once, so the id
    * assignment cannot be re-evaluated against a different row order and
    * both downstream actions (offset count + final projection) reuse the
    * same pinned partitions. Equal keys land in one partition
    * (RangePartitioner binary-search), so callers get deterministic ranks
    * by making `order` a total order, same as any window rank.
    *
    * Returns `df` plus `as` (LONG, 1..n). Law vs the window spelling is
    * pinned in OperatorsSpec; q74 rides it at scale.
    */
  def withGlobalRank(df: DataFrame, order: Seq[Column], as: String): DataFrame =
    withGlobalRankN(df, order, as)._1

  /** [[withGlobalRank]] plus the total row count, which the offset pass
    * already computed — rank-derived analytics (percent_rank, cume_dist,
    * ntile) all need `n`, and re-aggregating the ranked output for it
    * would cost one more full scan.
    */
  def withGlobalRankN(df: DataFrame, order: Seq[Column], as: String)
      : (DataFrame, Long) = {
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(p, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .trackedCheckpoint()
    val counts = ranged
      .groupBy(shiftrightunsigned(col("__mid"), 33).as("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, c) => val o = acc; acc += c; (pid, o) }
    val offDf = spark.createDataFrame(offsets.toIndexedSeq).toDF("__pid", "__off")
    val ranked = ranged
      .withColumn("__pid", shiftrightunsigned(col("__mid"), 33))
      .join(broadcast(offDf), Seq("__pid"))
      .withColumn(as,
        col("__off") + col("__mid").bitwiseAND(lit((1L << 33) - 1)) + 1)
      .drop("__pid", "__mid", "__off")
    (ranked, acc)
  }

  /** `ntile(k)` rebuilt from an exact 1-based rank (tie-free order) and
    * the total row count — the map-side companion to [[withGlobalRank]]:
    * the first `n % k` buckets take `n/k + 1` rows, the rest `n/k`,
    * exactly the SQL-standard ntile fill. Pure arithmetic, no window.
    */
  def ntileFromRank(rank: Column, n: Long, k: Int): Column = {
    require(k >= 1, s"ntile bucket count must be >= 1, got $k")
    val base = n / k
    val rem = n % k
    val cut = rem * (base + 1)
    if (base == 0) rank
    else when(rank <= cut, floor((rank - 1) / lit(base + 1)))
      .otherwise(lit(rem) + floor((rank - 1 - cut) / lit(base))) + 1
  }

  /** [[ntileFromRank]] with a per-row (per-stratum) total `n` COLUMN —
    * the companion to [[withStratumRankN]], where each stratum has its
    * own row count. `base = n div k` is computed exactly via pmod (no
    * float division on the count); the float divisions that remain have
    * exact-integer operands well under 2^53, where IEEE floor(a/b) is
    * exact for the magnitudes a row count can reach.
    */
  def ntileFromRankCol(rank: Column, n: Column, k: Int): Column = {
    require(k >= 1, s"ntile bucket count must be >= 1, got $k")
    val rem = pmod(n, lit(k.toLong))
    val base = ((n - rem) / k).cast("long")
    val cut = rem * (base + 1)
    when(base === 0, rank)
      .otherwise(when(rank <= cut, floor((rank - 1) / (base + 1)))
        .otherwise(rem + floor((rank - 1 - cut) / base)) + 1)
  }

  /** Per-STRATUM exact rank plus per-stratum row count — the stratum
    * generalization of [[withGlobalRankN]], killing the
    * `Window.partitionBy(stratum)` pattern whose partitions are
    * data-sized when the stratum is low-cardinality and skewed (one
    * language is half a web crawl; one market segment is 1/5 of the
    * customers — "parallel across strata" still funnels the corpus
    * through a handful of tasks).
    *
    * Same two-pass layout as the global form, with the stratum leading
    * the range keys:
    *
    *  1. range-repartition + sort on (stratum, order) — each stratum
    *     occupies a CONTIGUOUS run of partitions, split across as many
    *     as its size needs (sampled boundaries balance even a dominant
    *     stratum across tasks);
    *  2. one aggregate collects per-(stratum, partition) row counts AND
    *     the stratum's first local row index in that partition — a
    *     |strata|×P-row driver table, bounded like a broadcast dim;
    *  3. rank = stratum's cumulative offset before this partition +
    *     (local row index − stratum's first local index) + 1, all
    *     map-side arithmetic against the broadcast offset table.
    *
    * Returns `df` plus `as` (LONG rank, 1..n within each stratum) and
    * `nAs` (LONG per-stratum total — percent_rank / cume_dist / ntile /
    * quota filters all need it, and the offset pass computed it for
    * free). Stratum keys join back null-safely. `order` must be a total
    * order within each stratum for deterministic ranks, same as any
    * window rank.
    */
  def withStratumRankN(df: DataFrame, stratum: Seq[String],
                       order: Seq[Column], as: String,
                       nAs: String): DataFrame =
    withStratumRankCounts(df, stratum, order, as, nAs)._1

  /** [[withStratumRankN]] plus each stratum's row count, keyed by its
    * stratum values, which the offset pass already holds on the driver —
    * a caller that needs a stratum's size (to skip the work an empty one
    * would cost, say) gets it without another job. A stratum with no
    * rows is absent from the map.
    */
  def withStratumRankCounts(df: DataFrame, stratum: Seq[String],
                            order: Seq[Column], as: String,
                            nAs: String): (DataFrame, Map[Seq[Any], Long]) = {
    require(stratum.nonEmpty, "stratum columns must be non-empty")
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val sortCols = stratum.map(col) ++ order
    val mask = (1L << 33) - 1
    val ranged = df.repartitionByRange(p, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__srk_mid", monotonically_increasing_id())
      .trackedCheckpoint()
    val sLen = stratum.length
    val stats = ranged
      .groupBy(stratum.map(col) :+
        shiftrightunsigned(col("__srk_mid"), 33).as("__srk_pid"): _*)
      .agg(count(lit(1)).as("__cnt"),
        min(col("__srk_mid").bitwiseAND(lit(mask))).as("__srk_first"))
      .collect() // |strata| × P rows — driver-bounded by construction
    val byStratum = stats.groupBy(r => (0 until sLen).map(r.get(_)).toSeq)
    val offRows = byStratum.toSeq.flatMap { case (sv, rs) =>
      val sorted = rs.sortBy(_.getLong(sLen))
      val n = sorted.map(_.getLong(sLen + 1)).sum
      var acc = 0L
      sorted.map { r =>
        val off = acc
        acc += r.getLong(sLen + 1)
        org.apache.spark.sql.Row.fromSeq(
          sv ++ Seq(r.getLong(sLen), off, r.getLong(sLen + 2), n))
      }
    }
    val offSchema = org.apache.spark.sql.types.StructType(
      stratum.map(s => ranged.schema(s).copy(name = s, nullable = true)) ++ Seq(
        org.apache.spark.sql.types.StructField("__srk_pid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__srk_off",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__srk_first",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__srk_n",
          org.apache.spark.sql.types.LongType)))
    import scala.jdk.CollectionConverters._
    val offDf = spark.createDataFrame(offRows.asJava, offSchema)
      .toDF(stratum.indices.map(i => s"__srk_s$i") ++
        Seq("__srk_pid", "__srk_off", "__srk_first", "__srk_n"): _*)
    val withPid = ranged.withColumn("__srk_pid2",
      shiftrightunsigned(col("__srk_mid"), 33))
    val cond = stratum.zipWithIndex.map { case (s, i) =>
      withPid(s) <=> offDf(s"__srk_s$i")
    }.reduce(_ && _) && withPid("__srk_pid2") === offDf("__srk_pid")
    val ranked = withPid.join(broadcast(offDf), cond)
      .withColumn(as, col("__srk_off") +
        (col("__srk_mid").bitwiseAND(lit(mask)) - col("__srk_first")) + 1)
      .withColumn(nAs, col("__srk_n"))
      .drop((stratum.indices.map(i => s"__srk_s$i") ++
        Seq("__srk_pid", "__srk_pid2", "__srk_mid", "__srk_off", "__srk_first", "__srk_n")): _*)
    (ranked, byStratum.map { case (sv, rs) => (sv: Seq[Any]) -> rs.map(_.getLong(sLen + 1)).sum })
  }

  /** Per-stratum exact INCLUSIVE prefix sum of an integer `value`
    * column in (`stratum`, `order`) order, without the stratum-window —
    * the running-sum sibling of [[withStratumRankN]] (token budgets,
    * sequence packing). Same range layout and |strata|×P driver offset
    * table, but the offsets carry per-(stratum, partition) VALUE sums;
    * the remaining within-partition running sum rides a window
    * partitioned by (stratum, partition id) — each window group is at
    * most one range partition's share of one stratum, balanced by the
    * sampled range boundaries, never stratum-sized. `value` must be
    * integral (cast upstream): partial sums fold exactly in any order.
    *
    * Returns `df` plus `as` = the inclusive running sum (subtract the
    * row's own value for the exclusive form).
    */
  def withStratumPrefixSum(df: DataFrame, stratum: Seq[String],
                           order: Seq[Column], value: Column,
                           as: String): DataFrame = {
    require(stratum.nonEmpty, "stratum columns must be non-empty")
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val sortCols = stratum.map(col) ++ order
    val ranged = df.withColumn("__srk_val", value.cast("long"))
      .repartitionByRange(p, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__srk_mid", monotonically_increasing_id())
      .trackedCheckpoint()
    val sLen = stratum.length
    val stats = ranged
      .groupBy(stratum.map(col) :+
        shiftrightunsigned(col("__srk_mid"), 33).as("__srk_pid"): _*)
      .agg(sum(col("__srk_val")).as("__srk_psum"))
      .collect() // |strata| × P rows — driver-bounded by construction
    val byStratum = stats.groupBy(r => (0 until sLen).map(r.get(_)).toSeq)
    val offRows = byStratum.toSeq.flatMap { case (sv, rs) =>
      val sorted = rs.sortBy(_.getLong(sLen))
      var acc = 0L
      sorted.map { r =>
        val off = acc
        acc += r.getLong(sLen + 1)
        org.apache.spark.sql.Row.fromSeq(sv ++ Seq(r.getLong(sLen), off))
      }
    }
    val offSchema = org.apache.spark.sql.types.StructType(
      stratum.map(s => ranged.schema(s).copy(name = s, nullable = true)) ++ Seq(
        org.apache.spark.sql.types.StructField("__srk_pid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__srk_off",
          org.apache.spark.sql.types.LongType)))
    import scala.jdk.CollectionConverters._
    val offDf = spark.createDataFrame(offRows.asJava, offSchema)
      .toDF(stratum.indices.map(i => s"__srk_s$i") ++ Seq("__srk_pid", "__srk_off"): _*)
    val withPid = ranged.withColumn("__srk_pid2",
      shiftrightunsigned(col("__srk_mid"), 33))
    val cond = stratum.zipWithIndex.map { case (s, i) =>
      withPid(s) <=> offDf(s"__srk_s$i")
    }.reduce(_ && _) && withPid("__srk_pid2") === offDf("__srk_pid")
    // window groups are (stratum ∩ one range partition) — partition-
    // bounded, so this is NOT the stratum-window anti-pattern the plan
    // gate hunts (its spec includes __srk_pid2, which no stratum list holds)
    val w = Window
      .partitionBy(stratum.map(col) :+ col("__srk_pid2"): _*)
      .orderBy(col("__srk_mid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withPid.join(broadcast(offDf), cond)
      .withColumn(as, col("__srk_off") + sum(col("__srk_val")).over(w))
      .drop((stratum.indices.map(i => s"__srk_s$i") ++
        Seq("__srk_pid", "__srk_pid2", "__srk_mid", "__srk_off", "__srk_val")): _*)
  }

  /** EXACT set-similarity self-join with prefix filtering (the
    * PPJoin-family candidate pruning, Bayardo/Xiao et al. — public
    * algorithm): all pairs (a < b) whose distinct-token Jaccard ≥ `tau`,
    * found WITHOUT comparing all pairs. Candidates are generated only
    * from each row's PROBING PREFIX — its |s| − ⌈tau·|s|⌉ + 1 tokens
    * that are globally RAREST (frequency-ascending order, shared by all
    * rows): two sets with Jaccard ≥ tau must overlap inside those
    * prefixes, so the cut is lossless; verification then computes the
    * exact Jaccard on the full sets. The rarest-first order makes the
    * candidate join land on the LOW-frequency tokens — hot tokens
    * ("the") never generate pairs.
    *
    * 100 TB shape, in order of what saves the day:
    *
    *  - DISTINCT-SET COLLAPSE. Jaccard is a property of the token SET,
    *    so rows with identical sets ride ONE representative through the
    *    expensive prefix/candidate/verify stages; qualifying set pairs
    *    expand back to row pairs at the end, and identical-set row
    *    pairs emit directly at jaccard 1.0. On duplicate-dense data —
    *    exactly where the candidate join is quadratic — this bounds the
    *    candidate stage by DISTINCT sets (measured on the sf0.1 part
    *    table, 20k rows over a 20-word vocabulary: 18 s → sub-second;
    *    the remaining cost is writing the output, which IS the answer).
    *    On mostly-unique corpora the collapse costs one extra hash
    *    aggregate and changes nothing else.
    *  - The token-frequency join is a plain equi-join on the token —
    *    the frequency table is VOCABULARY-sized (billions of terms on a
    *    web corpus), so it must never carry a broadcast hint; AQE
    *    promotes it at runtime when the vocabulary actually fits.
    *  - Candidate pairs shuffle as BARE representative-id pairs; the
    *    full sets join back once per surviving pair for verification.
    *
    * Law (OperatorsSpec) + the q136 oracle both pin prefix-filtered ≡
    * brute force. Returns (key_a, key_b, n_shared, jaccard) with
    * key_a < key_b, jaccard rounded to 6.
    */
  def similaritySelfJoin(df: DataFrame, text: Column, id: Column,
                         tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    // pin the tokenized rows once: the set collapse, the membership
    // expansion joins, and the identical-set pair generator all read
    // this frame (diamond DAG, no CSE across joins). Empty sets can
    // never reach tau > 0 (and 0/0 is no-match in the brute-force
    // spelling), so they exit here.
    val rows = df.select(id.as("__rid"),
        array_distinct(split(lower(text), " ")).as("__w"))
      .filter(size(col("__w")) > 0)
      .trackedCheckpoint()
    // one representative row per DISTINCT set; membership maps each row
    // to its representative (a hash join on the small token array)
    val sets = rows.groupBy(col("__w")).agg(min(col("__rid")).as("__id"))
      .trackedCheckpoint()
    val member = rows.join(sets, Seq("__w"))
      .select(col("__rid"), col("__id").as("__rep"), size(col("__w")).as("__sz"))
      .trackedCheckpoint()
    val freq = sets.select(explode(col("__w")).as("__word"))
      .groupBy(col("__word")).agg(count(lit(1)).as("__f"))
    val ordered = sets
      .select(col("__id"), col("__w"), explode(col("__w")).as("__word"))
      .join(freq, Seq("__word"))
      .groupBy(col("__id"), col("__w"))
      .agg(array_sort(collect_list(struct(col("__f"), col("__word"))))
        .as("__ord"))
    // ⌈tau·|s|⌉ with a 1e-9 pre-round: raw double products can overshoot
    // the true integer by 1 ulp (0.07·100 → 7.000000000000001), and a
    // ceil on that would shorten the prefix by one and silently break
    // the lossless-cut guarantee for representation-unlucky taus
    val prefLen = size(col("__w")) -
      ceil(round(lit(tau) * size(col("__w")), 9)).cast("int") + 1
    val pref = ordered.select(col("__id"),
      explode(transform(slice(col("__ord"), lit(1), prefLen),
        p => p.getField("__word"))).as("__word"))
    val cand = pref.alias("a")
      .join(pref.alias("b"),
        col("a.__word") === col("b.__word") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("key_a"), col("b.__id").as("key_b"))
      .dropDuplicates("key_a", "key_b")
    // exact verification between DISTINCT sets
    val setPairs = cand
      .join(sets.select(col("__id").as("key_a"), col("__w").as("__wa")),
        Seq("key_a"))
      .join(sets.select(col("__id").as("key_b"), col("__w").as("__wb")),
        Seq("key_b"))
      .withColumn("__shared", size(array_intersect(col("__wa"), col("__wb"))))
      .withColumn("__union", size(array_union(col("__wa"), col("__wb"))))
      .filter(col("__shared").cast("double") / col("__union") >= tau)
      .select(col("key_a"), col("key_b"),
        col("__shared").cast("long").as("n_shared"),
        round(col("__shared").cast("double") / col("__union"), 6)
          .as("jaccard"))
    // expand qualifying set pairs to row pairs (each row pair belongs
    // to exactly one set pair — no dedup needed); identical-set row
    // pairs are jaccard-1 matches by definition
    val crossPairs = setPairs
      .join(member.select(col("__rep").as("key_a"), col("__rid").as("__ra")),
        Seq("key_a"))
      .join(member.select(col("__rep").as("key_b"), col("__rid").as("__rb")),
        Seq("key_b"))
      .select(least(col("__ra"), col("__rb")).as("key_a"),
        greatest(col("__ra"), col("__rb")).as("key_b"),
        col("n_shared"), col("jaccard"))
    val samePairs = member.alias("x")
      .join(member.alias("y"),
        col("x.__rep") === col("y.__rep") && col("x.__rid") < col("y.__rid"))
      .select(col("x.__rid").as("key_a"), col("y.__rid").as("key_b"),
        col("x.__sz").cast("long").as("n_shared"), lit(1.0).as("jaccard"))
    crossPairs.unionByName(samePairs)
  }

  /** J5 exact-duplicate suppression gate (`database_utils.py:128-145`):
    * drop incoming rows that already exist in `existing` on `keys`.
    * Plans as a broadcast/shuffled hash LEFT ANTI join — one pass, no
    * per-row probes; anti-join semantics already ignore build-side
    * duplicates, so no distinct pass is needed. At 100 TB both sides
    * shuffle on `keys`; AQE handles skew.
    */
  def dedupGate(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** Skew-salted equi-join (engine scale toolkit): when one side's key
    * distribution is heavy-tailed beyond what AQE skew-splitting handles,
    * spread each hot key over `saltFactor` shuffle partitions — the
    * skewed side gets a deterministic row salt, the other side is
    * replicated once per salt value. Same result set as the plain join;
    * the trade is `saltFactor`× replication of the build side against
    * eliminating the straggler partition.
    */
  def saltedJoin(skewed: DataFrame, other: DataFrame, keys: Seq[String],
                 saltFactor: Int, joinType: String = "inner"): DataFrame = {
    val salted = skewed.withColumn("__salt",
      pmod(hash(skewed.columns.map(col).toSeq: _*), lit(saltFactor)))
    val replicated = other.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Range (interval-containment) join (engine extension, named alongside
    * the as-of join in SURVEY.md §2.3's gap list): left rows with a point
    * column joined to right rows with [start, end] intervals,
    * `start <= point <= end`.
    *
    * A naive inequality join plans as a nested-loop; this bucketizes:
    * every interval is exploded into the `binSize`-wide bins it overlaps,
    * points map to exactly one bin, and the pair-up becomes an EQUI-join
    * on the bin followed by the exact containment filter. Cost scales
    * with interval-length/binSize (replication factor) instead of
    * |left|×|right|; pick binSize near the typical interval length.
    * Point and bounds are numeric (cast dates to epoch days upstream).
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
                pointCol: String, startCol: String, endCol: String,
                binSize: Long, joinType: String = "inner",
                keys: Seq[String] = Nil): DataFrame = {
    val p = points.withColumn("__bin",
      floor(col(pointCol).cast("long") / binSize))
    val i = intervals.withColumn("__bin",
      explode(sequence(floor(col(startCol).cast("long") / binSize),
        floor(col(endCol).cast("long") / binSize))))
    // extra equi-keys join with the bin (per-entity intervals — the
    // common case), keeping the shuffle keyed on (keys, bin) so hot bins
    // spread across entities
    p.join(i, keys :+ "__bin", joinType)
      .filter(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("__bin")
  }

  /** As-of join (engine extension — SURVEY.md §2.3 notes the reference
    * has none; standard analytics surface): for every left row, attach
    * the payload of the LATEST right row with `rightTs <= leftTs`
    * (`direction = "backward"`, the default) or the EARLIEST right row
    * with `rightTs >= leftTs` (`direction = "forward"`) in the same key
    * group (nulls where no such right row exists).
    *
    * Implementation is union-then-window: tag both sides, sort each key
    * group once by (ts, tag) — right rows at an equal timestamp sort
    * before left rows, giving <=/>= semantics — and forward-fill the
    * right payload (the forward direction just sorts ts descending).
    * ONE shuffle on the keys, no range-join row explosion; at 100 TB
    * this is a single exchange + in-partition sort, and AQE
    * skew-splitting applies to hot keys.
    *
    * `payload` maps right-side column → output name. Right rows with
    * duplicate (keys, ts) should be pre-aggregated by the caller for
    * determinism.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               payload: Map[String, String],
               direction: String = "backward"): DataFrame = {
    val pay = payload.toSeq
    val leftRest = left.columns.toSeq.filterNot(c => keys.contains(c) || c == leftTs)
    val lU = left.select(
      keys.map(col) ++
        Seq(col(leftTs).as("__ts"), lit(1).as("__tag")) ++
        leftRest.map(col) ++
        pay.map { case (rc, out) =>
          lit(null).cast(right.schema(rc).dataType).as(s"__p_$out") }: _*)
    val rU = right.select(
      keys.map(col) ++
        Seq(col(rightTs).as("__ts"), lit(0).as("__tag")) ++
        leftRest.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        pay.map { case (rc, out) => col(rc).as(s"__p_$out") }: _*)
    val tsOrd = direction match {
      case "backward" => col("__ts").asc
      case "forward"  => col("__ts").desc
      case other => throw new IllegalArgumentException(
        s"direction must be backward|forward, got $other")
    }
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(tsOrd, col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lU.unionByName(rU)
      .select((keys.map(col) ++ Seq(col("__ts"), col("__tag")) ++ leftRest.map(col) ++
        pay.map { case (_, out) =>
          last(col(s"__p_$out"), ignoreNulls = true).over(w).as(out) }): _*)
      .filter(col("__tag") === 1)
      .drop("__tag").withColumnRenamed("__ts", leftTs)
  }

  /** J4 get-or-create dimension upsert (`database_utils.py:57-113`):
    * `existing` is the current dim (naturalKey, idCol); incoming natural
    * keys not present get fresh surrogate ids `max(existing)+rank`,
    * assigned deterministically by natural-key order. Returns the merged
    * dim. Id assignment rides [[withGlobalRank]] (range-partitioned
    * per-partition numbering + driver offsets) — a global
    * `row_number().over(Window.orderBy(key))` would funnel every new key
    * through ONE task, which is fine for steady-state dim misses but
    * single-threads the initial load of a large dim (the WindowExec
    * "No Partition Defined" degenerate). Shuffles: the dropDuplicates on
    * the (small) key set + the rank's range exchange over NEW keys only;
    * the existing dim max-id is a scalar agg.
    */
  def dimUpsert(existing: DataFrame, incomingKeys: DataFrame,
                naturalKey: String, idCol: String): DataFrame = {
    val newKeys = incomingKeys.select(naturalKey).dropDuplicates(naturalKey)
      .join(existing.select(naturalKey), Seq(naturalKey), "left_anti")
    val maxId = existing.agg(coalesce(max(col(idCol)).cast("long"), lit(0L)))
      .head().getLong(0)
    val assigned = withGlobalRank(newKeys, Seq(col(naturalKey)), "__rank")
      .withColumn(idCol, col("__rank") + maxId).drop("__rank")
    existing.select(col(naturalKey), col(idCol).cast("long"))
      .unionByName(assigned.select(col(naturalKey), col(idCol)))
  }

  /** Incremental aggregate maintenance (the materialized-view pattern):
    * keep a per-key state table of DECOMPOSABLE partial aggregates
    * (count/sum/min/max — each merges associatively), fold each new
    * batch in with [[mergeAggState]], and derive the final metrics
    * (avg = sum/count) only at read time with [[finishAggState]].
    *
    * At 100 TB this is the difference between re-scanning all history
    * per refresh and touching only the new batch: merge cost scales
    * with |state| + |batch|, never with history. The same state updates
    * from `foreachBatch` in a streaming ingest — batch and streaming
    * maintain the identical table. Pass an exact-typed value column
    * (integer cents, not float dollars) so merged sums are
    * order-independent.
    */
  def aggState(df: DataFrame, keys: Seq[String], value: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(col(value)).as("__cnt"), sum(col(value)).as("__sum"),
      min(col(value)).as("__min"), max(col(value)).as("__max"))

  /** Merge two state tables produced by [[aggState]] (associative and
    * commutative — fold batches in any order). One hash shuffle over the
    * combined key sets.
    */
  def mergeAggState(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b).groupBy(keys.map(col): _*).agg(
      sum(col("__cnt")).as("__cnt"), sum(col("__sum")).as("__sum"),
      min(col("__min")).as("__min"), max(col("__max")).as("__max"))

  /** Derive the read-time metrics from an [[aggState]] table. */
  def finishAggState(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select(keys.map(col) ++ Seq(
      col("__cnt").as("n"), col("__sum").as("total"),
      col("__min").as("lo"), col("__max").as("hi"),
      (col("__sum") / col("__cnt")).as("mean")): _*)

  /** Per-key top-k through the custom whole-operator stack
    * (`plans/TopKPerKey.scala`): k-bounded heap per key after one hash
    * exchange — no per-group sort, unlike the window form. `order`
    * should break ties (e.g. `.desc` score then id) for determinism.
    */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column],
                 k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.SortOrder
    import org.apache.spark.sql.graft.ColumnBridge
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKeyStrategy
    val sortOrders = order.map { c =>
      ColumnBridge.resolvableExpression(c) match {
        case s: SortOrder => s
        case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    ColumnBridge.ofRows(spark, graft.plans.TopKPerKeyPlan(
      keys.map(ColumnBridge.resolvableExpression),
      sortOrders, k, df.queryExecution.analyzed))
  }

  /** Window+filter twin of [[topKPerKey]] (the executable spec). */
  def topKPerKeyComposed(df: DataFrame, keys: Seq[Column],
                         order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }
}
