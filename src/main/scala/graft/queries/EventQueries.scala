package graft.queries

import graft.Engine
import org.apache.spark.sql.expressions.Window
import graft.functions.{c_round => round}
import org.apache.spark.sql.functions._

/** Event-time windowing over the `events` table — the batch-checkable
  * face of the engine's Structured Streaming surface (SURVEY.md §2.8).
  * The same window specs run streaming in graft.streaming.EventWindows;
  * here they run on the static table so the DuckDB oracle can replay them.
  *
  * `ts` arrives as TimestampType — Engine.normalizeEventTs dispatches on
  * the parquet encoding (int64-nanos or timestamp[us]) so these queries
  * are schema-drift-proof; ms derivations are unix_millis (µs floor).
  */
object EventQueries {

  /** event timestamp, already TimestampType via Engine.normalizeEventTs. */
  private def nsToTimestamp = col("ts")

  /** event timestamp → epoch millis (floor). */
  private def nsToMs = unix_millis(col("ts"))

  /** Gaps-and-islands session assignment shared by q26/q68: a >30-minute
    * same-user silence starts a new session. ONE shuffle on user_id; the
    * lag and the running sum ride the same sort.
    */
  private def sessionized(s: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame = {
    val ev = Engine.table(s, dir, "events").withColumn("ms", nsToMs)
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    ev.withColumn("is_new",
        when(lag(col("ms"), 1).over(wOrd).isNull ||
          col("ms") - lag(col("ms"), 1).over(wOrd) > 1800000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Shared oracle for trailing-hour click attribution — q64 (batch
    * bin-ranged join) and q208 (stream-stream interval join) must
    * produce the identical per-purchase fold.
    */
  private lazy val attributionOracle: String = s"""
        SELECT p.event_id, p.user_id, count(*) AS n_clicks,
               ${ExactAgg.sqlSum("c.value", 4)} AS click_value
        FROM (SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events
              WHERE event_type = 'purchase') p
        JOIN (SELECT user_id, epoch_ms(ts) AS ms, value FROM events
              WHERE event_type = 'click') c
          ON c.user_id = p.user_id
         AND c.ms BETWEEN p.ms - 3600000 AND p.ms
        GROUP BY p.event_id, p.user_id"""

  /** Shared oracle for gap-sessionization — q26 (batch gaps-and-islands)
    * and q207 (native session_window streamed through the watermark
    * machinery) must produce the identical session table.
    */
  private lazy val sessionOracle: String = s"""
        WITH ordered AS (
          SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
            CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                 THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        sess AS (
          SELECT user_id, value, ms,
            sum(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM ordered)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               count(*) AS n_events,
               ${ExactAgg.sqlSum("value", 4)} AS sum_value,
               max(ms) - min(ms) AS duration_ms
        FROM sess GROUP BY user_id, session_id"""

  /** Shared oracle for the tumbling-window aggregations — q25 (batch)
    * and q206 (streamed through the watermark machinery) must produce
    * the identical window table.
    */
  private lazy val tumblingOracle: String = s"""
        SELECT epoch_ms(time_bucket(INTERVAL '5 minutes', ts)) AS window_start_ms,
               event_type, count(*) AS n_events,
               ${ExactAgg.sqlSum("value", 4)} AS sum_value
        FROM events GROUP BY 1, 2"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // Tumbling 5-minute windows: count + sum per (window, event_type).
    "q25_tumbling_window" -> QueryDef(
      build = (s, dir) => {
        val ev = Engine.table(s, dir, "events")
        ev.withColumn("tstamp", nsToTimestamp)
          .groupBy(window(col("tstamp"), "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            ExactAgg.sumExact(col("value"), 4).as("sum_value"))
          .select(unix_millis(col("window.start")).as("window_start_ms"),
            col("event_type"), col("n_events"), col("sum_value"))
      },
      oracle = Some(tumblingOracle),
      headline = true),

    // The STREAMING twin of q25 through the real watermark machinery —
    // the semantics this family exists for, proven by oracle: events
    // land as a file delivery followed by two far-future sentinel
    // deliveries (mtimes + maxFilesPerTrigger=1 → three micro-batches).
    // Append-mode windowed aggregation only emits a window once the
    // WATERMARK passes its end, and the watermark a batch uses is the
    // one computed at the END of the PREVIOUS batch — so sentinel #1
    // (max ts + 1 day) closes every real window, and sentinel #2 exists
    // to make batch 3 run with sentinel #1's watermark in force. The
    // sentinels' own windows stay open and are never emitted; a
    // defensive filter documents that. Aggregates ride ExactAgg integer
    // micros, so the incremental per-batch fold is order-proof and the
    // drained output must hash-match q25's batch oracle verbatim. The
    // drain runs twice from one checkpoint (replay adds zero rows).
    "q206_stream_tumbling_window" -> QueryDef(
      build = (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val ev = Engine.table(s, dir, "events")
          .select(nsToTimestamp.as("tstamp"), col("event_type"), col("value"))
        val dv = new StreamDeliveries("graft_q206_windows")
        val root = dv.root
        def land(df: org.apache.spark.sql.DataFrame, name: String,
                 mtime: Long): Unit = dv.land(df, name, mtime)
        // sentinels derive from the REAL max event time, so the margin
        // holds at any sf (1-row driver read, bounded by construction)
        val maxTs = ev.agg(max(col("tstamp"))).head().getTimestamp(0)
        def sentinelDf(days: Int) = {
          import s.implicits._
          Seq((new java.sql.Timestamp(maxTs.getTime + days * 86400000L),
            "__sentinel", 0.0)).toDF("tstamp", "event_type", "value")
        }
        land(ev, "a", 1000000000000L)
        land(sentinelDf(1), "b", 1000000060000L)
        land(sentinelDf(2), "c", 1000000120000L)
        val out = s"$root/out"; val chk = s"$root/chk"
        def drain(): Unit = {
          val stream = s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1").parquet(dv.dropDir)
          val q = stream.withWatermark("tstamp", "10 minutes")
            .groupBy(window(col("tstamp"), "5 minutes"), col("event_type"))
            .agg(count(lit(1)).as("n_events"),
              ExactAgg.sumExact(col("value"), 4).as("sum_value"))
            .select(unix_millis(col("window.start")).as("window_start_ms"),
              col("event_type"), col("n_events"), col("sum_value"))
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", chk)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: must be a no-op
        s.read.parquet(out).filter(col("event_type") =!= "__sentinel")
      },
      oracle = Some(tumblingOracle)),

    // Sliding windows (10-minute size, 5-minute slide): each event lands
    // in two windows.
    "q27_sliding_window" -> QueryDef(
      build = (s, dir) => {
        val ev = Engine.table(s, dir, "events")
        ev.withColumn("tstamp", nsToTimestamp)
          .groupBy(window(col("tstamp"), "10 minutes", "5 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            ExactAgg.sumExact(col("value"), 4).as("sum_value"))
          .select(unix_millis(col("window.start")).as("window_start_ms"),
            col("event_type"), col("n_events"), col("sum_value"))
      },
      oracle = Some(s"""
        WITH starts AS (
          SELECT epoch_ms(time_bucket(INTERVAL '5 minutes', ts)) AS ws,
                 event_type, value FROM events
          UNION ALL
          SELECT epoch_ms(time_bucket(INTERVAL '5 minutes', ts)) - 300000 AS ws,
                 event_type, value FROM events)
        SELECT ws AS window_start_ms, event_type, count(*) AS n_events,
               ${ExactAgg.sqlSum("value", 4)} AS sum_value
        FROM starts GROUP BY 1, 2""")),

    // Session windows via gaps-and-islands: a >30-minute silence starts a
    // new session per user. The streaming twin uses session_window /
    // flatMapGroupsWithState; the batch form is the oracle-checkable one.
    "q26_session_windows" -> QueryDef(
      build = (s, dir) => {
        sessionized(s, dir).groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            ExactAgg.sumExact(col("value"), 4).as("sum_value"),
            (max(col("ms")) - min(col("ms"))).as("duration_ms"))
      },
      oracle = Some(sessionOracle)),

    // The STREAMING sessionization twin — and a cross-implementation
    // law: Spark's NATIVE session_window (µs-precision gap merging in
    // the state store) must reproduce q26's batch gaps-and-islands
    // windows (ms-floor lag arithmetic) exactly, through the real
    // watermark machinery. Same sentinel protocol as q206 (two
    // far-future deliveries close all real sessions; their own sessions
    // never emit). session_window.end is last-event + gap by
    // definition, so duration_ms = end - start - gap; the ordinal
    // session_id q26 reports is assigned post-drain by a batch
    // row_number over each user's emitted session starts. Drain ×2 from
    // one checkpoint; replay adds zero rows.
    "q207_stream_session_windows" -> QueryDef(
      build = (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        // Floor to the millisecond (mirroring q208): session_window
        // merges at µs precision while the oracle's lag arithmetic is
        // ms-floored — a same-user gap straddling 30 min by a sub-ms
        // sliver would split sessions in the stream but not the oracle.
        val ev = Engine.table(s, dir, "events")
          .select(timestamp_millis(unix_millis(nsToTimestamp)).as("tstamp"),
            col("user_id"), col("value"))
        val dv = new StreamDeliveries("graft_q207_sessions")
        val root = dv.root
        def land(df: org.apache.spark.sql.DataFrame, name: String,
                 mtime: Long): Unit = dv.land(df, name, mtime)
        val maxTs = ev.agg(max(col("tstamp"))).head().getTimestamp(0)
        def sentinelDf(days: Int) = {
          import s.implicits._
          Seq((new java.sql.Timestamp(maxTs.getTime + days * 86400000L),
            -1L, 0.0)).toDF("tstamp", "user_id", "value")
        }
        land(ev, "a", 1000000000000L)
        land(sentinelDf(1), "b", 1000000060000L)
        land(sentinelDf(2), "c", 1000000120000L)
        val out = s"$root/out"; val chk = s"$root/chk"
        def drain(): Unit = {
          val stream = s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1").parquet(dv.dropDir)
          val q = stream.withWatermark("tstamp", "1 hour")
            .groupBy(session_window(col("tstamp"), "30 minutes"),
              col("user_id"))
            .agg(count(lit(1)).as("n_events"),
              ExactAgg.sumExact(col("value"), 4).as("sum_value"))
            .select(col("user_id"),
              unix_millis(col("session_window.start")).as("start_ms"),
              (unix_millis(col("session_window.end")) - lit(1800000L) -
                unix_millis(col("session_window.start"))).as("duration_ms"),
              col("n_events"), col("sum_value"))
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", chk)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: must be a no-op
        val w = Window.partitionBy(col("user_id")).orderBy(col("start_ms"))
        s.read.parquet(out).filter(col("user_id") =!= -1L)
          .withColumn("session_id", row_number().over(w).cast("long"))
          .select(col("user_id"), col("session_id"), col("n_events"),
            col("sum_value"), col("duration_ms"))
      },
      oracle = Some(sessionOracle)),

    // The streaming TOP-K LEADERBOARD, oracle-backed: topKStream keeps
    // exactly the k best (score desc, id asc) entries per key in
    // mapGroupsWithState state and emits a refreshed snapshot for every
    // key a micro-batch touches (Update mode — so the sink is a
    // foreachBatch append of per-batch snapshot partitions, and the
    // CURRENT standing is each key's snapshot with the highest per-key
    // high-water mark n_seen). Two mtimes-ordered event deliveries make
    // the state survive a batch boundary observable: a key's final
    // snapshot merges entries from BOTH batches. The oracle is the
    // batch answer — per-key exact top-3 by (value desc, event_id) over
    // all events plus the total count. Drain ×2 from one checkpoint;
    // the replay emits no snapshots.
    "q215_stream_topk_leaderboard" -> QueryDef(
      build = (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val ev = Engine.table(s, dir, "events")
          .select(col("event_id"), col("user_id").as("key_id"),
            col("value"))
        val dv = new StreamDeliveries("graft_q215_topk")
        val root = dv.root
        def land(df: org.apache.spark.sql.DataFrame, name: String,
                 mtime: Long): Unit = dv.land(df, name, mtime)
        land(ev.filter(col("event_id") % 2 === 0), "a", 1000000000000L)
        land(ev.filter(col("event_id") % 2 === 1), "b", 1000000060000L)
        val out = s"$root/out"; val chk = s"$root/chk"
        def drain(): Unit = {
          val stream = s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1").parquet(dv.dropDir)
          val q = graft.streaming.StreamOps
            .topKStream(stream.select(col("key_id"),
              col("event_id").as("entry_id"), col("value").as("score")), 3)
            .toDF()
            .writeStream.outputMode("update")
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               batchId: Long) =>
                batch.write.mode("overwrite")
                  .parquet(s"$out/batch=$batchId")
            }
            .option("checkpointLocation", chk)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: emits no snapshots
        val snaps = s.read.parquet(out)
        val latest = snaps.groupBy(col("key_id"))
          .agg(max(col("n_seen")).as("n_seen"))
        snaps.join(latest, Seq("key_id", "n_seen"))
          .select(col("key_id"), col("n_seen"),
            posexplode(arrays_zip(col("top_scores"), col("top_ids")))
              .as(Seq("pos", "z")))
          .select(col("key_id"), col("n_seen"),
            (col("pos") + 1).cast("int").as("rank"),
            col("z.top_ids").as("entry_id"),
            round(col("z.top_scores"), 6).as("score"))
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id AS key_id, event_id, value FROM events),
        tot AS (SELECT key_id, count(*) AS n_seen FROM e GROUP BY key_id),
        ranked AS (
          SELECT key_id, event_id, value,
                 row_number() OVER (PARTITION BY key_id
                   ORDER BY value DESC, event_id) AS rank
          FROM e)
        SELECT r.key_id, t.n_seen, CAST(r.rank AS INT) AS rank,
               r.event_id AS entry_id, round(r.value, 6) AS score
        FROM ranked r JOIN tot t USING (key_id)
        WHERE r.rank <= 3""")),

    // As-of join (engine extension): every purchase event picks up the
    // user's most recent prior-or-simultaneous click value. Spark side is
    // the union-and-window single-shuffle operator; DuckDB side is its
    // native ASOF JOIN — independent constructions, same semantics.
    "q44_asof_join" -> QueryDef(
      build = (s, dir) => {
        val ev = Engine.table(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("click_value")) // determinism at equal ts
        graft.operators.Relational.asOfJoin(purchases, clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          payload = Map("click_value" -> "last_click_value"))
          .select(col("event_id"), col("user_id"),
            unix_millis(col("ts")).as("ts_ms"), // ms floor ≡ DuckDB epoch_ms
            round(col("value"), 6).as("value"),
            round(col("last_click_value"), 6).as("last_click_value"))
      },
      oracle = Some("""
        WITH purchases AS (
          SELECT event_id, user_id, ts, value
          FROM events WHERE event_type = 'purchase'),
        clicks AS (
          SELECT user_id, ts, max(value) AS click_value
          FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
               round(p.value, 6) AS value,
               round(c.click_value, 6) AS last_click_value
        FROM purchases p ASOF LEFT JOIN clicks c
          ON p.user_id = c.user_id AND p.ts >= c.ts"""),
      headline = true),

    // Forward as-of join: for every click, the NEXT purchase at-or-after
    // it per user — the time-to-convert shape, q44's mirror direction.
    // Same single-exchange union-and-window plan (sorted descending).
    "q88_asof_forward" -> QueryDef(
      build = (s, dir) => {
        val ev = Engine.table(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("purchase_value")) // determinism at equal ts
        graft.operators.Relational.asOfJoin(clicks, purchases,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          payload = Map("purchase_value" -> "next_purchase_value"),
          direction = "forward")
          .select(col("event_id"), col("user_id"),
            unix_millis(col("ts")).as("ts_ms"),
            round(col("value"), 6).as("value"),
            round(col("next_purchase_value"), 6).as("next_purchase_value"))
      },
      oracle = Some("""
        WITH clicks AS (
          SELECT event_id, user_id, ts, value
          FROM events WHERE event_type = 'click'),
        purchases AS (
          SELECT user_id, ts, max(value) AS purchase_value
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        SELECT c.event_id, c.user_id, epoch_ms(c.ts) AS ts_ms,
               round(c.value, 6) AS value,
               round(p.purchase_value, 6) AS next_purchase_value
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts <= p.ts""")),

    // Sessionized conversion funnel: per session, did a purchase happen
    // at-or-after the first click? (max purchase ts >= min click ts ⟺
    // such a purchase exists — one aggregation pass, no self-join.)
    "q68_session_funnel" -> QueryDef(
      build = (s, dir) => {
        val minClick = min(when(col("event_type") === "click", col("ms")))
        val maxPurch = max(when(col("event_type") === "purchase", col("ms")))
        sessionized(s, dir).groupBy(col("user_id"), col("session_id"))
          .agg(
            count(when(col("event_type") === "click", 1)).as("n_clicks"),
            count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
            when(minClick.isNotNull && maxPurch.isNotNull &&
              maxPurch >= minClick, 1L).otherwise(0L).as("converted"))
      },
      oracle = Some("""
        WITH ordered AS (
          SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
            CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                 THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        sess AS (
          SELECT user_id, event_type, ms,
            CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_id
          FROM ordered)
        SELECT user_id, session_id,
               count(*) FILTER (WHERE event_type = 'click') AS n_clicks,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
               CASE WHEN min(ms) FILTER (WHERE event_type = 'click') IS NOT NULL
                     AND max(ms) FILTER (WHERE event_type = 'purchase') IS NOT NULL
                     AND max(ms) FILTER (WHERE event_type = 'purchase')
                         >= min(ms) FILTER (WHERE event_type = 'click')
                    THEN 1 ELSE 0 END AS converted
        FROM sess GROUP BY user_id, session_id""")),

    // Attribution window (batch twin of StreamOps.intervalJoin): every
    // purchase aggregates the same-user clicks of the preceding hour.
    // Runs as the keyed range join — equi-join on (user, hour-bin), exact
    // containment filter after, never |clicks| × |purchases|.
    "q64_attribution_window" -> QueryDef(
      build = (s, dir) => {
        val ev = Engine.table(s, dir, "events").withColumn("ms", nsToMs)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ms"), col("value"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            (col("ms") - 3600000L).as("w_start"), col("ms").as("w_end"))
        graft.operators.Relational.rangeJoin(clicks, purchases,
            pointCol = "ms", startCol = "w_start", endCol = "w_end",
            binSize = 3600000L, keys = Seq("user_id"))
          .groupBy(col("event_id"), col("user_id"))
          .agg(count(lit(1)).as("n_clicks"),
            ExactAgg.sumExact(col("value"), 4).as("click_value"))
      },
      oracle = Some(attributionOracle)),

    // The STREAM-STREAM interval join, oracle-backed: purchases and
    // clicks arrive as two separate file streams inside one query, and
    // StreamOps.intervalJoin pairs each purchase with the same user's
    // clicks in the trailing hour — the continuous face of q64's
    // bin-ranged batch join, which is also its oracle. Timestamps are
    // pre-floored to the millisecond on BOTH sides so the stream's
    // µs-precision interval comparison and the oracle's epoch_ms
    // arithmetic see identical instants (a sub-ms straddle at the
    // window edge would otherwise diverge the row sets). Inner matches
    // emit as soon as both sides arrive; the per-purchase count/sum
    // fold happens post-drain in batch — the JOIN is the streamed
    // artifact. Drain ×2 from one checkpoint; replay adds zero rows.
    "q208_stream_interval_join" -> QueryDef(
      build = (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val ev = Engine.table(s, dir, "events")
          .withColumn("tstamp", timestamp_millis(unix_millis(col("ts"))))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("tstamp"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("tstamp"), col("value"))
        val root = org.apache.spark.graft.TempDirs
          .create("graft_q208_ssjoin").toString
        def land(df: org.apache.spark.sql.DataFrame, sub: String): String = {
          val dropDir = java.nio.file.Paths.get(root, sub)
          java.nio.file.Files.createDirectories(dropDir)
          val tmp = s"$root/$sub.stage"
          df.coalesce(1).write.parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .filter(_.getName.endsWith(".parquet")).head.toPath
          java.nio.file.Files.move(part, dropDir.resolve("data.parquet"))
          dropDir.toString
        }
        val dropP = land(purchases, "purchases")
        val dropC = land(clicks, "clicks")
        val out = s"$root/out"; val chk = s"$root/chk"
        def drain(): Unit = {
          val sp = s.readStream.schema(purchases.schema).parquet(dropP)
          val sc = s.readStream.schema(clicks.schema).parquet(dropC)
          val q = graft.streaming.StreamOps
            .intervalJoin(sp, sc, key = "user_id", lookback = "1 hour",
              watermark = "10 minutes")
            .select(col("l.event_id").as("event_id"),
              col("l.user_id").as("user_id"), col("r.value").as("value"))
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", chk)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: must be a no-op
        s.read.parquet(out)
          .groupBy(col("event_id"), col("user_id"))
          .agg(count(lit(1)).as("n_clicks"),
            ExactAgg.sumExact(col("value"), 4).as("click_value"))
      },
      oracle = Some(attributionOracle)),

    // The stream-stream LEFT OUTER interval join, oracle-backed — the
    // subtle half q208 leaves unproven: unmatched left rows must emit
    // with nulls ONCE THE WATERMARK CLOSES THEM (the state-cleanup
    // path; exactly J1's left enrich made continuous, per
    // StreamOps.intervalJoin's scaladoc). Emission needs the GLOBAL
    // watermark (min across both inputs) past every purchase, so BOTH
    // streams get two far-future sentinel deliveries (drain protocol:
    // a batch runs with the watermark computed at the END of the
    // previous batch — sentinel #1 advances it, sentinel #2 makes a
    // batch run with it in force). The oracle is the batch LEFT join:
    // every purchase appears, matched ones with their trailing-hour
    // click count/sum, unmatched ones with 0/null. Drain ×2 from one
    // checkpoint; replay adds zero rows.
    "q223_stream_interval_left_join" -> QueryDef(
      build = (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        import s.implicits._
        val ev = Engine.table(s, dir, "events")
          .withColumn("tstamp", timestamp_millis(unix_millis(col("ts"))))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("tstamp"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("tstamp"), col("value"))
        val maxTs = ev.agg(max(col("tstamp"))).head().getTimestamp(0)
        def sentinelTs(days: Int) =
          new java.sql.Timestamp(maxTs.getTime + days * 86400000L)
        val dvP = new StreamDeliveries("graft_q223_purchases")
        val dvC = new StreamDeliveries("graft_q223_clicks")
        dvP.land(purchases, "a", 1000000000000L)
        dvP.land(Seq((-1L, -1L, sentinelTs(1)))
          .toDF("event_id", "user_id", "tstamp"), "b", 1000000060000L)
        dvP.land(Seq((-2L, -1L, sentinelTs(2)))
          .toDF("event_id", "user_id", "tstamp"), "c", 1000000120000L)
        dvC.land(clicks, "a", 1000000000000L)
        dvC.land(Seq((-1L, sentinelTs(1), 0.0))
          .toDF("user_id", "tstamp", "value"), "b", 1000000060000L)
        dvC.land(Seq((-1L, sentinelTs(2), 0.0))
          .toDF("user_id", "tstamp", "value"), "c", 1000000120000L)
        val root = dvP.root
        val out = s"$root/out"; val chk = s"$root/chk"
        def drain(): Unit = {
          val sp = s.readStream.schema(purchases.schema)
            .option("maxFilesPerTrigger", "1").parquet(dvP.dropDir)
          val sc = s.readStream.schema(clicks.schema)
            .option("maxFilesPerTrigger", "1").parquet(dvC.dropDir)
          val q = graft.streaming.StreamOps
            .intervalJoin(sp, sc, key = "user_id", lookback = "1 hour",
              watermark = "10 minutes", joinType = "leftOuter")
            .select(col("l.event_id").as("event_id"),
              col("l.user_id").as("user_id"), col("r.value").as("value"))
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", chk)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: must be a no-op
        s.read.parquet(out).filter(col("user_id") =!= -1L)
          .groupBy(col("event_id"), col("user_id"))
          .agg(count(col("value")).as("n_clicks"), // non-null = matched
            ExactAgg.sumExact(col("value"), 4).as("click_value"))
      },
      oracle = Some(s"""
        WITH p AS (
          SELECT event_id, user_id, epoch_ms(ts) AS ms
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, epoch_ms(ts) AS ms, value
          FROM events WHERE event_type = 'click')
        SELECT p.event_id, p.user_id,
               count(c.value) AS n_clicks,
               ${ExactAgg.sqlSum("c.value", 4)} AS click_value
        FROM p LEFT JOIN c
          ON p.user_id = c.user_id
         AND c.ms >= p.ms - 3600000 AND c.ms <= p.ms
        GROUP BY 1, 2""")),

    // The FULL OUTER stream-stream interval join — the last join-type
    // cell: BOTH unmatched sides must emit with nulls on watermark
    // expiry (unmatched purchases like q223, and now also unmatched
    // clicks — clicks no same-user purchase attributed within the hour
    // after them; their state-cleanup path is symmetric but separately
    // exercised). Same sentinel protocol on both streams. Output folds
    // both faces: per-purchase click count/sum (null-matched → 0/null),
    // and per-user ORPHAN click count/sum from the right-null rows. The
    // oracle is the batch left join UNION the NOT-EXISTS orphan fold.
    // Drain ×2 from one checkpoint; replay adds zero rows.
    "q228_stream_interval_full_join" -> QueryDef(
      build = (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        import s.implicits._
        val ev = Engine.table(s, dir, "events")
          .withColumn("tstamp", timestamp_millis(unix_millis(col("ts"))))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("tstamp"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("tstamp"), col("value"))
        val maxTs = ev.agg(max(col("tstamp"))).head().getTimestamp(0)
        def sentinelTs(days: Int) =
          new java.sql.Timestamp(maxTs.getTime + days * 86400000L)
        val dvP = new StreamDeliveries("graft_q228_purchases")
        val dvC = new StreamDeliveries("graft_q228_clicks")
        dvP.land(purchases, "a", 1000000000000L)
        dvP.land(Seq((-1L, -1L, sentinelTs(1)))
          .toDF("event_id", "user_id", "tstamp"), "b", 1000000060000L)
        dvP.land(Seq((-2L, -1L, sentinelTs(2)))
          .toDF("event_id", "user_id", "tstamp"), "c", 1000000120000L)
        dvC.land(clicks, "a", 1000000000000L)
        dvC.land(Seq((-1L, sentinelTs(1), 0.0))
          .toDF("user_id", "tstamp", "value"), "b", 1000000060000L)
        dvC.land(Seq((-1L, sentinelTs(2), 0.0))
          .toDF("user_id", "tstamp", "value"), "c", 1000000120000L)
        val root = dvP.root
        val out = s"$root/out"; val chk = s"$root/chk"
        def drain(): Unit = {
          val sp = s.readStream.schema(purchases.schema)
            .option("maxFilesPerTrigger", "1").parquet(dvP.dropDir)
          val sc = s.readStream.schema(clicks.schema)
            .option("maxFilesPerTrigger", "1").parquet(dvC.dropDir)
          val q = graft.streaming.StreamOps
            .intervalJoin(sp, sc, key = "user_id", lookback = "1 hour",
              watermark = "10 minutes", joinType = "fullOuter")
            .select(col("l.event_id").as("p_event"),
              col("l.user_id").as("p_user"),
              col("r.user_id").as("c_user"), col("r.value").as("value"))
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", chk)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: must be a no-op
        val rows = s.read.parquet(out)
        val perPurchase = rows
          .filter(col("p_event").isNotNull && col("p_user") =!= -1L)
          .groupBy(col("p_event"), col("p_user"))
          .agg(count(col("value")).as("n"),
            ExactAgg.sumExact(col("value"), 4).as("v"))
          .select(lit("purchase").as("kind"), col("p_event").as("event_id"),
            col("p_user").as("user_id"), col("n"), col("v"))
        val orphans = rows
          .filter(col("p_event").isNull && col("c_user") =!= -1L)
          .groupBy(col("c_user"))
          .agg(count(col("value")).as("n"),
            ExactAgg.sumExact(col("value"), 4).as("v"))
          .select(lit("orphan_clicks").as("kind"),
            lit(null).cast("long").as("event_id"),
            col("c_user").as("user_id"), col("n"), col("v"))
        perPurchase.unionAll(orphans)
      },
      oracle = Some(s"""
        WITH p AS (
          SELECT event_id, user_id, epoch_ms(ts) AS ms
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, epoch_ms(ts) AS ms, value
          FROM events WHERE event_type = 'click')
        SELECT 'purchase' AS kind, p.event_id, p.user_id,
               count(c.value) AS n, ${ExactAgg.sqlSum("c.value", 4)} AS v
        FROM p LEFT JOIN c
          ON p.user_id = c.user_id
         AND c.ms >= p.ms - 3600000 AND c.ms <= p.ms
        GROUP BY 2, 3
        UNION ALL
        SELECT 'orphan_clicks', CAST(NULL AS BIGINT), c.user_id,
               count(*), ${ExactAgg.sqlSum("c.value", 4)}
        FROM c
        WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = c.user_id
            AND c.ms >= p.ms - 3600000 AND c.ms <= p.ms)
        GROUP BY c.user_id""")),

    // Event-transition matrix (first-order Markov counts): per-user
    // event sequences → (from, to) bigram counts with transition
    // probability. Sequence order is event_id (the generator's arrival
    // order) — timestamp-free, so ns-vs-µs precision can't reorder ties
    // across engines. One window exchange on user_id, then a bounded
    // (|types|²) aggregate; probabilities are one division, rounded.
    "q114_event_transitions" -> QueryDef(
      build = (s, dir) => {
        val ev = Engine.table(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        val pairs = ev
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .where(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        val fromTotals = Window.partitionBy(col("from_type"))
        pairs
          .withColumn("p", round(col("n").cast("double") /
            sum(col("n")).over(fromTotals), 6))
          .orderBy(col("from_type"), col("to_type"))
      },
      oracle = Some("""
        WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY event_id) AS to_type
          FROM events),
        pairs AS (
          SELECT event_type AS from_type, to_type, count(*) AS n
          FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        SELECT from_type, to_type, n,
               round(CAST(n AS DOUBLE) / CAST(sum(n) OVER
                 (PARTITION BY from_type) AS BIGINT), 6) AS p
        FROM pairs ORDER BY from_type, to_type"""))
  )
}
