package graft.queries

import graft.Checkpoints.TrackedCheckpointOps
import graft.Engine
import graft.operators.TextAnalysis
import org.apache.spark.sql.expressions.Window
import graft.functions.{c_round => round}
import org.apache.spark.sql.functions._

/** Text-analysis coverage over the `documents` table: token counting,
  * language ID, quality scoring, fingerprinting (SURVEY.md north-star
  * operators). Oracles replicate the exact expression math in DuckDB.
  */
object TextQueries {

  import OracleSql.sqlHash60

  /** Shared oracle for the CMS heavy-hitter audits — q142 (batch-built
    * sketch) and q205 (stream-built, compacted, manifest-folded sketch)
    * must produce the IDENTICAL counter matrix, so both verify against
    * one SQL text.
    */
  private lazy val cmsHeavyHittersOracle: String = s"""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        depths AS (SELECT unnest(generate_series(0, 3)) AS d),
        slots AS (
          SELECT d.d,
                 ${sqlHash60("'cms' || d.d || ':' || term")} % 1024 AS slot
          FROM toks CROSS JOIN depths d),
        counters AS (
          SELECT d, slot, count(*) AS c FROM slots GROUP BY d, slot),
        top AS (
          SELECT term, count(*) AS n_exact FROM toks GROUP BY term
          ORDER BY n_exact DESC, term LIMIT 20),
        probes AS (
          SELECT term, n_exact, d.d,
                 ${sqlHash60("'cms' || d.d || ':' || term")} % 1024 AS slot
          FROM top CROSS JOIN depths d)
        SELECT term, n_exact, min(c) AS n_est,
               min(c) - n_exact AS overcount
        FROM probes JOIN counters USING (d, slot)
        GROUP BY term, n_exact"""

  /** DuckDB: stopword-hit count over whitespace tokens. */
  private def sqlScore(words: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** q76's shard fan-out. Semantically free to raise (each shard packs
    * independently); size to the cluster's parallelism in deployment.
    * Interpolated into the oracle SQL so both engines shard identically.
    */
  private val PackingShards = 32

  private val Seq(enW, esW, frW, deW) = TextAnalysis.langStopwords.map(_._2)
  private val allStop = TextAnalysis.langStopwords.flatMap(_._2).distinct

  val defs: Seq[(String, QueryDef)] = Seq(

    // Compression-ratio junk signal (deflate level 6, one reused native
    // zlib state per task): repetitive/low-entropy docs compress far
    // better than prose, a language-agnostic curation heuristic. No SQL
    // engine ships zlib, so the oracle joins a PRECOMPUTED fixture of
    // deflate sizes keyed by md5(text) — generated by CPython's zlib
    // (scripts/make_deflate_fixture.py), an implementation independent
    // of the engine's JVM Deflater — and recomputes ratio/is_suspect in
    // SQL from the fixture's sizes. The ratio law additionally stays
    // spec-pinned against known-entropy inputs in CurationSpec.
    "q190_compression_signal" -> QueryDef(
      build = (s, dir) => {
        import graft.functions.{c_round => round}
        val d = Engine.table(s, dir, "documents")
        graft.operators.CompressionSignal.ratios(d, "text", "doc_id")
          .select(col("doc_id"), col("raw_bytes"), col("deflate_bytes"),
            round(col("ratio"), 4).as("ratio"),
            (col("ratio") < 0.3).as("is_suspect"))
      },
      oracle = Some("""
        SELECT d.doc_id,
               f.raw_bytes,
               f.deflate_bytes,
               CASE WHEN f.raw_bytes = 0 THEN 1.0
                    ELSE round(CAST(f.deflate_bytes AS DOUBLE) / f.raw_bytes, 4)
               END AS ratio,
               CASE WHEN f.raw_bytes = 0 THEN FALSE
                    ELSE CAST(f.deflate_bytes AS DOUBLE) / f.raw_bytes < 0.3
               END AS is_suspect
        FROM documents d
        JOIN read_parquet('/root/repo/fixtures/deflate_oracle.parquet') f
          ON md5(coalesce(d.text, '')) = f.text_md5""")),

    // Token counting: whitespace + BPE-ish regex tokens.
    "q28_token_stats" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        d.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe_tokens"))
      },
      oracle = Some("""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_ws_tokens,
               len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpe_tokens
        FROM documents"""),
      headline = true),

    // Language ID: stopword-hit argmax, first-wins tie-break en>es>fr>de.
    "q29_lang_id" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        d.select(col("doc_id"), col("lang").as("lang_declared"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
      },
      oracle = Some(s"""
        SELECT doc_id, lang AS lang_declared,
          CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
               WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de THEN 'es'
               WHEN s_fr > 0 AND s_fr >= s_de THEN 'fr'
               WHEN s_de > 0 THEN 'de'
               ELSE 'unknown' END AS lang_pred
        FROM (
          SELECT doc_id, lang,
            ${sqlScore(enW)} AS s_en, ${sqlScore(esW)} AS s_es,
            ${sqlScore(frW)} AS s_fr, ${sqlScore(deW)} AS s_de
          FROM documents)"""),
      headline = true),

    // Quality score: saturating length + cleanliness + stopword density.
    "q30_quality_score" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        d.select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      },
      oracle = Some(s"""
        SELECT doc_id,
          round(least(1.0, n_tok / 100.0) * 0.4
                + (n_clean / n_chars) * 0.3
                + (n_stop / n_tok) * 0.3, 6) AS quality
        FROM (
          SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
            CAST(length(text) AS DOUBLE) AS n_chars,
            CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS n_clean,
            CAST(${sqlScore(allStop)} AS DOUBLE) AS n_stop
          FROM documents)"""),
      headline = true),

    // C4-style cleaning gate: keep/reject with a reason code — the
    // composed filter a training pipeline runs before dedup. First
    // matching reason wins; all inputs are exact ints or identically
    // rounded doubles, so the CASE ladder is engine-stable.
    "q66_quality_gate" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        d.select(col("doc_id"),
          when(TextAnalysis.tokenCount(col("text")) < 25, "too_short")
            .when(TextAnalysis.qualityScore(col("text")) < 0.45, "low_quality")
            .when(TextAnalysis.langId(col("text")) === "unknown", "unknown_lang")
            .otherwise("keep").as("gate"))
      },
      oracle = Some(s"""
        SELECT doc_id,
          CASE WHEN n_tok_i < 25 THEN 'too_short'
               WHEN round(least(1.0, n_tok / 100.0) * 0.4
                    + (n_clean / n_chars) * 0.3
                    + (n_stop / n_tok) * 0.3, 6) < 0.45 THEN 'low_quality'
               WHEN NOT (s_en > 0 OR s_es > 0 OR s_fr > 0 OR s_de > 0)
                 THEN 'unknown_lang'
               ELSE 'keep' END AS gate
        FROM (
          SELECT doc_id,
            len(string_split(text, ' ')) AS n_tok_i,
            CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
            CAST(length(text) AS DOUBLE) AS n_chars,
            CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS n_clean,
            CAST(${sqlScore(allStop)} AS DOUBLE) AS n_stop,
            ${sqlScore(enW)} AS s_en, ${sqlScore(esW)} AS s_es,
            ${sqlScore(frW)} AS s_fr, ${sqlScore(deW)} AS s_de
          FROM documents)""")),

    // Per-language winsorization: clip document lengths to the stratum's
    // [p10, p90] — outlier taming before length-weighted sampling. The
    // percentile table is tiny and broadcasts; both engines interpolate
    // quantiles identically (proven by q46).
    "q67_winsorize_lengths" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val stats = d.groupBy(col("lang"))
          .agg(expr("percentile(n_chars, array(0.1D, 0.9D))").as("ps"))
          .select(col("lang"), element_at(col("ps"), 1).as("p10"),
            element_at(col("ps"), 2).as("p90"))
        d.join(broadcast(stats), "lang")
          .select(col("doc_id"), col("lang"),
            round(greatest(col("p10"),
              least(col("p90"), col("n_chars").cast("double"))), 4)
              .as("clipped_chars"))
      },
      oracle = Some("""
        WITH s AS (
          SELECT lang, quantile_cont(n_chars, 0.10) AS p10,
                 quantile_cont(n_chars, 0.90) AS p90
          FROM documents GROUP BY lang)
        SELECT doc_id, d.lang,
               round(greatest(p10, least(p90, CAST(n_chars AS DOUBLE))), 4)
                 AS clipped_chars
        FROM documents d JOIN s ON d.lang = s.lang""")),

    // Rolling-hash-style document fingerprint (md5 of the lowercased
    // alphanumeric skeleton).
    "q31_fingerprint" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        d.select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      },
      oracle = Some("""
        SELECT doc_id,
               md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
        FROM documents""")),

    // Repetition filter (Gopher-style): fraction of duplicate tokens and
    // duplicate 2-grams per document — the cheap structural-repetition
    // screen a pipeline runs before the (much costlier) near-dup pass.
    // Pure projection over the scan: zero shuffles at any scale. Fractions
    // are one IEEE division of exact integers, identical on both engines.
    "q71_repetition" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        d.withColumn("toks", split(col("text"), " "))
          .withColumn("bg", expr(
            "transform(sequence(1, size(toks) - 1), " +
              "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
          .select(col("doc_id"),
            round(lit(1.0) - size(array_distinct(col("toks"))).cast("double")
              / size(col("toks")), 6).as("dup_tok_frac"),
            round(lit(1.0) - size(array_distinct(col("bg"))).cast("double")
              / size(col("bg")), 6).as("dup_bigram_frac"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        b AS (
          SELECT doc_id, toks,
                 list_transform(generate_series(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1]) AS bg
          FROM t)
        SELECT doc_id,
               round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                     / len(toks), 6) AS dup_tok_frac,
               round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)
                     / len(bg), 6) AS dup_bigram_frac
        FROM b""")),

    // Cross-lingual contamination report: per (source, declared lang),
    // how often the n-gram language ID disagrees — the audit that catches
    // a crawler mislabeling a domain. Exact integer counts; the rate is
    // one IEEE division.
    "q84_lang_contamination" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        d.select(col("source"), col("lang"),
            (TextAnalysis.langId(col("text")) =!= col("lang"))
              .cast("long").as("mism"))
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("mism")).as("n_mismatch"))
          .withColumn("mismatch_rate",
            round(col("n_mismatch").cast("double") / col("n_docs"), 6))
      },
      oracle = Some(s"""
        WITH pred AS (
          SELECT source, lang,
            CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                 WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de THEN 'es'
                 WHEN s_fr > 0 AND s_fr >= s_de THEN 'fr'
                 WHEN s_de > 0 THEN 'de'
                 ELSE 'unknown' END AS lang_pred
          FROM (
            SELECT source, lang,
              ${sqlScore(enW)} AS s_en, ${sqlScore(esW)} AS s_es,
              ${sqlScore(frW)} AS s_fr, ${sqlScore(deW)} AS s_de
            FROM documents))
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN lang_pred <> lang THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_mismatch,
               round(CAST(sum(CASE WHEN lang_pred <> lang THEN 1 ELSE 0 END)
                     AS DOUBLE) / count(*), 6) AS mismatch_rate
        FROM pred GROUP BY source, lang""")),

    // Curriculum mixing weights: per-source sampling weights ∝ √tokens
    // (α = 0.5 temperature — upweights small sources, the standard
    // data-mixing move). √tokens is fixed to 6 decimals and summed as an
    // exact integer so the normalizing denominator is identical on both
    // engines regardless of summation order.
    "q85_mixing_weights" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val perSrc = d.select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .groupBy(col("source")).agg(sum(col("n_tok")).as("tokens"))
          .withColumn("sq",
            expr("CAST(round(sqrt(CAST(tokens AS DOUBLE)) * 1e6) AS LONG)"))
        val total = perSrc.agg(sum(col("sq")).as("sq_total"))
        perSrc.crossJoin(broadcast(total))
          .select(col("source"), col("tokens"),
            round(col("sq").cast("double") / col("sq_total"), 6).as("weight"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT source,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
          FROM documents GROUP BY source),
        s AS (
          SELECT source, tokens,
                 CAST(round(sqrt(CAST(tokens AS DOUBLE)) * 1e6) AS BIGINT) AS sq
          FROM t)
        SELECT source, tokens,
               round(CAST(sq AS DOUBLE)
                     / CAST((SELECT sum(sq) FROM s) AS BIGINT), 6) AS weight
        FROM s""")),

    // Sliding-window chunking: 32-token chunks at stride 24 (8-token
    // overlap) — the RAG/context-window prep that turns documents into
    // retrievable passages. Chunk geometry is pure integer arithmetic
    // over the token count: a projection + explode, no shuffle, and at
    // 100 TB the chunk table is written straight back out partition-wise.
    "q94_chunk_spans" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        d.select(col("doc_id"),
            size(split(col("text"), " ")).as("n_tok"))
          .select(col("doc_id"), col("n_tok"),
            explode(sequence(lit(1), col("n_tok"), lit(24))).as("start"))
          .select(col("doc_id"),
            expr("CAST((start - 1) DIV 24 AS LONG)").as("chunk_id"),
            col("start").cast("long").as("start"),
            least(lit(32), col("n_tok") - col("start") + 1).cast("long")
              .as("chunk_len"))
      },
      oracle = Some("""
        SELECT doc_id, (start - 1) // 24 AS chunk_id,
               CAST(start AS BIGINT) AS start,
               CAST(least(32, n_tok - start + 1) AS BIGINT) AS chunk_len
        FROM (
          SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
                 unnest(generate_series(1, len(string_split(text, ' ')), 24))
                   AS start
          FROM documents)""")),

    // Unigram LM scoring: average per-token log-likelihood under the
    // corpus's own unigram distribution — the cheap perplexity proxy used
    // to rank documents before an expensive model pass. Token
    // probabilities come from one corpus-wide term-frequency aggregation
    // (the vocabulary joins back by term — never a driver collect; at
    // 100 TB the vocab is itself a distributed table). Per-doc summation
    // is order-independent because each log is fixed to 9 decimals and
    // summed as an exact integer — float addition order (which differs
    // across partitionings AND engines) can never change the result.
    "q77_unigram_loglik" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val toks = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
        val total = toks.agg(count(lit(1)).as("total"))
        val logp = tf.crossJoin(broadcast(total))
          .select(col("term"),
            expr("CAST(round(ln(CAST(tf AS DOUBLE) / total) * 1e9) AS LONG)")
              .as("il"))
        toks.join(logp, "term")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"), sum(col("il")).as("sil"))
          .select(col("doc_id"), col("n_tok"),
            round(col("sil") / 1e9 / col("n_tok"), 6).as("avg_loglik"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        tf AS (SELECT term, count(*) AS tf FROM toks GROUP BY term),
        total AS (SELECT count(*) AS total FROM toks),
        logp AS (
          SELECT term,
                 CAST(round(ln(CAST(tf AS DOUBLE) / total) * 1e9) AS BIGINT) AS il
          FROM tf CROSS JOIN total)
        SELECT doc_id, count(*) AS n_tok,
               round(CAST(sum(il) AS BIGINT) / 1e9 / count(*), 6) AS avg_loglik
        FROM toks JOIN logp USING (term)
        GROUP BY doc_id"""),
      headline = true),

    // Count-min sketch heavy-hitter audit: w=1024 × d=4 counters over
    // explicit seeded hash60 slots, estimates for the exact top-20
    // terms, and the per-term overcount. Unlike the engine-internal
    // sketches (HLL q47, GK q81 — bounds-flag oracled only), CMS is a
    // plain groupBy over DETERMINISTIC hashes: both engines build the
    // identical counter matrix, so estimates hash-match EXACTLY. The
    // 100 TB posture is the point of the structure: counters are
    // partial-agg mergeable (a sum), the whole sketch is w×d rows —
    // broadcastable state that answers point queries map-side; the
    // overcount column audits the ε·N guarantee on real data.
    "q142_cms_heavy_hitters" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val toks = d.select(explode(split(col("text"), " ")).as("term"))
        def slotted(base: org.apache.spark.sql.DataFrame) =
          base.select(col("*"),
              explode(TextAnalysis.cmsSlots(col("term"), w = 1024,
                depth = 4)).as("p"))
            .select((base.columns.map(col) :+ col("p.d") :+
              col("p.slot")): _*)
        val counters = slotted(toks).groupBy(col("d"), col("slot"))
          .agg(count(lit(1)).as("c"))
        val top = toks.groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("term")).limit(20)
        slotted(top).join(broadcast(counters), Seq("d", "slot"))
          .groupBy(col("term"), col("n_exact"))
          .agg(min(col("c")).as("n_est"))
          .select(col("term"), col("n_exact"), col("n_est"),
            (col("n_est") - col("n_exact")).as("overcount"))
      },
      oracle = Some(cmsHeavyHittersOracle),
      headline = true),

    // The STREAMING face of q142's sketch build, with the EXACTLY-ONCE
    // discipline under test: documents land as two mtimes-ordered file
    // deliveries (maxFilesPerTrigger=1 → separate micro-batches),
    // cmsIngest reduces each batch to its (d, slot) partial counters
    // under Trigger.AvailableNow, compactCmsStore consolidates the
    // partitions behind its supersession manifest, a SECOND drain from
    // the same checkpoint replays nothing, and finishCmsStream folds
    // only the non-superseded partitions. Counters are ADDITIVE — the
    // one state class where double-reading is WRONG — so if the fold
    // read a superseded partition alongside its compacted replacement,
    // every estimate would double and the hash gate would go red. The
    // probe side (exact top-20) stays batch; the sketch is the streamed
    // artifact. Oracle shared verbatim with q142: stream ≡ batch.
    "q205_stream_cms_sketch" -> QueryDef(
      build = (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val d = Engine.table(s, dir, "documents")
        // text passes through UN-coalesced so the streamed tokenization
        // is byte-identical to q142's batch side (null text drops on
        // explode in both paths)
        val src = d.select(col("doc_id"), col("text"))
        val dv = new StreamDeliveries("graft_q205_cms")
        val root = dv.root
        def land(df: org.apache.spark.sql.DataFrame, name: String,
                 mtime: Long): Unit = dv.land(df, name, mtime)
        land(src.filter(col("doc_id") % 2 === 0), "a", 1000000000000L)
        land(src.filter(col("doc_id") % 2 === 1), "b", 1000000060000L)
        val state = s"$root/state"; val chk = s"$root/chk"
        def drain(): Unit = {
          val stream = s.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", "1").parquet(dv.dropDir)
          graft.streaming.StreamOps.cmsIngest(stream, "text", state, chk,
            w = 1024, depth = 4,
            trigger = Some(Trigger.AvailableNow())).awaitTermination()
        }
        drain()
        graft.streaming.StreamOps.compactCmsStore(s, state)
        drain() // replay from the same checkpoint: must add nothing
        val counters = graft.streaming.StreamOps.finishCmsStream(s, state)
        val toks = d.select(explode(split(col("text"), " ")).as("term"))
        val top = toks.groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("term")).limit(20)
        top.select(col("*"),
            explode(TextAnalysis.cmsSlots(col("term"), w = 1024,
              depth = 4)).as("p"))
          .select(col("term"), col("n_exact"), col("p.d").as("d"),
            col("p.slot").as("slot"))
          .join(broadcast(counters), Seq("d", "slot"))
          .groupBy(col("term"), col("n_exact"))
          .agg(min(col("c")).as("n_est"))
          .select(col("term"), col("n_exact"), col("n_est"),
            (col("n_est") - col("n_exact")).as("overcount"))
      },
      oracle = Some(cmsHeavyHittersOracle)),

    // Bigram-LM document scoring (the CCNet/KenLM-shaped quality
    // signal, one model order up from q77): add-k-smoothed bigram
    // conditionals P(w2|w1) = (C(w1,w2)+0.5) / (C(w1)+0.5·V), scored
    // per document as the average log-conditional and its perplexity.
    // Scale shape DIFFERS from q77 on purpose: the bigram table is
    // vocabulary²-sized — it can NEVER broadcast (q112's own comment:
    // billions of terms at 100 TB), so the score join is a plain
    // shuffled equi-join on the bigram, while V and only V rides a
    // 1-row broadcast. Determinism: counts are exact longs, +0.5 and
    // +0.5·V are exactly representable, one IEEE division then ln on
    // identical doubles (bit-identical cross-engine, the q77 proof),
    // quantized to 1e-9 integers so doc sums are order-proof. The ppl
    // column is the registry's ONE per-row exp(): Math.exp vs libm exp
    // have no formal bit-parity guarantee (1-ulp each), so ppl rounds
    // at 2 dp — a 1-ulp divergence at ppl ~10^3 is ~1e-12, ten orders
    // below the tie window, where a 6-dp round would flake the hash
    // gate at ~1e-3/run. avg_loglik (pure ln, the q77-proven parity)
    // keeps full 6-dp precision.
    "q140_bigram_perplexity" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val toks = d.select(col("doc_id"), split(col("text"), " ").as("toks"))
        // bg feeds both the bigram-count build and the final per-doc join;
        // NO checkpoint across the diamond (A/B'd r18: +11% over run
        // noise WITH one — materializing 270k exploded rows costs more
        // than re-running the cheap split+explode twice)
        val bg = toks.select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(toks) - 1), " +
              "i -> struct(element_at(toks, i) AS w1, " +
              "element_at(toks, i + 1) AS w2))")).as("b"))
          .select(col("doc_id"), col("b.w1"), col("b.w2"))
        val c12 = bg.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("n12"))
        val c1 = d.select(explode(split(col("text"), " ")).as("w1"))
          .groupBy(col("w1")).agg(count(lit(1)).as("n1"))
        val vocab = c1.agg(count(lit(1)).as("v"))
        val logp = c12.join(c1, "w1").crossJoin(broadcast(vocab))
          .select(col("w1"), col("w2"), expr(
            "CAST(round(ln((CAST(n12 AS DOUBLE) + 0.5) / " +
              "(CAST(n1 AS DOUBLE) + 0.5 * v)) * 1e9) AS LONG)").as("il"))
        bg.join(logp, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("il")).as("sil"))
          .select(col("doc_id"), col("n_bigrams"),
            round(col("sil") / 1e9 / col("n_bigrams"), 6).as("avg_loglik"),
            round(exp(-(col("sil") / 1e9 / col("n_bigrams"))), 2).as("ppl"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        bgpos AS (
          SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks) - 1)) AS i
          FROM toks),
        bgf AS (
          SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM bgpos),
        c12 AS (SELECT w1, w2, count(*) AS n12 FROM bgf GROUP BY w1, w2),
        uni AS (
          SELECT unnest(string_split(text, ' ')) AS w1 FROM documents),
        c1 AS (SELECT w1, count(*) AS n1 FROM uni GROUP BY w1),
        vocab AS (SELECT count(*) AS v FROM c1),
        logp AS (
          SELECT w1, w2,
                 CAST(round(ln((CAST(n12 AS DOUBLE) + 0.5) /
                   (CAST(n1 AS DOUBLE) + 0.5 * v)) * 1e9) AS BIGINT) AS il
          FROM c12 JOIN c1 USING (w1) CROSS JOIN vocab)
        SELECT doc_id, count(*) AS n_bigrams,
               round(CAST(sum(il) AS BIGINT) / 1e9 / count(*), 6)
                 AS avg_loglik,
               round(exp(-(CAST(sum(il) AS BIGINT) / 1e9 / count(*))), 2)
                 AS ppl
        FROM bgf JOIN logp USING (w1, w2)
        GROUP BY doc_id"""),
      headline = true),

    // Sequence packing: assign documents to fixed-capacity token bins by
    // exclusive running token count, independently per shard — the layout
    // pass that turns a cleaned corpus into ~equal training chunks.
    // Packing is shard-parallel by construction, so the shard count is a
    // PARAMETER sized to the deployment (here PackingShards; at 100 TB
    // you'd pick ≥ the executor-core count so no worker idles) — and the
    // per-shard running count rides the two-pass withStratumPrefixSum,
    // so even a deliberately small shard count never funnels
    // corpus/|shards| rows through one window task.
    "q76_sequence_packing" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        graft.operators.Relational.withStratumPrefixSum(
            d.select(col("doc_id"),
              (col("doc_id") % PackingShards).as("shard"),
              size(split(col("text"), " ")).cast("long").as("n_tok")),
            Seq("shard"), Seq(col("doc_id")), col("n_tok"), as = "__cumi")
          .withColumn("cum", col("__cumi") - col("n_tok")) // exclusive
          .withColumn("bin", expr("CAST(cum DIV 512 AS BIGINT)"))
          .groupBy(col("shard"), col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, doc_id % $PackingShards AS shard,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        c AS (
          SELECT *, CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum
          FROM t)
        SELECT shard, cum // 512 AS bin, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM c GROUP BY shard, cum // 512""")),

    // Per-document unigram (token) Shannon entropy — the information-
    // density quality signal (low entropy ≙ repetitive boilerplate).
    // H = ln(n) − (Σ c·ln c)/n over per-doc token counts c; each ln is
    // fixed to 9 decimals and summed as an exact integer (q77's
    // order-proof pattern), so float addition order — which differs
    // across partitionings AND engines — can never change the result.
    // Two hash shuffles ((doc,term) then doc), both partial-agg.
    "q108_token_entropy" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_tok"),
            sum(expr("c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e9) AS LONG)"))
              .as("sil"))
          .select(col("doc_id"), col("n_tok"),
            round(log(col("n_tok").cast("double"))
              - col("sil") / 1e9 / col("n_tok"), 6).as("entropy"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        c AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
               round(ln(CAST(sum(c) AS DOUBLE))
                 - CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT))
                        AS BIGINT) / 1e9 / sum(c), 6) AS entropy
        FROM c GROUP BY doc_id""")),

    // Vocabulary construction: top-50 corpus terms by frequency with
    // cumulative coverage share — the "how big a vocab covers X% of
    // tokens" curve every tokenizer build starts from. The top-50 cut
    // happens FIRST via orderBy+limit (TakeOrderedAndProject: per-
    // partition top-50 heaps, driver merges 50·P rows — no vocab-sized
    // single-partition sort; at 100 TB the vocabulary is billions of
    // terms). Rank and the running coverage sum then ride a window over
    // the 50 surviving rows only — a prefix sum over rank r needs no row
    // beyond r, so cutting first is exact.
    "q112_vocab_coverage" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val toks = d.select(explode(split(col("text"), " ")).as("term"))
        val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
        val total = toks.agg(count(lit(1)).as("total"))
        val top = tf.orderBy(col("tf").desc, col("term")).limit(50)
        val w = Window.orderBy(col("tf").desc, col("term"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        top.crossJoin(broadcast(total))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("tf").desc, col("term"))))
          .withColumn("coverage",
            round(sum(col("tf")).over(w) / col("total").cast("double"), 6))
          .select(col("rank"), col("term"), col("tf"), col("coverage"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        tf AS (SELECT term, count(*) AS tf FROM toks GROUP BY term),
        total AS (SELECT count(*) AS total FROM toks),
        r AS (
          SELECT term, tf,
                 row_number() OVER (ORDER BY tf DESC, term) AS rank,
                 round(CAST(sum(tf) OVER (ORDER BY tf DESC, term
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) / CAST(total AS DOUBLE), 6) AS coverage
          FROM tf CROSS JOIN total)
        SELECT rank, term, tf, coverage FROM r WHERE rank <= 50""")),

    // Zipf exponent per language: OLS slope of ln(freq) ~ ln(rank) over
    // each language's top-30 terms — the corpus-health diagnostic
    // (natural text ≈ −1; synthetic/boilerplate drifts). Both logs are
    // fixed to 6 decimals as integers, then q103's exact-sums OLS — the
    // whole regression is order-proof integer arithmetic until one float
    // division per language. One shuffle to term counts; the top-30 cut
    // rides the bounded-heap TopKPerKey exec — the per-lang term table
    // is VOCABULARY-sized (billions of terms at 100 TB), so a per-lang
    // rank window over it would be a single-task funnel; the rank
    // window that remains runs over the ≤ 30×|langs|-row result.
    "q116_zipf_slope" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val tf = d.select(col("lang"),
            explode(split(col("text"), " ")).as("term"))
          .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf"))
        val top30 = graft.operators.Relational.topKPerKey(tf,
          keys = Seq(col("lang")),
          order = Seq(col("tf").desc, col("term")), k = 30)
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("tf").desc, col("term"))
        val top = top30.withColumn("rank", row_number().over(w))
          .select(col("lang"),
            expr("CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS LONG)")
              .as("x"),
            expr("CAST(round(ln(CAST(tf AS DOUBLE)) * 1e6) AS LONG)")
              .as("y"))
        val agg = top.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
        val det = (col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("double")
        agg.select(col("lang"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / det, 6).as("zipf_slope"))
      },
      oracle = Some("""
        WITH tf AS (
          SELECT lang, term, count(*) AS tf FROM (
            SELECT lang, unnest(string_split(text, ' ')) AS term
            FROM documents)
          GROUP BY 1, 2),
        top AS (
          SELECT lang,
                 CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
                 CAST(round(ln(CAST(tf AS DOUBLE)) * 1e6) AS BIGINT) AS y
          FROM (SELECT lang, tf, row_number() OVER (PARTITION BY lang
                  ORDER BY tf DESC, term) AS rank
                FROM tf)
          WHERE rank <= 30),
        m AS (
          SELECT lang, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx
          FROM top GROUP BY lang)
        SELECT lang, n,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
        FROM m""")),

    // BM25 relevance (k1=1.2, b=0.75) of every document against a fixed
    // 3-term query — the lexical-retrieval twin of the ANN queries. All
    // corpus statistics (N, avg length, per-term df→idf) are tiny
    // aggregates that broadcast back onto one scan-side tf join; each
    // per-term score is one fixed float op chain rounded to a 1e9 int,
    // so the per-doc sum is order-proof (q77 pattern). Top-50 by score.
    "q119_bm25" -> QueryDef(
      build = (s, dir) => {
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
        val df = tf.groupBy(col("term"))
          .agg(count(lit(1)).as("df"))
        val idf = df.crossJoin(broadcast(stats))
          .select(col("term"), expr(
            "ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)")
            .as("idf"))
        tf.join(broadcast(idf), "term")
          .join(docLen, "doc_id")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), expr("""
            CAST(round(idf * (CAST(tf AS DOUBLE) * 2.2
              / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
                 * CAST(len AS DOUBLE)
                 / (CAST(total_len AS DOUBLE) / n_docs)))) * 1e9) AS LONG)
            """).as("ts"))
          .groupBy(col("doc_id"))
          .agg(sum(col("ts")).as("s"))
          .select(col("doc_id"), round(col("s") / 1e9, 6).as("bm25"))
          .orderBy(col("s").desc, col("doc_id")).limit(50)
      },
      oracle = Some("""
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
        scored AS (
          SELECT doc_id,
                 CAST(round(idf * (CAST(tf AS DOUBLE) * 2.2
                   / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
                      * CAST(len AS DOUBLE)
                      / (CAST(total_len AS DOUBLE) / n_docs)))) * 1e9)
                   AS BIGINT) AS ts
          FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
          CROSS JOIN stats)
        SELECT doc_id, round(CAST(sum(ts) AS BIGINT) / 1e9, 6) AS bm25
        FROM scored GROUP BY doc_id
        ORDER BY CAST(sum(ts) AS BIGINT) DESC, doc_id LIMIT 50""")),

    // Per-class precision / recall / F1 of the n-gram language-ID
    // classifier against the declared labels — the evaluation table a
    // model-based curation filter ships with. The confusion matrix is a
    // tiny aggregate (|classes|² cells) computed in one corpus pass;
    // per-class metrics are exact-integer formulas (F1 = 2tp/(2tp+fp+fn)
    // avoids chained float ops entirely), guarded NULL when undefined.
    "q124_langid_eval" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val cc = d.select(col("lang"),
            TextAnalysis.langId(col("text")).as("pred"))
          .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
        val cls = s.range(1).select(explode(array(
          Seq("en", "es", "fr", "de").map(lit): _*)).as("cls"))
        cls.crossJoin(cc)
          .groupBy(col("cls"))
          .agg(
            coalesce(sum(when(col("lang") === col("cls") &&
              col("pred") === col("cls"), col("n"))), lit(0L)).as("tp"),
            coalesce(sum(when(col("pred") === col("cls") &&
              col("lang") =!= col("cls"), col("n"))), lit(0L)).as("fp"),
            coalesce(sum(when(col("lang") === col("cls") &&
              col("pred") =!= col("cls"), col("n"))), lit(0L)).as("fn"))
          .select(col("cls"), col("tp"), col("fp"), col("fn"),
            when(col("tp") + col("fp") === 0, lit(null))
              .otherwise(round(col("tp").cast("double")
                / (col("tp") + col("fp")), 6)).as("precision"),
            when(col("tp") + col("fn") === 0, lit(null))
              .otherwise(round(col("tp").cast("double")
                / (col("tp") + col("fn")), 6)).as("recall"),
            when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(null))
              .otherwise(round(lit(2.0) * col("tp")
                / (lit(2) * col("tp") + col("fp") + col("fn")), 6)).as("f1"))
      },
      oracle = Some(s"""
        WITH pred AS (
          SELECT lang,
            CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                 WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de THEN 'es'
                 WHEN s_fr > 0 AND s_fr >= s_de THEN 'fr'
                 WHEN s_de > 0 THEN 'de'
                 ELSE 'unknown' END AS pred
          FROM (
            SELECT lang,
              ${sqlScore(enW)} AS s_en, ${sqlScore(esW)} AS s_es,
              ${sqlScore(frW)} AS s_fr, ${sqlScore(deW)} AS s_de
            FROM documents)),
        m AS (
          SELECT cls,
                 CAST(count(*) FILTER (lang = cls AND pred = cls) AS BIGINT) AS tp,
                 CAST(count(*) FILTER (pred = cls AND lang != cls) AS BIGINT) AS fp,
                 CAST(count(*) FILTER (lang = cls AND pred != cls) AS BIGINT) AS fn
          FROM pred CROSS JOIN (
            SELECT unnest(['en', 'es', 'fr', 'de']) AS cls)
          GROUP BY cls)
        SELECT cls, tp, fp, fn,
               CASE WHEN tp + fp = 0 THEN NULL
                    ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END
                 AS precision,
               CASE WHEN tp + fn = 0 THEN NULL
                    ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END
                 AS recall,
               CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                    ELSE round(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1
        FROM m""")),

    // Signed feature-hashing vectorizer (hashing trick): vocabulary-free
    // text→vector, dimension = hash60(token) mod 16, sign from the next
    // hash bit, integer weights. Zero-shuffle projection; emitted in
    // long (doc, dim, weight) form — zeros included — so the oracle
    // reproduces every cell exactly.
    "q127_hashing_vector" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        d.select(col("doc_id"),
            posexplode(TextAnalysis.hashingVector(col("text"), dims = 16))
              .as(Seq("dim", "weight")))
          .select(col("doc_id"), col("dim").cast("long").as("dim"),
            col("weight"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents)),
        g AS (
          SELECT doc_id, h % 16 AS dim,
                 CAST(sum(CASE WHEN (h >> 4) & 1 = 1 THEN 1 ELSE -1 END)
                      AS BIGINT) AS weight
          FROM toks GROUP BY 1, 2)
        SELECT d.doc_id, gs.dim, coalesce(g.weight, 0) AS weight
        FROM documents d
        CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS dim) gs
        LEFT JOIN g ON g.doc_id = d.doc_id AND g.dim = gs.dim"""))
  ) ++ Seq(

    // Deterministic training order: every doc lands in one of 64
    // hash-assigned shards with a reproducible md5 position inside it —
    // the dataloader artifact (any worker re-derives its shard's order
    // with no coordination). Per-shard ranks ride the two-pass
    // range-partition rank (withStratumRankN), never a 64-partition
    // window over the corpus.
    "q150_training_order" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
          .select(col("doc_id"),
            pmod(graft.functions.hash60(lit("shard"), col("doc_id")),
              lit(64L)).as("shard"),
            md5(col("doc_id").cast("string")).as("__u"))
        graft.operators.Relational.withStratumRankN(
            d, Seq("shard"), Seq(col("__u"), col("doc_id")),
            as = "pos", nAs = "__n")
          .select(col("doc_id"), col("shard"), col("pos"))
      },
      oracle = Some(s"""
        WITH d AS (SELECT doc_id,
          ${sqlHash60("'shard:' || CAST(doc_id AS VARCHAR)")} % 64 AS shard,
          md5(CAST(doc_id AS VARCHAR)) AS u
          FROM documents)
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard
                    ORDER BY u, doc_id) AS BIGINT) AS pos
        FROM d""")),

    // Training-shard sink manifest, end to end: writeTrainingShards
    // physically writes the hive-partitioned shard dirs (q150's shard
    // hash, md5 in-file order) plus the `_shard_manifest` parquet, and
    // the query RETURNS THE MANIFEST READ BACK FROM DISK — so the
    // compare covers the whole sink path (partitioning, write, manifest
    // derivation from the written files), not just the logical plan.
    // The oracle re-derives per-shard doc and token counts straight
    // from `documents`; any row the write dropped or duplicated, or any
    // doc assigned to the wrong shard, breaks the hash match.
    "q193_shard_manifest" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val tmp = org.apache.spark.graft.TempDirs
          .create("graft_q193_shards").toString
        Engine.writeTrainingShards(d, col("text"), col("doc_id"), tmp,
          nShards = 8)
        s.read.parquet(s"$tmp/_shard_manifest")
          .select(col("shard"), col("n_docs"), col("n_tokens"))
      },
      oracle = Some(s"""
        SELECT ${sqlHash60("'shard:' || CAST(doc_id AS VARCHAR)")} % 8 AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY 1""")),

    // q266 — the WRITE -> STATS -> SKIP loop, closed: the training-
    // shard sink writes RANGE-sharded, doc_id-sorted parquet (each
    // shard file covers one contiguous id range, so its footer stats
    // are TIGHT), and a re-read then plans from those stats with the
    // engine's OWN footer walk — a KB-scale planning pass over 8
    // footers (exactly what a real engine's driver does) prunes whole
    // shard files before any data decode; only the survivors' chunks
    // are decoded, by the engine's byte reader, in scan tasks. This is
    // the at-scale story end to end: the sink's sort is WHY the stats
    // prune (hash-sharded files would span the full id range and
    // nothing could ever be skipped — the q150/q193 ordering is for
    // dataloaders, THIS ordering is for scans). Predicate = middle
    // third of the written files' own global span, q249's self-derived
    // shape. The one driver scalar (max doc_id, for the deterministic
    // range divisor) and the 8-row stats collect are bounded metadata,
    // stated per the collect() law.
    "q266_shard_stats_skip" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val d0 = Engine.table(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 1000).as("tok"))
        // bounded: ONE scalar (range divisor for deterministic shards)
        val maxId = d0.agg(max(col("doc_id"))).head().getLong(0)
        val tmp = org.apache.spark.graft.TempDirs
          .create("graft_q266_shards").toString
        d0.withColumn("shard",
            expr(s"CAST(least(7, doc_id * 8 DIV ${maxId + 1}) AS BIGINT)"))
          .repartition(8, col("shard"))
          .sortWithinPartitions(col("shard"), col("doc_id"))
          .write.mode("overwrite").partitionBy("shard").parquet(tmp)
        // planning pass: the engine's own footer walk over the files
        // just written — stats only, no data pages touched
        val files = s.read.format("binaryFile")
          .load(tmp + "/shard=*/*.parquet")
          .select(regexp_extract(col("path"), "shard=(\\d+)", 1)
            .cast("long").as("shard"), col("content"))
          .as[(Long, Array[Byte])]
        val stats = files.map { case (sh, bytes) =>
          val fm = graft.sources.Parquet.parseFooter(bytes)
          val rcs = fm.toSeq.flatMap(_.rowGroups)
            .flatMap(_.cols.find(_.path == "doc_id"))
          val mins = rcs.flatMap(_.minLong)
          val maxs = rcs.flatMap(_.maxLong)
          if (fm.isEmpty || mins.isEmpty || maxs.isEmpty)
            (sh, Long.MaxValue, Long.MinValue, false)
          else (sh, mins.min, maxs.max, true)
        }.collect() // bounded: 8 shard files (KB-scale planning pass)
        if (stats.exists(!_._4))
          s.emptyDataset[(Long, Long, Long, Long, Long)]
            .toDF("shard", "pruned", "rows_decoded", "id_sum", "tok_sum")
        else {
          val gmin = stats.map(_._2).min
          val gmax = stats.map(_._3).max
          val span = gmax - gmin
          val lo = gmin + span / 3
          val hi = gmin + 2 * span / 3
          val prunedShards = stats
            .filter(t => t._3 < lo || t._2 > hi).map(_._1).toSet
          val prunedDf = prunedShards.toSeq
            .map(sh => (sh, 1L, 0L, 0L, 0L)).toDF(
              "shard", "pruned", "rows_decoded", "id_sum", "tok_sum")
          val decoded = files
            .filter(f => !prunedShards.contains(f._1))
            .flatMap { case (sh, bytes) =>
              graft.sources.Parquet.parseFooter(bytes).toSeq.flatMap {
                fm =>
                  val levels = fm.leafLevels
                  var rows = 0L; var idSum = 0L; var tokSum = 0L
                  var ok = true
                  for (rg <- fm.rowGroups; c <- rg.cols) {
                    levels.get(c.path).flatMap(l =>
                      graft.sources.Parquet.decodeChunk(bytes, c, l._1))
                    match {
                      case Some(dv) => c.path match {
                        case "doc_id" =>
                          rows += dv.numValues; idSum += dv.longSum
                        case "tok" => tokSum += dv.longSum
                        case _ => ok = false
                      }
                      case None => ok = false
                    }
                  }
                  if (ok) Seq((sh, 0L, rows, idSum, tokSum)) else Nil
              }
            }.toDF("shard", "pruned", "rows_decoded", "id_sum",
              "tok_sum")
          decoded.unionByName(prunedDf)
        }
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id AS d, doc_id % 1000 AS tok FROM documents),
        g AS (SELECT min(d) AS gmin, max(d) AS gmax FROM r),
        s AS (
          SELECT least(7, d * 8 // (gmax + 1)) AS shard, d, tok,
                 gmin, gmax
          FROM r, g),
        a AS (
          SELECT shard, min(gmin) AS gmin, max(gmax) AS gmax,
                 min(d) AS smin, max(d) AS smax,
                 count(*) AS n, CAST(sum(d) AS BIGINT) AS ids,
                 CAST(sum(tok) AS BIGINT) AS toks
          FROM s GROUP BY shard)
        SELECT shard,
               CAST(CASE WHEN smax < gmin + (gmax - gmin) // 3
                         OR smin > gmin + 2 * (gmax - gmin) // 3
                    THEN 1 ELSE 0 END AS BIGINT) AS pruned,
               CAST(CASE WHEN smax < gmin + (gmax - gmin) // 3
                         OR smin > gmin + 2 * (gmax - gmin) // 3
                    THEN 0 ELSE n END AS BIGINT) AS rows_decoded,
               CAST(CASE WHEN smax < gmin + (gmax - gmin) // 3
                         OR smin > gmin + 2 * (gmax - gmin) // 3
                    THEN 0 ELSE ids END AS BIGINT) AS id_sum,
               CAST(CASE WHEN smax < gmin + (gmax - gmin) // 3
                         OR smin > gmin + 2 * (gmax - gmin) // 3
                    THEN 0 ELSE toks END AS BIGINT) AS tok_sum
        FROM a""")),

    // HTML -> text extraction (WET-style): documents are wrapped in a
    // deterministic MULTI-LINE HTML shell (script spanning newlines with
    // a literal '<', style, comment, the five XML entities) and the
    // extractor must recover clean text. Pure chained-regexp projection;
    // every pattern is shared Java-regex/RE2 syntax — the (?s) block
    // patterns and the explicit whitespace class — so the oracle runs
    // IDENTICAL patterns with 'g'. The embedded newlines pin the DOTALL
    // behavior: without (?s) the script body (and its bare '<') would
    // leak into the extracted text.
    "q149_html_extract" -> QueryDef(
      build = (s, dir) => {
        val html = concat(
          lit("<html><head><title>t</title>" +
            "<script type=\"text/javascript\">\nvar x = 1 < 2;\n</script>" +
            "<style>\n.a { color: red; }\n</style></head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><!-- hidden\ncomment --><p>"), col("text"),
          lit("</p><p>R&amp;D &lt;tag&gt; &quot;q&quot; &#39;s&#39;" +
            "</p></body></html>"))
        val ex = graft.operators.TextAnalysis.htmlToText(html)
        Engine.table(s, dir, "documents")
          .select(col("doc_id"), ex.as("extracted"),
            length(ex).cast("long").as("n_chars_x"))
      },
      oracle = Some("""
        WITH h AS (SELECT doc_id,
          '<html><head><title>t</title>' ||
          '<script type="text/javascript">' || chr(10) ||
          'var x = 1 < 2;' || chr(10) || '</script>' ||
          '<style>' || chr(10) || '.a { color: red; }' || chr(10) ||
          '</style></head><body><h1>Doc ' ||
          CAST(doc_id AS VARCHAR) ||
          '</h1><!-- hidden' || chr(10) || 'comment --><p>' || text ||
          '</p><p>R&amp;D &lt;tag&gt; &quot;q&quot; &#39;s&#39;' ||
          '</p></body></html>' AS t
          FROM documents),
        s1 AS (SELECT doc_id,
          regexp_replace(t, '(?s)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        s2 AS (SELECT doc_id,
          regexp_replace(t, '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
        s3 AS (SELECT doc_id,
          regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
        s4 AS (SELECT doc_id,
          regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s3),
        s5 AS (SELECT doc_id, regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(t,
            '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
            '&#39;', '''', 'g'), '&amp;', '&', 'g') AS t FROM s4)
        SELECT doc_id,
               trim(regexp_replace(t, '[ \t\r\n]+', ' ', 'g')) AS extracted,
               CAST(length(trim(regexp_replace(t, '[ \t\r\n]+', ' ', 'g')))
                    AS BIGINT) AS n_chars_x
        FROM s5""")),

    // Distributed BPE merge training (Sennrich et al. 2016): 3 greedy
    // merge rounds over the documents corpus — per round, the most
    // frequent adjacent token pair (lexicographic tie-break) merges
    // left-to-right non-overlapping. The oracle replays every round as
    // a chained CTE block generated by the SAME Scala loop shape:
    // counts -> argmax -> double-spaced regexp_replace rewrite, so both
    // engines execute the identical greedy semantics.
    "q145_bpe_merge_rounds" -> QueryDef(
      build = (s, dir) => graft.operators.BpeTrain.mergeRounds(
        graft.Engine.table(s, dir, "documents"), col("text"), rounds = 3),
      oracle = Some(bpeOracle(3))),

    // Tokenizer APPLICATION: train the same 3 BPE merges as q145, then
    // ENCODE every document with them — per-doc original/encoded token
    // counts and fertility (encoded/original, the statistic tokenizer
    // evaluations report per language/domain). The doc id and
    // pre-encode count ride the training corpus as passthrough columns,
    // so encoding adds zero shuffles over training; fertility is one
    // IEEE division of two exact longs, rounded at 6 dp. The oracle
    // replays the identical rounds with doc_id carried through every
    // rewrite CTE.
    "q152_bpe_fertility" -> QueryDef(
      build = (s, dir) => graft.operators.BpeTrain.encodeCorpus(
        graft.Engine.table(s, dir, "documents"), col("text"),
        col("doc_id"), rounds = 3),
      oracle = Some(bpeOracle(3, perDoc = true))),

    // Sequence packing (batching): curated docs → fixed 512-token
    // context windows by next-fit-decreasing inside 16 md5-hash packer
    // buckets, audited per bin (fill/waste/util). ONE shuffle on the
    // bucket key; each packer is a linear fold over its bucket — no
    // global sort, no driver state (operators/Batching.scala). The
    // oracle replays the identical walk as a recursive CTE over the
    // same (n_tok desc, doc_id) bucket order.
    // The streaming SEQUENCE PACKER, oracle-backed — packStream's
    // flatMapGroupsWithState walk through the real machinery: documents
    // arrive as two mtimes-ordered deliveries (evens, then odds), each
    // micro-batch extends every md5-hash bucket's OPEN context window
    // (one (bin, acc) pair of state per bucket — a partial window left
    // by batch 1 is topped up by batch 2), and assignments emit
    // append-mode exactly once in their arrival batch. A stream cannot
    // sort globally, so the walk is next-fit in ARRIVAL order (batch,
    // then doc_id) — the oracle replays exactly that order with q173's
    // recursive next-fit CTE re-ordered to (doc_id % 2, doc_id).
    // Drain ×2 from one checkpoint; the replay must add zero rows.
    "q214_stream_seq_packer" -> QueryDef(
      build = (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val d = graft.Engine.table(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        val dv = new StreamDeliveries("graft_q214_packer")
        val root = dv.root
        def land(df: org.apache.spark.sql.DataFrame, name: String,
                 mtime: Long): Unit = dv.land(df, name, mtime)
        land(d.filter(col("doc_id") % 2 === 0), "a", 1000000000000L)
        land(d.filter(col("doc_id") % 2 === 1), "b", 1000000060000L)
        val out = s"$root/out"; val chk = s"$root/chk"
        def drain(): Unit = {
          val stream = s.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", "1").parquet(dv.dropDir)
          val q = graft.streaming.StreamOps
            .packStream(stream, contextLen = 512L, bucketCount = 16)
            .toDF()
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", chk)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: must be a no-op
        s.read.parquet(out)
          .select(col("bucket"), col("bin"), col("doc_id"), col("n_tok"))
      },
      oracle = Some("""
        WITH RECURSIVE t AS (
          SELECT doc_id,
                 CAST(least(len(string_split(text, ' ')), 512) AS BIGINT)
                   AS n_tok,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 16 AS bucket
          FROM documents),
        ord AS (
          SELECT bucket, doc_id, n_tok,
                 row_number() OVER (PARTITION BY bucket
                   ORDER BY doc_id % 2, doc_id) AS rn
          FROM t WHERE n_tok >= 1),
        pack(bucket, rn, bin, acc, doc_id, n_tok) AS (
          SELECT bucket, CAST(1 AS BIGINT), CAST(0 AS BIGINT), n_tok,
                 doc_id, n_tok
          FROM ord WHERE rn = 1
          UNION ALL
          SELECT o.bucket, o.rn,
                 CASE WHEN p.acc + o.n_tok > 512 THEN p.bin + 1
                      ELSE p.bin END,
                 CASE WHEN p.acc + o.n_tok > 512 THEN o.n_tok
                      ELSE p.acc + o.n_tok END,
                 o.doc_id, o.n_tok
          FROM pack p JOIN ord o
            ON o.bucket = p.bucket AND o.rn = p.rn + 1)
        SELECT bucket, bin, doc_id, n_tok FROM pack""")),

    "q173_sequence_packing" -> QueryDef(
      build = (s, dir) => {
        val d = graft.Engine.table(s, dir, "documents")
        graft.operators.Batching.packingAudit(
          graft.operators.Batching.packSequences(d, col("doc_id"),
            size(split(col("text"), " ")), contextLen = 512L,
            bucketCount = 16),
          contextLen = 512L)
      },
      oracle = Some("""
        WITH RECURSIVE t AS (
          SELECT doc_id,
                 least(len(string_split(text, ' ')), 512) AS n_tok,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 16 AS bucket
          FROM documents),
        ord AS (
          SELECT bucket, doc_id, n_tok,
                 row_number() OVER (PARTITION BY bucket
                   ORDER BY n_tok DESC, doc_id) AS rn
          FROM t WHERE n_tok >= 1),
        pack(bucket, rn, bin, acc) AS (
          SELECT bucket, CAST(1 AS BIGINT), CAST(0 AS BIGINT), n_tok
          FROM ord WHERE rn = 1
          UNION ALL
          SELECT o.bucket, o.rn,
                 CASE WHEN p.acc + o.n_tok > 512 THEN p.bin + 1
                      ELSE p.bin END,
                 CASE WHEN p.acc + o.n_tok > 512 THEN o.n_tok
                      ELSE p.acc + o.n_tok END
          FROM pack p JOIN ord o
            ON o.bucket = p.bucket AND o.rn = p.rn + 1)
        SELECT p.bucket, p.bin, count(*) AS n_docs,
               CAST(sum(o.n_tok) AS BIGINT) AS fill_tokens,
               512 - CAST(sum(o.n_tok) AS BIGINT) AS waste_tokens,
               round(CAST(sum(o.n_tok) AS DOUBLE) / 512, 6) AS util
        FROM pack p JOIN ord o ON o.bucket = p.bucket AND o.rn = p.rn
        GROUP BY p.bucket, p.bin""")),

    // Gopher's top-n-gram coverage signals (Rae et al. 2021 A1.1, the
    // repetition family q71's distinct-fraction misses): the fraction
    // of a document's tokens covered by its single most frequent
    // 2-gram and 3-gram. count·n over-counts SELF-OVERLAPPING grams
    // ("x x" in "x x x" occurs twice over 3 tokens), so the numerator
    // caps at n_tokens — coverage is a fraction by construction, never
    // 1.33. Two (doc, gram) partial-agg shuffles and a per-doc max;
    // tie-breaking is irrelevant because only the COUNT survives.
    "q165_topgram_coverage" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val toks = d.select(col("doc_id"),
          split(col("text"), " ").as("t"),
          size(split(col("text"), " ")).cast("long").as("n"))
        def topCount(n: Int) = toks
          .filter(size(col("t")) >= n)
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(1, size(t) - ${n - 1}), " +
              s"i -> array_join(slice(t, i, $n), ' '))")).as("g"))
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(max(col("c")).as(s"c$n"))
        toks.select(col("doc_id"), col("n"))
          .join(topCount(2), Seq("doc_id"), "left")
          .join(topCount(3), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n").as("n_tokens"),
            round(least(coalesce(col("c2"), lit(0L)) * 2, col("n"))
              .cast("double") / col("n"), 6).as("top2_cov"),
            round(least(coalesce(col("c3"), lit(0L)) * 3, col("n"))
              .cast("double") / col("n"), 6).as("top3_cov"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS t,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n
          FROM documents),
        g2 AS (
          SELECT doc_id, max(c) AS c2 FROM (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id,
                     array_to_string(t[i : i + 1], ' ') AS g
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 1)) AS i
                    FROM t WHERE len(t) >= 2))
            GROUP BY doc_id, g)
          GROUP BY doc_id),
        g3 AS (
          SELECT doc_id, max(c) AS c3 FROM (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id,
                     array_to_string(t[i : i + 2], ' ') AS g
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 2)) AS i
                    FROM t WHERE len(t) >= 3))
            GROUP BY doc_id, g)
          GROUP BY doc_id)
        SELECT t.doc_id, t.n AS n_tokens,
               round(CAST(least(coalesce(g2.c2, 0) * 2, t.n) AS DOUBLE)
                 / t.n, 6) AS top2_cov,
               round(CAST(least(coalesce(g3.c3, 0) * 3, t.n) AS DOUBLE)
                 / t.n, 6) AS top3_cov
        FROM t LEFT JOIN g2 ON t.doc_id = g2.doc_id
               LEFT JOIN g3 ON t.doc_id = g3.doc_id""")),

    // Token-novelty curve over the TRAINING ORDER (q150's shard/pos
    // permutation): per document, how many of its distinct tokens make
    // their corpus-wide FIRST appearance there — the data-ordering
    // diversity signal (a flat curve means the shuffle spreads novelty;
    // a cliff means a stratum was left clumped). "First" under the
    // lexicographic (shard, pos, doc_id) order is one whole-corpus
    // min_by per token on a PACKED order key — partial-agg path, no
    // window, no sequential scan; the packing is exact (shard < 64,
    // pos < 2^26 at any realistic shard count).
    "q168_token_novelty" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val ordered = d.select(col("doc_id"),
          pmod(graft.functions.hash60(lit("shard"), col("doc_id")),
            lit(64L)).as("shard"),
          md5(col("doc_id").cast("string")).as("__u"))
        val pos = graft.operators.Relational.withStratumRankN(
            ordered, Seq("shard"), Seq(col("__u"), col("doc_id")),
            as = "pos", nAs = "__n")
          .select(col("doc_id"),
            (col("shard") * lit(1L << 26) + col("pos")).as("okey"))
        // lazily checkpointed: BOTH the first-occurrence aggregate and
        // the final join consume this exploded table (no cross-join CSE)
        val toks = d.select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("w"))
          .join(pos, Seq("doc_id"))
          .trackedCheckpoint(false)
        val firsts = toks.groupBy(col("w"))
          .agg(min(col("okey")).as("first_okey"))
        toks.join(firsts, Seq("w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_distinct_tokens"),
            sum((col("okey") === col("first_okey")).cast("long"))
              .as("n_first_here"))
          .select(col("doc_id"), col("n_distinct_tokens"),
            col("n_first_here"),
            round(col("n_first_here").cast("double")
              / col("n_distinct_tokens"), 6).as("novelty_rate"))
      },
      oracle = Some(s"""
        WITH o AS (
          SELECT doc_id,
                 ${OracleSql.sqlHash60("'shard:' || CAST(doc_id AS VARCHAR)")}
                   % 64 AS shard,
                 md5(CAST(doc_id AS VARCHAR)) AS u
          FROM documents),
        p AS (
          SELECT doc_id,
                 shard * ${1L << 26} + row_number() OVER (
                   PARTITION BY shard ORDER BY u, doc_id) AS okey
          FROM o),
        tk AS (
          SELECT d.doc_id, p.okey, unnest(list_distinct(
            string_split(d.text, ' '))) AS w
          FROM documents d JOIN p ON d.doc_id = p.doc_id),
        f AS (SELECT w, min(okey) AS first_okey FROM tk GROUP BY w)
        SELECT doc_id, count(*) AS n_distinct_tokens,
               CAST(sum(CASE WHEN okey = first_okey THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_first_here,
               round(CAST(sum(CASE WHEN okey = first_okey THEN 1 ELSE 0
                 END) AS DOUBLE) / count(*), 6) AS novelty_rate
        FROM tk JOIN f USING (w)
        GROUP BY doc_id""")),

    // Per-source unigram DRIFT: total-variation distance between each
    // source's token distribution and the corpus distribution — the
    // mixture-monitoring statistic that catches one crawl stream going
    // off-distribution. TV needs no smoothing and the absent-term mass
    // has a CLOSED FORM (terms the source never uses contribute
    // q_t/2, and Σ_absent q = 1 − Σ_present q), so the sum runs over
    // the source's OWN support only — never a dense |V|×|sources|
    // expansion. Per-term |p−q| is two exact-long divisions and one
    // subtraction, 1e-9-quantized before summing so the fold is
    // order-proof; the (term) join SHUFFLES (vocabulary-sized), only
    // the two scalar totals broadcast.
    "q167_unigram_drift" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val tok = d.select(col("source"),
          explode(split(col("text"), " ")).as("w"))
        // ONE tokenize pass: the (source, term) counts are lazily
        // checkpointed and every other statistic — per-term counts,
        // per-source totals, the grand total — folds from THAT small
        // table (Catalyst cannot CSE the four consumers otherwise,
        // and each would re-run the full corpus explode)
        val bySrc = tok.groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c_sw"))
          .trackedCheckpoint(false)
        val byTerm = bySrc.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
        val tS = bySrc.groupBy(col("source")).agg(sum(col("c_sw")).as("t_s"))
        val t = bySrc.agg(sum(col("c_sw")).as("t_all"))
        bySrc.join(byTerm, Seq("w"))
          .join(broadcast(tS), Seq("source"))
          .crossJoin(broadcast(t))
          .select(col("source"), col("t_s"),
            round(abs(col("c_sw").cast("double") / col("t_s")
              - col("c_w").cast("double") / col("t_all")) * 1e9)
              .cast("long").as("ad"),
            round(col("c_w").cast("double") / col("t_all") * 1e9)
              .cast("long").as("q9"))
          .groupBy(col("source"))
          .agg(max(col("t_s")).as("n_tokens"),
            sum(col("ad")).as("sad"), sum(col("q9")).as("sq"))
          .select(col("source"), col("n_tokens"),
            round((col("sad") / 1e9 + (lit(1.0) - col("sq") / 1e9))
              / 2.0, 6).as("tv_dist"))
      },
      oracle = Some("""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS w
          FROM documents),
        s AS (SELECT source, w, count(*) AS c_sw FROM tok GROUP BY 1, 2),
        wt AS (SELECT w, count(*) AS c_w FROM tok GROUP BY w),
        ts AS (SELECT source, count(*) AS t_s FROM tok GROUP BY source),
        t AS (SELECT count(*) AS t_all FROM tok),
        q AS (
          SELECT s.source, ts.t_s,
                 CAST(round(abs(CAST(c_sw AS DOUBLE) / t_s
                   - CAST(c_w AS DOUBLE) / t_all) * 1e9) AS BIGINT) AS ad,
                 CAST(round(CAST(c_w AS DOUBLE) / t_all * 1e9) AS BIGINT)
                   AS q9
          FROM s JOIN wt USING (w) JOIN ts USING (source) CROSS JOIN t)
        SELECT source, CAST(max(t_s) AS BIGINT) AS n_tokens,
               round((CAST(sum(ad) AS BIGINT) / 1e9
                 + (1.0 - CAST(sum(q9) AS BIGINT) / 1e9)) / 2.0, 6)
                 AS tv_dist
        FROM q GROUP BY source""")),

    // Gopher's duplicate-PARAGRAPH fractions (within one document —
    // the granularity between q71's token/bigram repeats and q155's
    // cross-corpus boilerplate): fraction of a doc's chunks that are
    // repeats, and fraction of its tokens sitting in ANY instance of a
    // repeated chunk. Shares Curation.chunkTable; two partial-agg
    // levels keyed (doc, chunk-hash) then (doc) — per-doc bounded,
    // exact longs, two IEEE divisions.
    "q166_dup_paragraph_frac" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        graft.operators.Curation.chunkTable(d, col("text"), col("doc_id"),
            w = 8)
          .select(col("doc_id"), col("h"),
            size(split(col("ctext"), " ")).cast("long").as("tl"))
          .groupBy(col("doc_id"), col("h"))
          .agg(count(lit(1)).as("cnt"), max(col("tl")).as("tl"))
          .groupBy(col("doc_id"))
          .agg(sum(col("cnt")).as("n_chunks"),
            count(lit(1)).as("n_distinct"),
            sum(col("cnt") * col("tl")).as("n_tokens"),
            sum(when(col("cnt") > 1, col("cnt") * col("tl"))
              .otherwise(0L)).as("dup_tokens"))
          .select(col("doc_id"), col("n_chunks"), col("n_distinct"),
            round(lit(1.0) - col("n_distinct").cast("double")
              / col("n_chunks"), 6).as("dup_chunk_frac"),
            round(col("dup_tokens").cast("double") / col("n_tokens"), 6)
              .as("dup_tok_frac"))
      },
      oracle = Some("""
        WITH c AS (
          SELECT doc_id,
                 md5(array_to_string(
                   string_split(text, ' ')[start : start + 7], ' ')) AS h,
                 CAST(len(string_split(array_to_string(
                   string_split(text, ' ')[start : start + 7], ' '), ' '))
                   AS BIGINT) AS tl
          FROM (SELECT doc_id, text,
                       unnest(generate_series(1,
                         len(string_split(text, ' ')), 8)) AS start
                FROM documents)),
        g AS (
          SELECT doc_id, h, count(*) AS cnt, max(tl) AS tl
          FROM c GROUP BY doc_id, h)
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_chunks,
               count(*) AS n_distinct,
               round(1.0 - CAST(count(*) AS DOUBLE) / sum(cnt), 6)
                 AS dup_chunk_frac,
               round(CAST(sum(CASE WHEN cnt > 1 THEN cnt * tl ELSE 0 END)
                          AS DOUBLE) / sum(cnt * tl), 6) AS dup_tok_frac
        FROM g GROUP BY doc_id""")),

    // CCNet-style boilerplate removal at paragraph granularity: every
    // 8-token chunk seen verbatim in >= 3 DISTINCT docs (headers,
    // footers, nav bars in a real crawl) is dropped from EVERY doc,
    // and the cleaned documents are reassembled in chunk order. The
    // boilerplate count shuffles md5 keys, never chunk strings; the
    // rebuild is one groupBy with an array_sort on (chunk_id, text) —
    // per-doc bounded, order-proof. Docs that are pure boilerplate
    // survive with empty text (left join from the per-doc totals).
    "q155_boilerplate_removal" -> QueryDef(
      // NO fanOut: measured 0.68s -> 1.30s WITH it at sf0.1 — the
      // per-chunk md5 is one hash per 8 tokens (vs q131's per-token
      // work), so the extra exchange costs more than it parallelizes
      build = (s, dir) => graft.operators.Curation.removeBoilerplate(
        Engine.table(s, dir, "documents"),
        col("text"), col("doc_id"), w = 8, minDocs = 3),
      oracle = Some("""
        WITH c AS (
          SELECT doc_id, (start - 1) // 8 AS chunk_id,
                 array_to_string(
                   string_split(text, ' ')[start : start + 7], ' ') AS ctext
          FROM (SELECT doc_id, text,
                       unnest(generate_series(1,
                         len(string_split(text, ' ')), 8)) AS start
                FROM documents)),
        b AS (
          SELECT md5(ctext) AS h FROM c
          GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
        k AS (
          SELECT doc_id, count(*) AS n_kept,
                 string_agg(ctext, ' ' ORDER BY chunk_id) AS cleaned
          FROM c WHERE md5(ctext) NOT IN (SELECT h FROM b)
          GROUP BY doc_id),
        t AS (SELECT doc_id, count(*) AS n_chunks FROM c GROUP BY doc_id)
        SELECT t.doc_id, t.n_chunks,
               coalesce(k.n_kept, 0) AS n_kept,
               coalesce(k.cleaned, '') AS cleaned
        FROM t LEFT JOIN k ON t.doc_id = k.doc_id""")),

    // Collocation mining (word2vec-prep): PMI of adjacent token pairs
    // with a min-count support cut, top 20. All inputs are exact long
    // counts; PMI is a FIXED-ORDER sum of ln's of exact integers — ln
    // on identical doubles is bit-identical cross-engine (the q77
    // proof), so even the top-k boundary is deterministic. The
    // unigram-count joins SHUFFLE (vocabulary-sized at 100 TB — the
    // q140 discipline: only the two scalar totals broadcast).
    "q156_pmi_collocations" -> QueryDef(
      build = (s, dir) => {
        val d = Engine.table(s, dir, "documents")
        val toks = d.select(split(col("text"), " ").as("t"))
        val uni = toks.select(explode(col("t")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cw"))
        val bi = toks.filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(t) - 1), " +
              "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
            .as("p"))
          .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .agg(count(lit(1)).as("c2"))
          .where(col("c2") >= 20)
        val n1 = uni.agg(sum(col("cw")).as("n1"))
        val n2 = toks.filter(size(col("t")) >= 2)
          .agg(sum(size(col("t")) - 1).cast("long").as("n2"))
        bi.join(uni.withColumnRenamed("w", "w1")
              .withColumnRenamed("cw", "cw1"), Seq("w1"))
          .join(uni.withColumnRenamed("w", "w2")
              .withColumnRenamed("cw", "cw2"), Seq("w2"))
          .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
          .select(col("w1"), col("w2"), col("c2"),
            round(log(col("c2").cast("double"))
              + lit(2.0) * log(col("n1").cast("double"))
              - log(col("n2").cast("double"))
              - log(col("cw1").cast("double"))
              - log(col("cw2").cast("double")), 6).as("pmi"))
          .orderBy(col("pmi").desc, col("w1"), col("w2"))
          .limit(20)
      },
      oracle = Some("""
        WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        uni AS (
          SELECT unnest(t) AS w FROM t),
        cw AS (SELECT w, count(*) AS cw FROM uni GROUP BY w),
        bi AS (
          SELECT t[i] AS w1, t[i+1] AS w2
          FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                FROM t WHERE len(t) >= 2)),
        c2 AS (
          SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2
          HAVING count(*) >= 20),
        n1 AS (SELECT count(*) AS n1 FROM uni),
        n2 AS (SELECT count(*) AS n2 FROM bi)
        SELECT w1, w2, CAST(c2 AS BIGINT) AS c2,
               round(ln(CAST(c2 AS DOUBLE))
                 + 2.0 * ln(CAST(n1 AS DOUBLE))
                 - ln(CAST(n2 AS DOUBLE))
                 - ln(CAST(a.cw AS DOUBLE))
                 - ln(CAST(b.cw AS DOUBLE)), 6) AS pmi
        FROM c2
        JOIN cw a ON c2.w1 = a.w
        JOIN cw b ON c2.w2 = b.w
        CROSS JOIN n1 CROSS JOIN n2
        ORDER BY pmi DESC, w1, w2 LIMIT 20""")),

    // q357 — UNIGRAM-LM tokenizer training (Kudo 2018, the
    // SentencePiece EM model most modern tokenizers actually train —
    // the alternative to the engine's BPE pair q145/q152): seed =
    // alphabet + top-M frequent substrings, then 4 EXACT EM epochs
    // (forward-backward segmentation marginals per distinct word,
    // corpus-weighted) — all as one flatMap + one aggregation per
    // epoch; only the bounded vocab ever crosses to the driver
    // (operators/UnigramLm.scala). Laws in the compared output:
    // corpus log-likelihood is NON-DECREASING across epochs (the EM
    // guarantee — exact marginals, so any violation is a bug, not
    // noise), Viterbi encoding of the HELD-OUT split (doc_id%10==3,
    // never trained on) reconstructs every word byte-exactly
    // (coverage: chars are pieces; unseen held-out chars get the
    // SentencePiece required-chars floor), and the encoding
    // COMPRESSES (pieces < chars — multi-char pieces survived EM).
    // Word/char totals re-derive in DuckDB.
    "q357_unigram_lm_train" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val U = graft.operators.UnigramLm
        val d = Engine.table(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
        val trainWords = d.filter(col("doc_id") % 10 =!= 3)
          .groupBy("w").agg(count(lit(1)).as("c"))
          .as[(String, Long)]
        val holdWords = d.filter(col("doc_id") % 10 === 3)
          .groupBy("w").agg(count(lit(1)).as("c"))
          .as[(String, Long)]
        val trained = U.train(trainWords, m = 300, maxPiece = 6,
          epochs = 4)
        // required-chars coverage for held-out encoding
        val hoChars = holdWords.flatMap(_._1.map(_.toString))
          .distinct().collect() // bounded: |alphabet|
        val floor = trained.vocab.values.min * 1e-3
        val vocab = trained.vocab ++
          hoChars.filterNot(trained.vocab.contains)
            .map(_ -> floor)
        val lls = trained.epochs.map(_.ll)
        val monotone =
          if (lls.forall(!_.isNaN) && lls.zip(lls.tail).forall {
            case (a, b) => b >= a - math.abs(a) * 1e-9
          }) 1L else 0L
        val bc = s.sparkContext.broadcast(vocab)
        val enc = holdWords.map { case (w, c) =>
          val pieces = U.viterbi(w, bc.value, maxPiece = 6)
          (c, // occurrences
            c * w.length.toLong, // chars
            c * pieces.length.toLong, // pieces
            if (pieces.nonEmpty && pieces.mkString == w) 0L else 1L)
        }.toDF("n", "chars", "pieces", "bad")
          .agg(sum("n").as("n"), sum("chars").as("chars"),
            sum("pieces").as("pieces"), sum("bad").as("bad"))
          .as[(Long, Long, Long, Long)]
          .head() // bounded: one row
        val nTrain = trainWords.map(_._2).reduce(_ + _)
        val (nHold, hoCharsN, hoPieces, bad) = enc
        val rows = trained.epochs.map { ep =>
          (ep.epoch.toLong, monotone,
            if (bad == 0L) 1L else 0L,
            if (hoPieces < hoCharsN) 1L else 0L,
            nTrain, nHold, hoCharsN)
        }
        s.createDataset(rows)
          .toDF("epoch", "ll_monotone", "recon_ok", "compresses",
            "n_train_words", "n_holdout_words", "n_holdout_chars")
      },
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
        f AS (SELECT doc_id, w FROM w WHERE len(w) > 0),
        tr AS (
          SELECT CAST(count(*) AS BIGINT) AS n_train_words
          FROM f WHERE doc_id % 10 <> 3),
        ho AS (
          SELECT CAST(count(*) AS BIGINT) AS n_holdout_words,
                 CAST(COALESCE(sum(len(w)), 0) AS BIGINT)
                   AS n_holdout_chars
          FROM f WHERE doc_id % 10 = 3)
        SELECT CAST(e.epoch AS BIGINT) AS epoch,
               CAST(1 AS BIGINT) AS ll_monotone,
               CAST(1 AS BIGINT) AS recon_ok,
               CAST(1 AS BIGINT) AS compresses,
               tr.n_train_words, ho.n_holdout_words,
               ho.n_holdout_chars
        FROM (SELECT unnest(generate_series(0, 3)) AS epoch) e
        CROSS JOIN tr CROSS JOIN ho""")),

    // q376 — WORDPIECE training, the third tokenizer family next to
    // BPE (q145/q152, raw-count argmax) and the unigram LM (q357,
    // EM): the likelihood-ranked merge loop (score =
    // pair/(left·right)) BERT's lineage ships, trained distributed
    // over the DISTINCT-WORD table (corpus-size-independent state;
    // one (pair, score) row to the driver per round — the q145
    // bounded-collect contract; WordPieceSpec pins the rule against
    // an independent in-memory reference and pins that it DIVERGES
    // from BPE's pick). Held-out words (doc_id%10==3, never trained
    // on) encode greedy-longest-match-first with zero [UNK] after
    // alphabet coverage, reconstruct exactly, and compress below
    // char count; the vocab is exactly alphabet + one token per
    // merge. Corpus counts re-derive in DuckDB, including the
    // initial/continuation alphabet split.
    "q376_wordpiece_train" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val WP = graft.operators.WordPiece
        val d = Engine.table(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
        val trainWords = d.filter(col("doc_id") % 10 =!= 3)
          .groupBy("w").agg(count(lit(1)).as("c"))
          .as[(String, Long)]
        val holdWords = d.filter(col("doc_id") % 10 === 3)
          .groupBy("w").agg(count(lit(1)).as("c"))
          .as[(String, Long)]
        val nMerges = 12
        val trained = WP.train(trainWords, nMerges)
        val vocabOk =
          if (trained.vocab.length ==
            trained.alphabet.length + trained.merges.length) 1L
          else 0L
        // holdout alphabet coverage (q357's floor discipline):
        // unseen characters join the vocab in both forms
        val hoChars = holdWords.flatMap(_._1.map(_.toString))
          .distinct().collect() // bounded: |alphabet|
        val vocab = trained.vocab.toSet ++
          hoChars.flatMap(c => Seq(c, s"##$c"))
        val bc = s.sparkContext.broadcast(vocab)
        val enc = holdWords.map { case (w, c) =>
          WP.encode(w, bc.value) match {
            case Some(ps) =>
              (c, c * w.length.toLong, c * ps.length.toLong,
                if (WP.concatPieces(ps) == w) 0L else 1L, 0L)
            case None => (c, c * w.length.toLong, 0L, 1L, c)
          }
        }.toDF("n", "chars", "pieces", "bad", "unk")
          .agg(sum("n").as("n"), sum("chars").as("chars"),
            sum("pieces").as("pieces"), sum("bad").as("bad"),
            sum("unk").as("unk"))
          .as[(Long, Long, Long, Long, Long)]
          .head() // bounded: one row
        val nTrain = trainWords.map(_._2).reduce(_ + _)
        val (nHold, hoCharsN, hoPieces, bad, unk) = enc
        val rows = trained.merges.map { m =>
          (m.round.toLong,
            if (bad == 0L) 1L else 0L,
            if (unk == 0L) 1L else 0L,
            if (hoPieces < hoCharsN) 1L else 0L,
            vocabOk, nTrain, nHold, hoCharsN,
            trained.alphabet.length.toLong)
        }
        s.createDataset(rows)
          .toDF("round", "recon_ok", "unk_zero", "compresses",
            "vocab_ok", "n_train_words", "n_holdout_words",
            "n_holdout_chars", "alpha_size")
      },
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
        f AS (SELECT doc_id, w FROM w WHERE len(w) > 0),
        trw AS (SELECT w FROM f WHERE doc_id % 10 <> 3),
        tr AS (
          SELECT CAST(count(*) AS BIGINT) AS n_train_words FROM trw),
        ho AS (
          SELECT CAST(count(*) AS BIGINT) AS n_holdout_words,
                 CAST(COALESCE(sum(len(w)), 0) AS BIGINT)
                   AS n_holdout_chars
          FROM f WHERE doc_id % 10 = 3),
        init AS (SELECT DISTINCT substr(w, 1, 1) AS c FROM trw),
        cont AS (
          SELECT DISTINCT t[i] AS c
          FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
                FROM (SELECT string_split(w, '') AS t FROM trw
                      WHERE len(w) >= 2)))
        SELECT CAST(r.round AS BIGINT) AS round,
               CAST(1 AS BIGINT) AS recon_ok,
               CAST(1 AS BIGINT) AS unk_zero,
               CAST(1 AS BIGINT) AS compresses,
               CAST(1 AS BIGINT) AS vocab_ok,
               tr.n_train_words, ho.n_holdout_words,
               ho.n_holdout_chars,
               CAST((SELECT count(*) FROM init) +
                    (SELECT count(*) FROM cont) AS BIGINT)
                 AS alpha_size
        FROM (SELECT unnest(generate_series(1, 12)) AS round) r
        CROSS JOIN tr CROSS JOIN ho""")))

  /** The q145/q152 oracle for `rounds` chained BPE merge rounds. With
    * `perDoc` the rewrite CTEs carry (doc_id, n0) and the query emits
    * per-document encode stats instead of the per-round merge table.
    */
  private def bpeOracle(rounds: Int, perDoc: Boolean = false): String = {
    val carry = if (perDoc) "doc_id, n0, " else ""
    val blocks = (1 to rounds).map { r =>
      s"""p$r AS (
           SELECT t[i] AS l, t[i+1] AS r, count(*) AS cnt
           FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                 FROM (SELECT string_split(txt, ' ') AS t FROM c${r - 1})
                 WHERE len(t) >= 2)
           GROUP BY 1, 2),
         m$r AS (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1),
         c$r AS (
           SELECT ${carry}array_to_string(list_filter(string_split(
             regexp_replace(' ' || replace(txt, ' ', '  ') || ' ',
               ' \\Q' || (SELECT l FROM m$r) || '\\E  \\Q' ||
                 (SELECT r FROM m$r) || '\\E ',
               ' ' || replace((SELECT l FROM m$r), '\\', '\\\\') || '@' ||
                 replace((SELECT r FROM m$r), '\\', '\\\\') || ' ', 'g'),
             ' '), x -> x != ''), ' ') AS txt
           FROM c${r - 1})"""
    }.mkString(",\n        ")
    val c0 =
      if (perDoc)
        s"""c0 AS (SELECT doc_id, CAST(text AS VARCHAR) AS txt,
                 CAST(len(string_split(CAST(text AS VARCHAR), ' '))
                      AS BIGINT) AS n0
               FROM documents WHERE text IS NOT NULL)"""
      else
        s"""c0 AS (SELECT CAST(text AS VARCHAR) AS txt FROM documents
                  WHERE text IS NOT NULL)"""
    val finalSel =
      if (perDoc)
        s"""SELECT doc_id, n0 AS n_tok_orig,
                 CAST(len(string_split(txt, ' ')) AS BIGINT) AS n_tok_enc,
                 round(CAST(len(string_split(txt, ' ')) AS DOUBLE) / n0, 6)
                   AS fertility
          FROM c$rounds"""
      else
        (1 to rounds).map { r =>
          s"""SELECT $r AS round, l AS lhs, r AS rhs,
                 CAST(cnt AS BIGINT) AS pair_count,
                 (SELECT CAST(sum(len(string_split(txt, ' '))) AS BIGINT)
                  FROM c$r) AS tokens_after
          FROM m$r"""
        }.mkString("\n        UNION ALL\n        ")
    s"""
      WITH $c0,
        $blocks
        $finalSel"""
  }
}
