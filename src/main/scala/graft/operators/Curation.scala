package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materializer
import graft.Tables._
import graft.functions.TextHash._

/** Corpus-curation operators beyond per-doc scoring: repeated-span
  * (boilerplate) detection, subword merge-pair counting (the first BPE
  * vocabulary-induction step), and per-source relative quality gating.
  *
  * These are the CCNet/C4-style cleanup passes a training-data pipeline
  * runs between raw ingest and tokenization; none exist in the reference
  * (777 lines of PySpark traffic analytics with no text processing), so
  * like TextOps/Dedup they follow SURVEY.md §7.2's extension plan.
  *
  * Scale notes (100 TB posture):
  *  - Boilerplate detection shuffles SPAN-hash rows (≈ n_tokens/SPAN per
  *    doc, 8× fewer than a shingle index) through one groupBy + one
  *    equi-join back — the exact shape of the proven shingle-index ops.
  *  - BPE pair counting is a scan-local double explode into a single
  *    count aggregate topped by orderBy().limit() — a distributed
  *    TakeOrderedAndProject, never a global window.
  *  - The quality gate sorts WITHIN each source partition only (a
  *    row_number window partitioned by source). At real scale, with a
  *    skewed source distribution, the drop-in replacement is an
  *    approx-quantile threshold per source (computed on the per-source
  *    aggregate, broadcast back) — the rank form is kept here because it
  *    is exactly mirrorable in the oracle, and the partitioned window is
  *    still per-source-parallel.
  */
object Curation {

  /** Tokens per non-overlapping span. */
  private val SPAN = 8

  /** A span hash seen in ≥ BP_DF distinct docs is boilerplate. */
  private val BP_DF = 2

  private val TOP_MERGES = 20

  // ------------------------------------------------ boilerplate spans
  /** Per-span polynomial hash over the doc's token hashes: doc tokens are
    * cut into consecutive SPAN-token groups; span g covers token indices
    * (g-1)*SPAN+1 .. min(g*SPAN, n). Same fold as TextHash.charHash but
    * over token hashes, so arithmetic stays < 2^63 (h < P, th < P ⇒
    * h*31 + th < 3.2e10). */
  private def spanHashArr(th: Column): Column = {
    val n = size(th)
    val nSpans = floor((n + lit(SPAN - 1)).cast("double") / SPAN).cast("int")
    val gs = when(nSpans >= 1, sequence(lit(1), nSpans))
      .otherwise(array().cast("array<int>"))
    transform(gs, g =>
      aggregate(sequence((g - 1) * SPAN + 1, least(g * SPAN, n)), lit(0L),
        (h, i) => (h * 31 + element_at(th, i)) % P))
  }

  private def sqlSpanHashes(th: String): String =
    s"""list_transform(generate_series(1, (len($th) + ${SPAN - 1}) // $SPAN), g ->
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series((g-1)*$SPAN + 1, least(g*$SPAN, len($th))), i -> $th[i])),
       |    (h, c) -> (h*31 + c) % $P))""".stripMargin

  /** CCNet-style repeated-span detection: a span whose hash occurs in ≥
    * BP_DF distinct documents is boilerplate (shared header/footer/
    * navigation text, or a duplicated document); per doc, report the
    * span count, boilerplate-span count and fraction, and a clean flag.
    *
    * One span-hash groupBy (document frequency) + one equi-join back —
    * both keyed on the high-cardinality span hash, so the shuffle is
    * uniform; the exploded span table is materialized once (Materializer)
    * because the plan references it on both sides of the join. */
  def boilerplateSpans(spark: SparkSession, dir: String): DataFrame = {
    val spans = Materializer.materialize(
      documents(spark, dir)
        .select(col("doc_id"),
          spanHashArr(tokenHashesFast(col("text"))).as("spans"))
        .select(col("doc_id"), explode(col("spans")).as("sh")))
    // only membership in the BOILERPLATE set matters downstream, so the
    // join carries the filtered hot set (df ≥ BP_DF), not the full
    // per-span dfreq. Note BP_DF is small, so the hot set scales with
    // corpus DUPLICATION, not just true boilerplate — the broadcast is
    // opportunistic via the planner's size threshold (as in
    // NearDup.cappedPostings), and a heavily-duplicated corpus whose hot
    // set outgrows it falls back to a shuffled join on its own. Still
    // strictly smaller than the full dfreq, which stops being
    // broadcastable as the corpus vocabulary grows and would demote the
    // join to a shuffle of the whole exploded span table; a left join +
    // null test reproduces df ≥ BP_DF exactly (round 14; same rows,
    // oracle unchanged).
    // materialized so the static planner sees the FILTERED size (the
    // bigram-surprise refutation in OPTIMIZATION_r14.md: an inline
    // agg+filter subtree carries the unfiltered aggregate's stats and
    // loses the broadcast)
    val hot = Materializer.materialize(
      spans.groupBy(col("sh"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= BP_DF)
        .select(col("sh"), lit(1L).as("bp")))
    spans.join(hot, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("bp"), lit(0L))).as("n_bp_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_bp_spans"),
        (col("n_bp_spans").cast("double") / col("n_spans")).as("bp_frac"),
        (col("n_bp_spans") === 0).cast("int").as("is_clean"))
      .orderBy("doc_id")
  }

  val boilerplateSpansSql: String =
    s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |h AS (SELECT doc_id, ${sqlTokenHashes("toks")} AS th FROM t),
       |sp AS (SELECT doc_id, unnest(${sqlSpanHashes("th")}) AS sh FROM h),
       |d AS (SELECT sh, count(DISTINCT doc_id) AS df FROM sp GROUP BY 1),
       |j AS (SELECT sp.doc_id, d.df FROM sp JOIN d USING (sh))
       |SELECT doc_id, count(*) AS n_spans,
       |       CAST(sum(CASE WHEN df >= $BP_DF THEN 1 ELSE 0 END) AS BIGINT) AS n_bp_spans,
       |       CAST(sum(CASE WHEN df >= $BP_DF THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS bp_frac,
       |       CAST(sum(CASE WHEN df >= $BP_DF THEN 1 ELSE 0 END) = 0 AS INT) AS is_clean
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ BPE merge counting
  /** Adjacent character pairs of one word (empty for 1-char words). */
  private def charPairs(w: Column): Column = {
    val n = length(w) - 1
    when(n >= 1, transform(sequence(lit(1), n), j => w.substr(j, lit(2))))
      .otherwise(array().cast("array<string>"))
  }

  /** First BPE vocabulary-induction iteration: count adjacent symbol
    * (character) pairs across all word occurrences and rank the merge
    * candidates — the statistic BPE greedily merges on. Scan-local
    * double explode → one count aggregate → orderBy().limit(), which
    * plans as a distributed TakeOrderedAndProject (top-k per partition,
    * merge on the driver side of the exchange — no global sort). */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .select(explode(charPairs(col("w"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(TOP_MERGES)

  val bpeMergesSql: String =
    s"""WITH t AS (SELECT ${sqlTokens("text")} AS toks FROM documents),
       |w AS (SELECT unnest(toks) AS w FROM t),
       |p AS (SELECT unnest(list_transform(generate_series(1, length(w)-1),
       |                                   j -> substr(w, j, 2))) AS pair FROM w)
       |SELECT pair, count(*) AS cnt FROM p GROUP BY 1
       |ORDER BY cnt DESC, pair LIMIT $TOP_MERGES""".stripMargin

  // ------------------------------------------------ per-source quality gate
  /** Relative quality filtering: within each source, drop the bottom
    * quartile by quality score (rank > n div 4 keeps exactly
    * n - floor(n/4) docs — a deterministic integer rule, unlike a float
    * percentile cut). Reuses TextOps' exact quality formula so the gate
    * and the absolute-score queries can never disagree on a doc's score.
    * Kept-score mean uses the micro-unit trick (floor(q*1e6 + 0.5) long
    * sum) — order-proof and engine-identical, same as corpusCuration. */
  def sourceQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
    documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextOps.qualityScoreOf(col("text")).as("score"))
      .select(col("source"), col("score"),
        row_number().over(w.orderBy(col("score").asc, col("doc_id").asc)).as("rk"),
        count(lit(1)).over(w).as("n"))
      .withColumn("keep", (col("rk") > expr("n div 4")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_kept"),
        (sum(col("keep")).cast("double") / count(lit(1))).as("kept_frac"),
        (sum(when(col("keep") === 1, floor(col("score") * 1000000.0 + 0.5)))
          .cast("double") / sum(col("keep")) / 1000000.0).as("avg_kept_score"),
        min(when(col("keep") === 1, col("score"))).as("min_kept_score"))
      .orderBy("source")
  }

  val sourceQualityGateSql: String =
    s"""WITH t AS (SELECT doc_id, source, text, ${sqlTokens("text")} AS toks,
       |                  length(text) AS nc FROM documents),
       |s AS (SELECT doc_id, source, (${TextOps.sqlQualityOf}) AS score FROM t),
       |r AS (SELECT source, score,
       |             row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rk,
       |             count(*) OVER (PARTITION BY source) AS n
       |      FROM s),
       |k AS (SELECT source, score, CASE WHEN rk > n // 4 THEN 1 ELSE 0 END AS keep FROM r)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(keep) AS BIGINT) AS n_kept,
       |       CAST(sum(keep) AS DOUBLE) / count(*) AS kept_frac,
       |       CAST(sum(CASE WHEN keep = 1 THEN floor(score * 1000000.0 + 0.5) END) AS DOUBLE)
       |         / sum(keep) / 1000000.0 AS avg_kept_score,
       |       min(CASE WHEN keep = 1 THEN score END) AS min_kept_score
       |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------- unigram log-perplexity score
  /** CCNet-style statistical quality signal without a trained LM: score
    * each doc by its average negative log-likelihood under the corpus's
    * own unigram distribution, avg_nll = (1/n)·Σ ln(N/cnt(tok)) — docs
    * full of rare tokens (gibberish, encoding damage) score high, docs
    * of common fluent tokens score low; `above_mean` flags the high
    * half against the corpus mean (a self-calibrating threshold, no
    * magic constant).
    *
    * Determinism: each ln rounds to integer micro-units (the zipfFit
    * pattern) before any sum, so partial-aggregation order can't shift
    * a bit; the corpus total and the corpus mean are 1-row aggregates
    * broadcast back (the declared agg-bounded NLJ shape).
    *
    * Scale shape: one token explode, one term-frequency aggregate, one
    * occurrence⋈frequency equi-join on token (at 100 TB the tf table is
    * vocabulary-sized — broadcast when the vocab fits, hash-join
    * otherwise; both are linear in occurrences), one per-doc aggregate.
    * No pair space anywhere. */
  def unigramLogPpl(spark: SparkSession, dir: String): DataFrame = {
    val occ = documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = occ.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = tf.agg(
      floor(log(sum(col("cnt")).cast("double")) * 1000000.0 + lit(0.5)).as("lnn"))
    val perDoc = Materializer.materialize(
      occ.join(tf, "tok")
        .select(col("doc_id"),
          floor(log(col("cnt").cast("double")) * 1000000.0 + lit(0.5)).as("lnc"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("lnc")).as("slnc"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("n_tokens"),
          ((col("n_tokens") * col("lnn") - col("slnc")).cast("double") /
            col("n_tokens") / 1000000.0).as("avg_nll")))
    val mean = perDoc.agg(
      (sum(floor(col("avg_nll") * 1000000.0 + lit(0.5))).cast("double") /
        count(lit(1)) / 1000000.0).as("mean_nll"))
    perDoc.crossJoin(broadcast(mean))
      .select(col("doc_id"), col("n_tokens"), col("avg_nll"),
        (col("avg_nll") > col("mean_nll")).cast("int").as("above_mean"))
      .orderBy("doc_id")
  }

  val unigramLogPplSql: String =
    s"""WITH occ AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS tok FROM documents),
       |tf AS (SELECT tok, count(*) AS cnt FROM occ GROUP BY 1),
       |tot AS (SELECT CAST(floor(ln(CAST(sum(cnt) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lnn
       |        FROM tf),
       |j AS (SELECT occ.doc_id,
       |             CAST(floor(ln(CAST(tf.cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lnc
       |      FROM occ JOIN tf USING (tok)),
       |d AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(lnc) AS BIGINT) AS slnc
       |      FROM j GROUP BY 1),
       |pd AS (SELECT doc_id, n_tokens,
       |              CAST(n_tokens * lnn - slnc AS DOUBLE) / n_tokens / 1000000.0 AS avg_nll
       |       FROM d, tot),
       |m AS (SELECT CAST(sum(CAST(floor(avg_nll * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |             / count(*) / 1000000.0 AS mean_nll FROM pd)
       |SELECT doc_id, n_tokens, avg_nll, CAST(avg_nll > mean_nll AS INT) AS above_mean
       |FROM pd, m ORDER BY doc_id""".stripMargin

  // ------------------------------------------- DSIR importance weights
  /** DSIR-style importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * each raw-pool document by its average unigram log-likelihood RATIO
    * between a small target distribution and the raw distribution —
    * docs that look more like the target than like the background rank
    * higher and get resampled into the training mix.
    *
    * Target here = the held-out content-hash bucket ([[Dedup.EVAL_RESIDUE]],
    * the same split q_hash_split/q_decontaminate use); raw pool = the
    * other nine buckets. Both unigram models are add-one smoothed over
    * the SHARED corpus vocabulary V, so every raw token has a defined
    * target probability:
    *   score(d) = avg_t [ ln((ct_t+1)/(T+V)) - ln((cr_t+1)/(R+V)) ].
    *
    * Determinism: each ln is micro-unit-rounded, so the per-doc sum is
    * an exact long; the constant ln(T+V)-ln(R+V) part is applied per
    * doc as n·Δmu from a broadcast 1-row stats aggregate. `selected`
    * flags score above the (micro-rounded) corpus mean — self-
    * calibrating, like q_unigram_logppl's above_mean.
    *
    * Scale shape: one exploded scan feeds one token-keyed tf aggregate
    * (both pools counted in the same pass), a 1-row stats broadcast,
    * one token equi-join back, one doc-keyed sum — linear end to end,
    * no pair space, nothing driver-side. The target pool being tiny is
    * the DSIR setting itself, not a shortcut. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val occ = documents(spark, dir)
      .select(col("doc_id"),
        (pmod(charHashFast(col("text")), lit(10)) === Dedup.EVAL_RESIDUE)
          .cast("long").as("is_target"),
        explode(tokens(col("text"))).as("tok"))
    val tf = Materializer.materialize(
      occ.groupBy(col("tok")).agg(
        sum(col("is_target")).as("ct"),
        sum(lit(1L) - col("is_target")).as("cr")))
    // 1-row smoothing constant: Δmu = ln(T+V)mu - ln(R+V)mu
    val stats = tf.agg(
      (lnMu(sum(col("ct")) + count(lit(1))) -
        lnMu(sum(col("cr")) + count(lit(1)))).as("dmu"))
    val perDoc = Materializer.materialize(
      occ.filter(col("is_target") === 0L)
        .join(tf, "tok")
        .select(col("doc_id"),
          (lnMu(col("ct") + 1) - lnMu(col("cr") + 1)).as("lrat"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("lrat")).as("slr"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("n_tokens"),
          ((col("slr") - col("n_tokens") * col("dmu")).cast("double") /
            col("n_tokens") / 1000000.0).as("avg_logratio")))
    val mean = perDoc.agg(
      (sum(floor(col("avg_logratio") * 1000000.0 + lit(0.5))).cast("double") /
        count(lit(1)) / 1000000.0).as("mean_lr"))
    perDoc.crossJoin(broadcast(mean))
      .select(col("doc_id"), col("n_tokens"), col("avg_logratio"),
        (col("avg_logratio") > col("mean_lr")).cast("int").as("selected"))
      .orderBy("doc_id")
  }

  val dsirWeightsSql: String =
    s"""WITH occ AS (SELECT doc_id,
       |  CAST(${sqlCharHash("text")} % 10 = ${Dedup.EVAL_RESIDUE} AS BIGINT) AS is_target,
       |  unnest(${sqlTokens("text")}) AS tok FROM documents),
       |tf AS (SELECT tok, CAST(sum(is_target) AS BIGINT) AS ct,
       |              CAST(sum(1 - is_target) AS BIGINT) AS cr
       |       FROM occ GROUP BY 1),
       |st AS (SELECT CAST(floor(ln(CAST(sum(ct) + count(*) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
       |             - CAST(floor(ln(CAST(sum(cr) + count(*) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
       |               AS dmu FROM tf),
       |j AS (SELECT occ.doc_id,
       |             CAST(floor(ln(CAST(tf.ct + 1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
       |             - CAST(floor(ln(CAST(tf.cr + 1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lrat
       |      FROM occ JOIN tf USING (tok) WHERE occ.is_target = 0),
       |d AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(lrat) AS BIGINT) AS slr
       |      FROM j GROUP BY 1),
       |pd AS (SELECT doc_id, n_tokens,
       |              CAST(slr - n_tokens * dmu AS DOUBLE) / n_tokens / 1000000.0 AS avg_logratio
       |       FROM d, st),
       |m AS (SELECT CAST(sum(CAST(floor(avg_logratio * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |             / count(*) / 1000000.0 AS mean_lr FROM pd)
       |SELECT doc_id, n_tokens, avg_logratio,
       |       CAST(avg_logratio > mean_lr AS INT) AS selected
       |FROM pd, m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- token entropy signal
  /** Within-document token Shannon entropy — the information-theoretic
    * repetitiveness signal next to [[q_repetition_stats]]'s count
    * ratios: template/boilerplate docs have low entropy for their
    * length, gibberish-unique docs sit at the ln(n) ceiling.
    * H = ln(n) − (1/n)·Σ c·ln(c) over the doc's token counts c;
    * norm_entropy = H / ln(n_types) ∈ [0,1] when n_types > 1.
    *
    * Determinism: all lns micro-unit-rounded; n·lnMu(n) − Σ c·lnMu(c)
    * is an exact long per doc; H and the normalization are single IEEE
    * divisions. Scale shape: one (doc, tok) count shuffle + one
    * doc-keyed rollup — linear, scan-bounded. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        // overflow-safe by construction: moments are PER-DOCUMENT, so
        // Σ c·lnMu(c) ≤ doc_len·lnMu(doc_len) ≈ 10⁷·1.7·10⁷ ≪ 2⁶³
        // regardless of corpus size (OverflowSweepSpec)
        sum(col("c") * lnMu(col("c"))).as("slc"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        ((col("n_tokens") * lnMu(col("n_tokens")) - col("slc")).cast("double") /
          col("n_tokens") / 1000000.0).as("entropy"),
        when(col("n_types") > 1,
          (col("n_tokens") * lnMu(col("n_tokens")) - col("slc")).cast("double") /
            col("n_tokens") / lnMu(col("n_types")).cast("double"))
          .otherwise(lit(0.0)).as("norm_entropy"))
      .orderBy("doc_id")
  }

  val tokenEntropySql: String = {
    s"""WITH occ AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS tok FROM documents),
       |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY 1, 2),
       |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |             CAST(count(*) AS BIGINT) AS n_types,
       |             CAST(sum(c * ${sqlLnMu("c")}) AS BIGINT) AS slc
       |      FROM dt GROUP BY 1)
       |SELECT doc_id, n_tokens, n_types,
       |       CAST(n_tokens * ${sqlLnMu("n_tokens")} - slc AS DOUBLE) / n_tokens / 1000000.0
       |         AS entropy,
       |       CASE WHEN n_types > 1 THEN
       |         CAST(n_tokens * ${sqlLnMu("n_tokens")} - slc AS DOUBLE) / n_tokens
       |           / CAST(${sqlLnMu("n_types")} AS DOUBLE)
       |       ELSE CAST(0.0 AS DOUBLE) END AS norm_entropy
       |FROM d ORDER BY 1""".stripMargin
  }

  // ----------------------------------------- cross-source calibration
  /** Per-source percentile calibration of the quality score — the fix
    * for cross-source threshold bias: an absolute cut keeps different
    * fractions of each source (sources differ systematically in raw
    * score), while the percentile rank (rk−1)/(n−1) ∈ [0,1] is
    * comparable across sources by construction. The integer rank rule
    * makes the calibrated score exactly mirrorable (no float percentile
    * cut). Window is PARTITIONED by source — source-parallel, same
    * declared class as [[sourceQualityGate]]'s rank. */
  def qualityCalibrated(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
    documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextOps.qualityScoreOf(col("text")).as("score"))
      .select(col("doc_id"), col("source"), col("score"),
        row_number().over(w.orderBy(col("score").asc, col("doc_id").asc)).as("rk"),
        count(lit(1)).over(w).as("n"))
      .select(col("doc_id"), col("source"), col("score"),
        when(col("n") > 1,
          (col("rk") - 1).cast("double") / (col("n") - 1).cast("double"))
          .otherwise(lit(0.5)).as("calibrated_pct"))
      .orderBy("doc_id")
  }

  val qualityCalibratedSql: String =
    s"""WITH t AS (SELECT doc_id, source, text, ${sqlTokens("text")} AS toks,
       |                  length(text) AS nc FROM documents),
       |s AS (SELECT doc_id, source, (${TextOps.sqlQualityOf}) AS score FROM t),
       |r AS (SELECT doc_id, source, score,
       |             row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rk,
       |             count(*) OVER (PARTITION BY source) AS n
       |      FROM s)
       |SELECT doc_id, source, score,
       |       CASE WHEN n > 1 THEN CAST(rk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
       |            ELSE CAST(0.5 AS DOUBLE) END AS calibrated_pct
       |FROM r ORDER BY doc_id""".stripMargin

  // ------------------------------------------- balanced downsampling
  /** Per-class cap for the balanced sample. */
  private val BAL_CAP = 80

  /** Class-balanced downsampling: keep at most [[BAL_CAP]] docs per
    * language, chosen by content-hash order — the rebalancing step
    * before training on a skewed corpus. Hash order (not doc_id order)
    * makes the kept set independent of ingest order and stable under
    * re-runs — the q_stratified_sample determinism argument, with an
    * exact per-class COUNT guarantee instead of a keep-rate. The rank
    * window is partitioned by language (class-parallel, the declared
    * window class). Summary output: per-language kept/total + the
    * content-hash of the kept set (so the oracle proves the exact
    * MEMBERSHIP, not just counts). */
  def balancedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("h").asc, col("doc_id").asc)
    documents(spark, dir)
      .select(col("doc_id"), col("lang"), charHashFast(col("text")).as("h"))
      .withColumn("rk", row_number().over(w))
      .withColumn("keep", (col("rk") <= BAL_CAP).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_kept"),
        sum(when(col("keep") === 1, col("doc_id"))).as("kept_id_sum"),
        sum(when(col("keep") === 1, col("h"))).as("kept_hash_sum"))
      .orderBy("lang")
  }

  val balancedSampleSql: String =
    s"""WITH h AS (SELECT doc_id, lang, ${sqlCharHash("text")} AS h FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
       |      FROM h),
       |k AS (SELECT lang, doc_id, h,
       |             CASE WHEN rk <= $BAL_CAP THEN 1 ELSE 0 END AS keep FROM r)
       |SELECT lang, count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN keep = 1 THEN doc_id END) AS BIGINT) AS kept_id_sum,
       |       CAST(sum(CASE WHEN keep = 1 THEN h END) AS BIGINT) AS kept_hash_sum
       |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------- score→dup reliability
  /** Reliability (calibration/lift) table for the quality score against
    * the exact-dup outcome: docs bucketed by fixed-width score bins
    * (floor(score·10), the reliability-diagram binning — equal-count
    * deciles would need a global rank), each bin reporting its
    * duplicated-content rate and lift vs the corpus base rate. The
    * standard "is this signal predictive enough to gate on" audit
    * before wiring a score into a filter. One scan computes score +
    * content digest; dup flag via a digest-partitioned count window
    * (the [[Dedup.exactDedup]] shape); base rate joins back as a 1-row
    * broadcast. */
  def qualityLift(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = documents(spark, dir)
      .select(col("doc_id"),
        TextOps.qualityScoreOf(col("text")).as("score"),
        md5(col("text")).as("h"))
      .withColumn("is_dup",
        (count(lit(1)).over(Window.partitionBy(col("h"))) >= 2).cast("long"))
      .withColumn("bucket",
        least(floor(col("score") * 10.0).cast("int"), lit(9)))
    val binned = perDoc.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"))
    val tot = binned.agg(sum(col("n_docs")).as("t_docs"),
      sum(col("n_dups")).as("t_dups"))
    binned.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_docs"), col("n_dups"),
        (col("n_dups").cast("double") / col("n_docs").cast("double")).as("dup_rate"),
        when(col("t_dups") > 0,
          (col("n_dups").cast("double") / col("n_docs").cast("double")) /
            (col("t_dups").cast("double") / col("t_docs").cast("double")))
          .as("lift"))
      .orderBy("bucket")
  }

  val qualityLiftSql: String =
    s"""WITH t AS (SELECT doc_id, text, ${sqlTokens("text")} AS toks,
       |                  length(text) AS nc FROM documents),
       |d AS (SELECT doc_id, (${TextOps.sqlQualityOf}) AS score,
       |             CASE WHEN count(*) OVER (PARTITION BY md5(text)) >= 2
       |                  THEN 1 ELSE 0 END AS is_dup
       |      FROM t),
       |b AS (SELECT least(CAST(floor(score * 10.0) AS INT), 9) AS bucket,
       |             CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(is_dup) AS BIGINT) AS n_dups
       |      FROM d GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
       |               CAST(sum(n_dups) AS BIGINT) AS t_dups FROM b)
       |SELECT CAST(bucket AS INT) AS bucket, n_docs, n_dups,
       |       CAST(n_dups AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
       |       CASE WHEN t_dups > 0 THEN
       |         (CAST(n_dups AS DOUBLE) / CAST(n_docs AS DOUBLE)) /
       |         (CAST(t_dups AS DOUBLE) / CAST(t_docs AS DOUBLE)) END AS lift
       |FROM b, tot ORDER BY bucket""".stripMargin

  // ------------------------------------------------ filter cascade
  /** C4/Gopher-style STAGED filter funnel with per-rule attrition — the
    * artifact a curation run reports before anyone trusts its output:
    * rules apply in a fixed order, and each stage's kill count is
    * measured over the SURVIVORS of the previous stages (a rule's raw
    * hit rate and its marginal attrition differ wildly once earlier
    * rules overlap it). Rules, in order:
    *   1 min_tokens   — ≥ 20 tokens (fragment gate)
    *   2 diversity    — distinct/total tokens ≥ 0.35 (repetition gate)
    *   3 common_words — ≥ 2 stopwords (Gopher's "has common words")
    *   4 word_length  — mean token length in [3, 6] (symbol-soup gate)
    *
    * Scale: ONE explode + per-doc aggregate computes every per-doc
    * metric (count / distinct / char-sum / stopword-sum share the
    * shuffle), the funnel itself is a 1-row conditional aggregate, and
    * the 4 output rows are integer arithmetic over that row — nothing
    * downstream of the single token shuffle grows with the corpus. */
  def filterCascade(spark: SparkSession, dir: String): DataFrame = {
    val stop = TextOps.stopWordsAll
    // explode drops zero-token docs, so the metrics re-attach to the
    // full corpus via a left join and coalesce to zero — a whitespace-
    // only document must enter the funnel and FAIL min_tokens, not
    // vanish from n_in (the funnel's contract is "every doc accounted
    // for"; CurationSpec pins it on a planted empty-text fixture).
    val tokAgg = documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nt0"),
        countDistinct(col("tok")).as("nd0"),
        sum(length(col("tok")).cast("long")).as("tokchars0"),
        sum(when(col("tok").isin(stop: _*), 1L).otherwise(0L)).as("nstop0"))
    val per = documents(spark, dir).select(col("doc_id").as("did"))
      .join(tokAgg, col("did") === col("doc_id"), "left")
      .select(coalesce(col("nt0"), lit(0L)).as("nt"),
        coalesce(col("nd0"), lit(0L)).as("nd"),
        coalesce(col("tokchars0"), lit(0L)).as("tokchars"),
        coalesce(col("nstop0"), lit(0L)).as("nstop"))
    val b1 = col("nt") >= 20L
    // nt=0 docs divide by NULL, not zero (ANSI would error): the NULL
    // ratio makes b2/b4 NULL, and every conjunction using them already
    // has b1=false first, so a zero-token doc lands in f1 exactly once
    val ntSafe = when(col("nt") > 0L, col("nt").cast("double"))
    val b2 = col("nd").cast("double") / ntSafe >= 0.35
    val b3 = col("nstop") >= 2L
    val b4 = (col("tokchars").cast("double") / ntSafe).between(3.0, 6.0)
    val a = per.agg(
      count(lit(1)).as("n"),
      sum(when(!b1, 1L).otherwise(0L)).as("f1"),
      sum(when(b1 && !b2, 1L).otherwise(0L)).as("f2"),
      sum(when(b1 && b2 && !b3, 1L).otherwise(0L)).as("f3"),
      sum(when(b1 && b2 && b3 && !b4, 1L).otherwise(0L)).as("f4"))
    val in1 = col("n")
    val in2 = in1 - col("f1")
    val in3 = in2 - col("f2")
    val in4 = in3 - col("f3")
    a.select(explode(array(
        struct(lit(1).as("stage"), lit("min_tokens").as("rule"),
          in1.as("n_in"), col("f1").as("n_fail"), in2.as("n_out")),
        struct(lit(2).as("stage"), lit("diversity").as("rule"),
          in2.as("n_in"), col("f2").as("n_fail"), in3.as("n_out")),
        struct(lit(3).as("stage"), lit("common_words").as("rule"),
          in3.as("n_in"), col("f3").as("n_fail"), in4.as("n_out")),
        struct(lit(4).as("stage"), lit("word_length").as("rule"),
          in4.as("n_in"), col("f4").as("n_fail"),
          (in4 - col("f4")).as("n_out")))).as("r"))
      .select(col("r.*"))
      .orderBy("stage")
  }

  val filterCascadeSql: String = {
    val stopList = TextOps.stopWordsAll.map("'" + _ + "'").mkString("[", ",", "]")
    s"""WITH tokagg AS (
       |  SELECT doc_id, count(*) AS nt, count(DISTINCT tok) AS nd,
       |         CAST(sum(length(tok)) AS BIGINT) AS tokchars,
       |         CAST(sum(CASE WHEN list_contains($stopList, tok) THEN 1 ELSE 0 END) AS BIGINT) AS nstop
       |  FROM (SELECT doc_id, unnest(${sqlTokens("text")}) AS tok FROM documents)
       |  GROUP BY 1),
       |per AS (
       |  SELECT coalesce(nt, 0) AS nt, coalesce(nd, 0) AS nd,
       |         coalesce(tokchars, 0) AS tokchars, coalesce(nstop, 0) AS nstop
       |  FROM documents d LEFT JOIN tokagg t ON d.doc_id = t.doc_id),
       |f AS (SELECT nt >= 20 AS b1,
       |             CAST(nd AS DOUBLE) / nullif(nt, 0) >= 0.35 AS b2,
       |             nstop >= 2 AS b3,
       |             CAST(tokchars AS DOUBLE) / nullif(nt, 0) BETWEEN 3.0 AND 6.0 AS b4
       |      FROM per),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN NOT b1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |         CAST(sum(CASE WHEN b1 AND NOT b2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       |         CAST(sum(CASE WHEN b1 AND b2 AND NOT b3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
       |         CAST(sum(CASE WHEN b1 AND b2 AND b3 AND NOT b4 THEN 1 ELSE 0 END) AS BIGINT) AS f4
       |  FROM f)
       |SELECT CAST(1 AS INT) AS stage, 'min_tokens' AS rule,
       |       n AS n_in, f1 AS n_fail, n - f1 AS n_out FROM agg
       |UNION ALL SELECT 2, 'diversity', n - f1, f2, n - f1 - f2 FROM agg
       |UNION ALL SELECT 3, 'common_words', n - f1 - f2, f3, n - f1 - f2 - f3 FROM agg
       |UNION ALL SELECT 4, 'word_length', n - f1 - f2 - f3, f4,
       |                 n - f1 - f2 - f3 - f4 FROM agg
       |ORDER BY stage""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_filter_cascade"      -> filterCascade _,
    "q_quality_lift"        -> qualityLift _,
    "q_balanced_sample"     -> balancedSample _,
    "q_quality_calibrated"  -> qualityCalibrated _,
    "q_token_entropy"       -> tokenEntropy _,
    "q_boilerplate_spans"   -> boilerplateSpans _,
    "q_bpe_merges"          -> bpeMerges _,
    "q_source_quality_gate" -> sourceQualityGate _,
    "q_unigram_logppl"      -> unigramLogPpl _,
    "q_dsir_weights"        -> dsirWeights _)

  val oracles: Map[String, String] = Map(
    "q_filter_cascade"      -> filterCascadeSql,
    "q_quality_lift"        -> qualityLiftSql,
    "q_balanced_sample"     -> balancedSampleSql,
    "q_quality_calibrated"  -> qualityCalibratedSql,
    "q_token_entropy"       -> tokenEntropySql,
    "q_boilerplate_spans"   -> boilerplateSpansSql,
    "q_bpe_merges"          -> bpeMergesSql,
    "q_source_quality_gate" -> sourceQualityGateSql,
    "q_unigram_logppl"      -> unigramLogPplSql,
    "q_dsir_weights"        -> dsirWeightsSql)
}
