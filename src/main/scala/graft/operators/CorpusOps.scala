package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materializer
import graft.Tables._
import graft.functions.TextHash._

/** Corpus-level retrieval and curation-planning operators over the
  * `documents` table: BM25 keyword retrieval (the lexical complement to
  * the ANN suite in [[Similarity]]), temperature-weighted source mixing
  * (the data-mixture computation a training run makes before sampling),
  * a Zipf-law fit over the token frequency head (tokenizer/corpus
  * audits), and content-defined chunking (the variable-size sibling of
  * [[TextOps.docChunks]]'s fixed stride — storage-dedup-style boundaries
  * that survive insertions).
  *
  * Cross-engine determinism: every double formula is written in one
  * fixed evaluation order mirrored literally in the oracle SQL, and
  * every SUM over data-dependent doubles goes through exact micro-units
  * (floor(x·1e6 + 0.5) as BIGINT — pure IEEE, identical in both
  * engines; integer sums are partition-order-proof). BM25 deliberately
  * uses the log-free odds idf (N - df + ½)/(df + ½): ln() is not
  * required to be correctly rounded by either engine, and the odds form
  * is order-equivalent per term while being bit-deterministic with
  * probability 1. The Zipf fit does use ln(), but immediately rounds to
  * micro-units, after which the whole regression is exact integer
  * arithmetic (sums of products stay < 2^59 at the capped head size).
  */
object CorpusOps {

  // ------------------------------------------------------------- BM25
  /** Plan-time query terms — a search operator's terms are always
    * plan-time constants; swapping them re-plans the same shape. */
  private val BM25_TERMS = Seq("spark", "join", "window")
  private val BM25_K1 = 1.2
  private val BM25_B = 0.75
  private val BM25_TOPK = 20

  /** BM25 top-k keyword retrieval.
    *
    * Shape (the 100 TB posture): the query terms are plan-time
    * constants, so the (doc × term) tf matrix pivots to COLUMNS — ONE
    * scan-local pass computes per-doc length and per-term tf via the
    * codegen'd stop-count expression (a 1-word set counts occurrences);
    * no explode, no (doc, term) shuffle, no second corpus pass. The
    * 1-row corpus stats (N, Σdl, per-term df) broadcast back
    * (aggregate-bounded NLJ, the declared q_above_avg_orders pattern),
    * and the top-k is a distributed TakeOrderedAndProject. Docs matching
    * no term score 0 and are not retrieved (inverted-index semantics).
    *
    * Per-term contributions are micro-unit-rounded then added in one
    * fixed-order integer chain (cm0 + cm1 + cm2) — no double SUM
    * anywhere, so the score is identical across any partitioning and in
    * the oracle. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val per = documents(spark, dir).select(
      col("doc_id") +: tokenCountFast(col("text")).as("dl") +:
        BM25_TERMS.zipWithIndex.map { case (t, i) =>
          stopCountFast(col("text"), Seq(t)).as(s"tf$i") }: _*)
    val statAggs = count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
      BM25_TERMS.indices.map(i => sum((col(s"tf$i") > 0).cast("long")).as(s"df$i"))
    val stats = per.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    def contribMicro(i: Int) = {
      val idf = (col("n_docs").cast("double") - col(s"df$i").cast("double") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
      val tfd = col(s"tf$i").cast("double")
      val c = idf * (tfd * lit(BM25_K1 + 1.0)) /
        (tfd + lit(BM25_K1) *
          (lit(1.0 - BM25_B) + lit(BM25_B) * col("dl").cast("double") / avgdl))
      when(col(s"tf$i") > 0, floor(c * 1000000.0 + lit(0.5))).otherwise(lit(0L))
    }
    per.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        BM25_TERMS.indices.map(i => (col(s"tf$i") > 0).cast("long"))
          .reduce(_ + _).as("n_terms_matched"),
        BM25_TERMS.indices.map(contribMicro).reduce(_ + _).as("sm"))
      .filter(col("n_terms_matched") > 0)
      .select(col("doc_id"), col("n_terms_matched"),
        (col("sm").cast("double") / 1000000.0).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(BM25_TOPK)
  }

  val bm25Sql: String = {
    val avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    def contribMicro(i: Int): String = {
      val idf = s"((CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))"
      val c = s"$idf * (CAST(tf$i AS DOUBLE) * ${BM25_K1 + 1.0}) / " +
        s"(CAST(tf$i AS DOUBLE) + $BM25_K1 * (${1.0 - BM25_B} + $BM25_B * CAST(dl AS DOUBLE) / $avgdl))"
      s"(CASE WHEN tf$i > 0 THEN CAST(floor(($c) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END)"
    }
    val tfCols = BM25_TERMS.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf$i" }
    val dfCols = BM25_TERMS.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
    val matched = BM25_TERMS.indices
      .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    val sm = BM25_TERMS.indices.map(contribMicro).mkString(" + ")
    s"""WITH per AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, ${tfCols.mkString(", ")}
       |             FROM (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents)),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl, ${dfCols.mkString(", ")}
       |       FROM per),
       |c AS (SELECT doc_id, CAST($matched AS BIGINT) AS n_terms_matched, $sm AS sm
       |      FROM per, st)
       |SELECT doc_id, n_terms_matched, CAST(sm AS DOUBLE) / 1000000.0 AS score
       |FROM c WHERE n_terms_matched > 0
       |ORDER BY score DESC, doc_id ASC LIMIT $BM25_TOPK""".stripMargin
  }

  // ------------------------------------------------------- source mixing
  /** α = 0.5 temperature (weight ∝ tokens^α — upsamples small sources,
    * the standard multi-source training mix) and the token budget the
    * mixture allocates. sqrt is IEEE-correctly-rounded in both engines;
    * the α = 0.5 choice keeps the weights log-free (see class doc). */
  private val MIX_BUDGET = 1000000000.0 // 1e9-token training budget
  /** Per-source sampling weights and budget allocation.
    *
    * ONE corpus scan → per-source (docs, tokens) aggregate (|sources|
    * rows, MATERIALIZED so the denominator pass re-reads the tiny
    * aggregate, not the corpus), micro-unit sqrt weights, the 1-row
    * denominator broadcast back (aggregate-bounded NLJ). epochs > 1
    * flags a source the mixture would repeat — the oversampling audit. */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    val per = graft.Materializer.materialize(
      documents(spark, dir)
        .select(col("source"), tokenCountFast(col("text")).as("nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .withColumn("m",
          floor(sqrt(col("n_tokens").cast("double")) * 1000000.0 + lit(0.5))))
    val denom = per.agg(sum(col("m")).as("denom"))
    val weight = col("m").cast("double") / col("denom").cast("double")
    per.crossJoin(broadcast(denom))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        weight.as("weight"),
        (lit(MIX_BUDGET) * weight).as("alloc_tokens"),
        (lit(MIX_BUDGET) * weight / col("n_tokens").cast("double")).as("epochs"))
      .orderBy("source")
  }

  val sourceMixSql: String = {
    val w = "(CAST(m AS DOUBLE) / CAST(denom AS DOUBLE))"
    s"""WITH per AS (SELECT source, count(*) AS n_docs,
       |                    CAST(sum(len(${sqlTokens("text")})) AS BIGINT) AS n_tokens
       |             FROM documents GROUP BY 1),
       |m AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS m
       |      FROM per),
       |d AS (SELECT CAST(sum(m) AS BIGINT) AS denom FROM m)
       |SELECT source, n_docs, n_tokens, $w AS weight,
       |       $MIX_BUDGET * $w AS alloc_tokens,
       |       $MIX_BUDGET * $w / CAST(n_tokens AS DOUBLE) AS epochs
       |FROM m, d ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------- Zipf fit
  /** Head size cap: the fit runs over the top-R frequency head. The cap
    * also BOUNDS the rank window: row_number runs over an
    * orderBy().limit(R) input — a constant-size single-task frame by
    * construction (the declared PlanGuardSpec exemption class), fed by a
    * distributed TakeOrderedAndProject. */
  private val ZIPF_TOPR = 100

  /** Least-squares fit of ln(freq) ~ ln(rank) over the frequency head —
    * the Zipf-law audit (slope ≈ -1 for natural text; the synthetic
    * corpus's near-uniform head fits much flatter, itself a useful
    * distribution-shift signal). ln values are micro-unit-rounded first;
    * all regression moments are then exact integer sums/products,
    * accumulated in DECIMAL(38,0) (oracle: HUGEINT) — at R=100 the
    * ·1e6-scaled ln moments keep n·Σxy within ~5× of 2⁶³ for a
    * 10¹⁸-token corpus, too thin a margin to ship on int64 (the
    * r10 q_revenue_trend overflow class) — so the slope/intercept
    * doubles are bit-identical cross-engine at any corpus size. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val head = documents(spark, dir)
      .select(explode(split(trim(col("text")), WS_CLASS)).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc)
      .limit(ZIPF_TOPR)
    val ranked = head.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("tok").asc)))
    zipfFromLogMoments(ranked.select(
      floor(log(col("rank").cast("double")) * 1000000.0 + lit(0.5)).as("xm"),
      floor(log(col("freq").cast("double")) * 1000000.0 + lit(0.5)).as("ym")))
  }

  /** Least-squares fit over a prebuilt (xm, ym) micro-ln relation —
    * split out so the overflow sweep can drive it with worst-case
    * 10¹⁸-corpus-scale moments. */
  private[graft] def zipfFromLogMoments(lm: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val moments = lm
      .agg(count(lit(1)).as("n_terms"),
        sum(col("xm").cast(dec38)).as("sx"), sum(col("ym").cast(dec38)).as("sy"),
        sum(col("xm").cast(dec38) * col("ym").cast(dec38)).as("sxy"),
        sum(col("xm").cast(dec38) * col("xm").cast(dec38)).as("sxx"))
    val slope =
      (col("n_terms").cast(dec38) * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n_terms").cast(dec38) * col("sxx") - col("sx") * col("sx")).cast("double")
    moments.select(col("n_terms"), slope.as("slope"),
      ((col("sy").cast("double") - slope * col("sx").cast("double")) /
        col("n_terms").cast("double") / 1000000.0).as("intercept"))
  }

  val zipfFitSql: String = {
    val slope = "(CAST(CAST(n_terms AS HUGEINT) * sxy - sx * sy AS DOUBLE)" +
      " / CAST(CAST(n_terms AS HUGEINT) * sxx - sx * sx AS DOUBLE))"
    s"""WITH head AS (
       |  SELECT tok, count(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(text), '$WS_CLASS')) AS tok FROM documents)
       |  WHERE length(tok) > 0
       |  GROUP BY 1 ORDER BY freq DESC, tok ASC LIMIT $ZIPF_TOPR),
       |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank FROM head),
       |lm AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS xm,
       |              CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS ym
       |       FROM r),
       |mo AS (SELECT count(*) AS n_terms, CAST(sum(CAST(xm AS HUGEINT)) AS HUGEINT) AS sx,
       |              CAST(sum(CAST(ym AS HUGEINT)) AS HUGEINT) AS sy,
       |              CAST(sum(CAST(xm AS HUGEINT) * ym) AS HUGEINT) AS sxy,
       |              CAST(sum(CAST(xm AS HUGEINT) * xm) AS HUGEINT) AS sxx
       |       FROM lm)
       |SELECT n_terms, $slope AS slope,
       |       (CAST(sy AS DOUBLE) - $slope * CAST(sx AS DOUBLE)) / CAST(n_terms AS DOUBLE)
       |         / 1000000.0 AS intercept
       |FROM mo""".stripMargin
  }

  // -------------------------------------- content-defined chunking dedup
  /** Boundary rule: a token whose polynomial hash ≡ CDC_R (mod CDC_M)
    * ENDS a chunk → expected chunk length CDC_M tokens. Unlike fixed
    * strides, boundaries are content-anchored: inserting a token shifts
    * only its own chunk, so shared runs between near-dup docs still
    * produce identical chunks — the storage-dedup property. */
  private val CDC_M = 16
  private val CDC_R = 3

  /** Duplicated content-defined chunks across the corpus.
    *
    * Shape: scan-local token hashing, one doc-keyed window (running
    * boundary count → chunk_id), a (doc, chunk) ordered fold into the
    * chunk's polynomial content hash (the fold is array-land but bounded
    * by chunk length ≈ CDC_M, never document length), then a chunk-hash
    * aggregate keeping hashes seen more than once. Two doc-keyed
    * exchanges + one chunk-hash exchange, all linear — the shape that
    * finds shared passages at 100 TB without any pairwise comparison. */
  /** Per-document CDC chunk signatures for any (doc_id, text) relation:
    * (doc_id, n = chunk token count, chunk_hash). Exposed so the spec
    * can prove the defining CDC property (boundaries survive prefix
    * insertion) on synthetic docs. */
  private[graft] def chunkSignatures(docs: DataFrame, nPart: Int): DataFrame = {
    val ex = docs
      .repartition(nPart, col("doc_id"))
      .select(col("doc_id"), posexplode(tokenHashesFast(col("text"))).as(Seq("pos", "h")))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ex
      .withColumn("chunk_id",
        coalesce(sum((col("h") % CDC_M === CDC_R).cast("long")).over(wPrev), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("h")))).as("ph"),
        count(lit(1)).as("n"))
      .select(col("doc_id"), col("n"),
        aggregate(col("ph"), lit(0L),
          (a, s) => (a * 31 + s.getField("h")) % P).as("chunk_hash"))
  }

  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    chunkSignatures(documents(spark, dir), n).groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        min(col("n")).as("chunk_len"))
      .filter(col("n_occ") > 1)
      .orderBy("chunk_hash")
  }

  val cdcChunksSql: String =
    s"""WITH t AS (SELECT doc_id, ${sqlTokenHashes(sqlTokens("text"))} AS th FROM documents),
       |e AS (SELECT doc_id, unnest(th) AS h, generate_subscripts(th, 1) AS pos FROM t),
       |ch AS (SELECT doc_id, pos, h,
       |        coalesce(sum(CASE WHEN h % $CDC_M = $CDC_R THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |       FROM e),
       |ck AS (SELECT doc_id, count(*) AS n,
       |              list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY pos)),
       |                          (a, x) -> (a*31 + x) % $P) AS chunk_hash
       |       FROM ch GROUP BY doc_id, chunk_id)
       |SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_occ,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       min(doc_id) AS first_doc, CAST(min(n) AS BIGINT) AS chunk_len
       |FROM ck GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ per-source QA report
  /** Gate threshold for the pass-rate column (same operating point as
    * TextOps' curation gate). */
  private val REPORT_GATE = 0.5

  /** Per-source data-quality report — the ingestion dashboard every
    * multi-source pipeline publishes: doc/token volumes, corpus-wide
    * exact-duplicate fraction, mean quality (exact micro-units) and
    * quality-gate pass rate, per source.
    *
    * Shape: ONE corpus scan computing all per-doc features scan-locally
    * (content md5, token count, the shared [[TextOps.qualityScoreOf]]
    * formula), one corpus-wide content-hash window (the same exchange
    * bound as q_exact_dedup — duplicates are counted across sources, so
    * a mirror site shows up in BOTH sources' dup_frac), then a
    * |sources|-row rollup. */
  def sourceReport(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir).select(
      col("source"),
      md5(col("text")).as("content_hash"),
      tokenCountFast(col("text")).as("nt"),
      graft.operators.TextOps.qualityScoreOf(col("text")).as("q"))
    base
      .withColumn("n_copies",
        count(lit(1)).over(Window.partitionBy(col("content_hash"))))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        (sum((col("n_copies") > 1).cast("long")).cast("double") /
          count(lit(1))).as("dup_frac"),
        (sum(floor(col("q") * 1000000.0 + lit(0.5))).cast("double") /
          count(lit(1)) / 1000000.0).as("avg_quality"),
        (sum((col("q") >= REPORT_GATE).cast("long")).cast("double") /
          count(lit(1))).as("gate_pass_frac"))
      .orderBy("source")
  }

  val sourceReportSql: String =
    s"""WITH b AS (SELECT source, md5(text) AS content_hash, text,
       |                  ${sqlTokens("text")} AS toks, length(text) AS nc
       |           FROM documents),
       |f AS (SELECT source, content_hash, CAST(len(toks) AS BIGINT) AS nt,
       |             (${graft.operators.TextOps.sqlQualityOf}) AS q
       |      FROM b),
       |d AS (SELECT *, count(*) OVER (PARTITION BY content_hash) AS n_copies FROM f)
       |SELECT source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac,
       |       CAST(sum(CAST(floor(q * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |         / count(*) / 1000000.0 AS avg_quality,
       |       CAST(sum(CASE WHEN q >= CAST($REPORT_GATE AS DOUBLE) THEN 1 ELSE 0 END) AS DOUBLE)
       |         / count(*) AS gate_pass_frac
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------- sequence packing
  /** Packing parameters: training sequence length (tokens) and the
    * number of independent packing groups — at scale each group is one
    * writer task's shard, so packing never needs a global order. */
  private val SEQ_BUDGET = 256
  private val PACK_GROUPS = 32

  /** Sequence-packing audit — the GPT-style concat-and-slice sharding
    * step: documents are deterministically bucketed into PACK_GROUPS
    * independent shards (content hash — stable under re-runs), each
    * shard concatenates its docs in a fixed order (tokens desc, doc_id)
    * and slices the stream into SEQ_BUDGET-token sequences. Reported
    * per shard: volume, sequence count, and how many documents straddle
    * a sequence boundary (the fragmentation a packing run trades
    * against padding waste).
    *
    * Scale shape: scan-local features, one window per SHARD (the
    * partition key is the group — never a global order), integer-only
    * arithmetic end to end (the only doubles are two final ratio
    * divisions), so the audit is bit-deterministic cross-engine and the
    * shape survives any corpus size by raising PACK_GROUPS. */
  def seqPacking(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("nt").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(spark, dir)
      .select(col("doc_id"),
        pmod(charHashFast(col("text")), lit(PACK_GROUPS.toLong)).as("grp"),
        tokenCountFast(col("text")).as("nt"))
      .withColumn("cum", sum(col("nt")).over(w))
      .withColumn("start", col("cum") - col("nt"))
      .withColumn("split",
        (col("nt") > 0 &&
          expr(s"start div $SEQ_BUDGET") =!= expr(s"(cum - 1) div $SEQ_BUDGET"))
          .cast("long"))
      .groupBy(col("grp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        max(expr(s"(cum + ${SEQ_BUDGET - 1}) div $SEQ_BUDGET")).as("n_seqs"),
        sum(col("split")).as("n_split_docs"))
      .select(col("grp"), col("n_docs"), col("total_tokens"), col("n_seqs"),
        col("n_split_docs"),
        (col("n_split_docs").cast("double") / col("n_docs")).as("split_frac"),
        (col("total_tokens").cast("double") /
          (col("n_seqs") * SEQ_BUDGET).cast("double")).as("fill_frac"))
      .orderBy("grp")
  }

  val seqPackingSql: String =
    s"""WITH d AS (SELECT doc_id, ${sqlCharHash("text")} % $PACK_GROUPS AS grp,
       |                  CAST(len(${sqlTokens("text")}) AS BIGINT) AS nt
       |           FROM documents),
       |c AS (SELECT grp, nt,
       |             sum(nt) OVER (PARTITION BY grp ORDER BY nt DESC, doc_id ASC
       |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM d),
       |s AS (SELECT grp, nt, cum, cum - nt AS start,
       |             CASE WHEN nt > 0 AND (cum - nt) // $SEQ_BUDGET != (cum - 1) // $SEQ_BUDGET
       |                  THEN 1 ELSE 0 END AS split
       |      FROM c)
       |SELECT grp, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens,
       |       CAST(max((cum + ${SEQ_BUDGET - 1}) // $SEQ_BUDGET) AS BIGINT) AS n_seqs,
       |       CAST(sum(split) AS BIGINT) AS n_split_docs,
       |       CAST(sum(split) AS DOUBLE) / count(*) AS split_frac,
       |       CAST(sum(nt) AS DOUBLE) / CAST(max((cum + ${SEQ_BUDGET - 1}) // $SEQ_BUDGET) * $SEQ_BUDGET AS DOUBLE) AS fill_frac
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------- PMI collocations
  /** Minimum bigram support for a PMI estimate worth reporting. */
  private val PMI_MIN_SUP = 5
  private val PMI_TOPK = 20

  /** Top adjacent-token collocations by pointwise mutual information —
    * PMI(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with p(x,y) from the adjacent
    * bigram distribution and p(x) from the unigram distribution. The
    * collocation statistic behind phrase mining / word2vec-style phrase
    * joining; low-support pairs are cut at [[PMI_MIN_SUP]] (PMI's known
    * bias toward rare pairs).
    *
    * Determinism: each ln is micro-unit-rounded, after which
    * pmi_mu = lnMu(cxy) − lnMu(B) − lnMu(cx) − lnMu(cy) + 2·lnMu(N)
    * is exact integer arithmetic; ranking orders by the long.
    *
    * Scale shape: bigram extraction is scan-local (a bounded per-doc
    * transform, no self-join on position); then ONE (x,y) count shuffle,
    * ONE unigram count shuffle, two token equi-joins to annotate pair
    * ends (linear, vocab-keyed), a 1-row totals broadcast, and a
    * distributed TakeOrderedAndProject for the top-K. No pair space
    * beyond the corpus's own adjacent bigrams. */
  /** Scan-local (doc_id, x, y) adjacent-pair extraction. NOT
    * materialized here: [[pmiBigrams]] consumes it exactly once (into
    * the materialized cxy counts), so a write would be pure overhead;
    * [[bigramSurprise]], which references the pairs twice, materializes
    * this. */
  private def bigramPairsRaw(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("x"),
            element_at(col("toks"), i + 1).as("y")))).as("p"))
      .select(col("doc_id"), col("p.x").as("x"), col("p.y").as("y"))

  private def bigramPairs(spark: SparkSession, dir: String): DataFrame =
    Materializer.materialize(bigramPairsRaw(spark, dir))

  def pmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    val pairs = bigramPairsRaw(spark, dir).select(col("x"), col("y"))
    // both count relations are multiply referenced (cx: two annotation
    // joins + the totals agg; cxy: totals + main) — materialize so the
    // corpus scan/shuffle runs once per relation, not once per reference
    val cxy = Materializer.materialize(
      pairs.groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy")))
    val cx = Materializer.materialize(
      documents(spark, dir)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val tot = cx.agg(sum(col("c")).as("nuni"))
      .crossJoin(cxy.agg(sum(col("cxy")).as("nbi")))
    cxy.filter(col("cxy") >= PMI_MIN_SUP)
      .join(cx.select(col("tok"), col("c").as("cx")), col("x") === col("tok")).drop("tok")
      .join(cx.select(col("tok"), col("c").as("cy")), col("y") === col("tok")).drop("tok")
      .crossJoin(broadcast(tot))
      .withColumn("pmi_mu",
        lnMu(col("cxy")) - lnMu(col("nbi")) - lnMu(col("cx")) - lnMu(col("cy")) +
          lit(2L) * lnMu(col("nuni")))
      .orderBy(col("pmi_mu").desc, col("x").asc, col("y").asc)
      .limit(PMI_TOPK)
      .select(col("x"), col("y"), col("cxy"),
        (col("pmi_mu").cast("double") / 1000000.0).as("pmi"))
  }

  val pmiBigramsSql: String = {
    s"""WITH t AS (SELECT ${sqlTokens("text")} AS toks FROM documents),
       |b AS (SELECT unnest(generate_series(1, len(toks) - 1)) AS i, toks
       |      FROM t WHERE len(toks) >= 2),
       |pairs AS (SELECT toks[i] AS x, toks[i + 1] AS y FROM b),
       |cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cxy FROM pairs GROUP BY 1, 2),
       |cx AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
       |         SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
       |tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM cx) AS nuni,
       |               (SELECT CAST(sum(cxy) AS BIGINT) FROM cxy) AS nbi),
       |s AS (SELECT cxy.x, cxy.y, cxy.cxy,
       |             ${sqlLnMu("cxy.cxy")} - ${sqlLnMu("tot.nbi")} - ${sqlLnMu("a.c")} - ${sqlLnMu("b2.c")}
       |             + 2 * ${sqlLnMu("tot.nuni")} AS pmi_mu
       |      FROM cxy JOIN cx a ON cxy.x = a.tok JOIN cx b2 ON cxy.y = b2.tok, tot
       |      WHERE cxy.cxy >= $PMI_MIN_SUP)
       |SELECT x, y, cxy, CAST(pmi_mu AS DOUBLE) / 1000000.0 AS pmi
       |FROM s ORDER BY pmi_mu DESC, x ASC, y ASC LIMIT $PMI_TOPK""".stripMargin
  }

  // --------------------------------------------- vocabulary coverage
  /** Head vocabulary size for the coverage audit. */
  private val VOCAB_V = 1000

  /** Tokenizer-budget audit: what fraction of token OCCURRENCES (and of
    * distinct types) does a top-[[VOCAB_V]] frequency vocabulary cover,
    * per language — the out-of-vocabulary rate that decides whether a
    * vocab size is viable for a corpus slice. Reported per language so
    * under-covered slices stand out.
    *
    * Shape: one corpus tf aggregate; the head is orderBy().limit()
    * (distributed TakeOrderedAndProject), broadcast back as a
    * membership probe on the (lang, tok) counts — one further narrow
    * aggregate per language. Linear; the vocab side is constant-size
    * by construction. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val occ = documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
    val byLangTok = occ.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val head = byLangTok.groupBy(col("tok")).agg(sum(col("c")).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc).limit(VOCAB_V)
      .select(col("tok").as("vtok"))
    byLangTok.join(broadcast(head), col("tok") === col("vtok"), "left")
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_occurrences"),
        count(lit(1)).as("n_types"),
        sum(when(col("vtok").isNotNull, col("c")).otherwise(lit(0L))).as("cov_occ"),
        sum(when(col("vtok").isNotNull, 1L).otherwise(0L)).as("cov_types"))
      .select(col("lang"), col("n_occurrences"), col("n_types"),
        (col("cov_occ").cast("double") / col("n_occurrences").cast("double"))
          .as("occurrence_coverage"),
        (col("cov_types").cast("double") / col("n_types").cast("double"))
          .as("type_coverage"))
      .orderBy("lang")
  }

  val vocabCoverageSql: String =
    s"""WITH occ AS (SELECT lang, unnest(${sqlTokens("text")}) AS tok FROM documents),
       |lt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY 1, 2),
       |head AS (SELECT tok AS vtok FROM (
       |  SELECT tok, CAST(sum(c) AS BIGINT) AS freq FROM lt GROUP BY 1
       |  ORDER BY freq DESC, tok ASC LIMIT $VOCAB_V)),
       |j AS (SELECT lt.lang, lt.c, head.vtok FROM lt
       |      LEFT JOIN head ON lt.tok = head.vtok)
       |SELECT lang, CAST(sum(c) AS BIGINT) AS n_occurrences,
       |       CAST(count(*) AS BIGINT) AS n_types,
       |       CAST(sum(CASE WHEN vtok IS NOT NULL THEN c ELSE 0 END) AS DOUBLE)
       |         / CAST(sum(c) AS DOUBLE) AS occurrence_coverage,
       |       CAST(sum(CASE WHEN vtok IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS type_coverage
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------ bigram surprise scoring
  /** Per-document bigram cross-entropy ("surprise") under the corpus's
    * own bigram model: avg over adjacent pairs of ln(c(w1)/c(w1,w2)) —
    * the sequential-predictability sibling of q_unigram_logppl (which
    * ignores order). Template docs repeat frequent transitions and
    * score low; shuffled/gibberish word salad scores high. No smoothing
    * is needed: every scored pair exists in the corpus counts by
    * construction.
    *
    * Reuses the PMI materialized count relations (the same subtrees,
    * so the same Materializer copies). One scan-local pair
    * explode + two vocab-keyed equi-joins + one doc rollup; micro-unit
    * lns make the per-doc sum an exact long. */
  def bigramSurprise(spark: SparkSession, dir: String): DataFrame = {
    val pairs = bigramPairs(spark, dir)
    val cxy = Materializer.materialize(
      pairs.groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy")))
    val cx = Materializer.materialize(
      documents(spark, dir)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val perDoc = Materializer.materialize(
      pairs
        .join(cxy, Seq("x", "y"))
        .join(cx.select(col("tok"), col("c").as("cxc")), col("x") === col("tok"))
        .select(col("doc_id"), (lnMu(col("cxc")) - lnMu(col("cxy"))).as("sur"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("sur")).as("ssur"))
        .select(col("doc_id"), col("n_pairs"),
          (col("ssur").cast("double") / col("n_pairs") / 1000000.0).as("avg_surprise")))
    val mean = perDoc.agg(
      (sum(floor(col("avg_surprise") * 1000000.0 + lit(0.5))).cast("double") /
        count(lit(1)) / 1000000.0).as("mean_sur"))
    perDoc.crossJoin(broadcast(mean))
      .select(col("doc_id"), col("n_pairs"), col("avg_surprise"),
        (col("avg_surprise") > col("mean_sur")).cast("int").as("above_mean"))
      .orderBy("doc_id")
  }

  val bigramSurpriseSql: String = {
    s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |b AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
       |      FROM t WHERE len(toks) >= 2),
       |pairs AS (SELECT doc_id, toks[i] AS x, toks[i + 1] AS y FROM b),
       |cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cxy FROM pairs GROUP BY 1, 2),
       |cx AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
       |         SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
       |j AS (SELECT pairs.doc_id, ${sqlLnMu("cx.c")} - ${sqlLnMu("cxy.cxy")} AS sur
       |      FROM pairs JOIN cxy USING (x, y) JOIN cx ON pairs.x = cx.tok),
       |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       |             CAST(sum(sur) AS BIGINT) AS ssur FROM j GROUP BY 1),
       |pd AS (SELECT doc_id, n_pairs,
       |              CAST(ssur AS DOUBLE) / n_pairs / 1000000.0 AS avg_surprise FROM d),
       |m AS (SELECT CAST(sum(CAST(floor(avg_surprise * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |             / count(*) / 1000000.0 AS mean_sur FROM pd)
       |SELECT doc_id, n_pairs, avg_surprise,
       |       CAST(avg_surprise > mean_sur AS INT) AS above_mean
       |FROM pd, m ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------ TF-IDF salient terms
  /** Salient terms kept per document. */
  private val TFIDF_TOPK = 3

  /** Top-K TF-IDF terms per document — the keyword-extraction primitive
    * (doc tags, index keys, topic seeds). score = tf · ln(N/df), all in
    * exact integers: tf is a count, ln(N) and ln(df) are micro-unit
    * longs, so the per-term score is an exact long and the per-doc
    * ranking has no float ties. The rank window is PARTITIONED by
    * doc_id (doc-parallel; ≤ |doc vocab| rows per partition).
    *
    * Shape: one (doc, tok) tf shuffle, one df aggregate from it, one
    * vocab-keyed join back, a 1-row ln(N) broadcast, the partitioned
    * rank — linear end to end. */
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val tf = Materializer.materialize(
      documents(spark, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c")))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = documents(spark, dir).agg(lnMu(count(lit(1))).as("lnN"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_mu").desc, col("tok").asc)
    tf.join(df, "tok")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"),
        (col("c") * (col("lnN") - lnMu(col("df")))).as("score_mu"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TFIDF_TOPK)
      .select(col("doc_id"), col("rk"), col("tok"),
        (col("score_mu").cast("double") / 1000000.0).as("tfidf"))
      .orderBy("doc_id", "rk")
  }

  val tfidfTermsSql: String = {
    s"""WITH tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM (
       |  SELECT doc_id, unnest(${sqlTokens("text")}) AS tok FROM documents)
       |  GROUP BY 1, 2),
       |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |n AS (SELECT ${sqlLnMu("count(*)")} AS lnN FROM documents),
       |s AS (SELECT doc_id, tok, c * (lnN - ${sqlLnMu("df")}) AS score_mu
       |      FROM tf JOIN df USING (tok), n),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
       |        ORDER BY score_mu DESC, tok ASC) AS INT) AS rk FROM s)
       |SELECT doc_id, rk, tok, CAST(score_mu AS DOUBLE) / 1000000.0 AS tfidf
       |FROM r WHERE rk <= $TFIDF_TOPK ORDER BY doc_id, rk""".stripMargin
  }

  // ------------------------------------------------- length histogram
  /** Histogram bucket width, chars. */
  private val HIST_W = 100

  /** Fixed-width document-length histogram per source — the profiling
    * primitive behind every length-filter decision (C4 drops short
    * docs; the cutoff comes from exactly this view). Scan-local integer
    * bucketing (n_chars div width), one (source, bucket) count shuffle;
    * share is an integer-count ratio via a per-source total join. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val b = documents(spark, dir)
      .groupBy(col("source"), expr(s"n_chars DIV $HIST_W").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = b.groupBy(col("source")).agg(sum(col("n_docs")).as("tot"))
    b.join(broadcast(tot), "source")
      .select(col("source"), col("bucket"),
        (col("bucket") * HIST_W).as("lo_chars"),
        col("n_docs"),
        (col("n_docs").cast("double") / col("tot").cast("double")).as("share"))
      .orderBy("source", "bucket")
  }

  val lengthHistogramSql: String =
    s"""WITH b AS (SELECT source, n_chars // $HIST_W AS bucket,
       |                  CAST(count(*) AS BIGINT) AS n_docs
       |           FROM documents GROUP BY 1, 2),
       |t AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS tot FROM b GROUP BY 1)
       |SELECT b.source, bucket, bucket * $HIST_W AS lo_chars, n_docs,
       |       CAST(n_docs AS DOUBLE) / CAST(tot AS DOUBLE) AS share
       |FROM b JOIN t ON b.source = t.source
       |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------- schema profiling
  /** Column-completeness profile of the events feed — the null/empty
    * audit a pipeline runs on every new ingest before trusting it; one
    * scan, one 1-row aggregate, emitted as a per-column relation via a
    * literal struct-array explode (single pass, no union re-scans). */
  def profileEvents(spark: SparkSession, dir: String): DataFrame = {
    val agg = events(spark, dir).agg(
      count(lit(1)).as("n"),
      sum(col("user_id").isNull.cast("long")).as("nu"),
      sum((col("event_type").isNull || col("event_type") === "").cast("long")).as("ne"),
      sum(col("value").isNull.cast("long")).as("nv"),
      sum((col("props").isNull || col("props") === "").cast("long")).as("np"),
      sum(col("ts").isNull.cast("long")).as("nt"))
    def row(name: String, bad: Column) =
      struct(lit(name).as("column_name"), col("n").as("n_rows"),
        bad.as("n_missing"),
        (lit(1.0) - bad.cast("double") / col("n")).as("completeness"))
    agg.select(explode(array(
        row("event_type", col("ne")), row("props", col("np")),
        row("ts", col("nt")), row("user_id", col("nu")),
        row("value", col("nv")))).as("r"))
      .select(col("r.column_name").as("column_name"), col("r.n_rows").as("n_rows"),
        col("r.n_missing").as("n_missing"), col("r.completeness").as("completeness"))
      .orderBy("column_name")
  }

  val profileEventsSql: String =
    s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu,
       |  CAST(sum(CASE WHEN event_type IS NULL OR event_type = '' THEN 1 ELSE 0 END) AS BIGINT) AS ne,
       |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nv,
       |  CAST(sum(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |  CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nt
       |  FROM events)
       |SELECT u.column_name, a.n AS n_rows, u.m AS n_missing,
       |       CAST(1.0 AS DOUBLE) - CAST(u.m AS DOUBLE) / a.n AS completeness
       |FROM a, LATERAL (VALUES ('event_type', ne), ('props', np), ('ts', nt),
       |                        ('user_id', nu), ('value', nv)) AS u(column_name, m)
       |ORDER BY 1""".stripMargin

  // ------------------------------------- Jensen–Shannon domain-mix audit
  /** Per-source Jensen–Shannon divergence between the source's unigram
    * distribution and the corpus-wide distribution — the domain-mix
    * distance behind every "is this source worth its sampling weight"
    * curation call (bounded [0, ln 2], symmetric, defined for disjoint
    * vocabularies, unlike raw KL).
    *
    * Scale shape: the (source, token) counts are ONE shuffle; corpus
    * counts and per-source totals roll up FROM that relation (no second
    * corpus scan). The q-side sum over tokens ABSENT from the source —
    * the full-vocab blowup — is folded analytically: p=0 ⇒ m=q/2 ⇒ the
    * whole absent tail contributes (1 − Σ_present q)·ln 2, one number
    * from counts already in hand. So the join space is only tokens
    * PRESENT per source.
    *
    * Determinism: with integer counts, every log argument is an
    * integer — ln(p/m) = lnMu(2·c·n) − lnMu(c·n + ct·ns) — so both
    * engines take ln of identical ints, round to micro-units, multiply
    * by one fixed-chain double share, round again, and the per-source
    * sum is exact longs. The log-argument products c·n / ct·ns run in
    * DECIMAL(38,0) (oracle: HUGEINT): at a 10¹³-token corpus a hot
    * token's c·n nears 10²⁵ ≫ 2⁶³, which BIGINT would wrap (pinned by
    * OverflowSweepSpec driving [[jsdFromCounts]] at those counts). */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame =
    jsdFromCounts(documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c")))

  /** JSD over a prebuilt (source, tok, c) count relation — split out so
    * the overflow sweep can drive it with corpus-scale counts no test
    * fixture could reach by rows. */
  private[graft] def jsdFromCounts(sc: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ctab = sc.groupBy(col("tok")).agg(sum(col("c")).as("ct"))
    val nsrc = sc.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val ntot = sc.agg(sum(col("c")).as("n"))
    val cn = col("c").cast(dec38) * col("n").cast(dec38)
    val ctns = col("ct").cast(dec38) * col("ns").cast(dec38)
    val pm = cn + ctns
    val pMu = floor((col("c").cast("double") / col("ns").cast("double")) *
      (lnMu(cn * lit(2)) - lnMu(pm)).cast("double") + lit(0.5)).cast("long")
    val qMu = floor((col("ct").cast("double") / col("n").cast("double")) *
      (lnMu(ctns * lit(2)) - lnMu(pm)).cast("double") + lit(0.5)).cast("long")
    val LN2_MU = 693147L // floor(ln(2)·1e6 + 0.5), identical in both engines
    sc.join(ctab, "tok").join(broadcast(nsrc), "source").crossJoin(broadcast(ntot))
      .select(col("source"), col("ns"), col("n"), col("ct"), pMu.as("p_mu"), qMu.as("q_mu"))
      .groupBy(col("source"))
      .agg(min(col("ns")).as("n_tokens"),
        (sum(col("p_mu")) + sum(col("q_mu")) +
          floor((min(col("n")) - sum(col("ct"))).cast("double") /
            min(col("n")).cast("double") * lit(LN2_MU.toDouble) + lit(0.5)).cast("long"))
          .as("jsd2_mu"))
      .select(col("source"), col("n_tokens"),
        (col("jsd2_mu").cast("double") / 2.0 / 1000000.0).as("jsd_nats"),
        (col("jsd2_mu").cast("double") / 2.0 / LN2_MU.toDouble).as("jsd_norm"))
      .orderBy("source")
  }

  val jsDivergenceSql: String = {
    s"""WITH sc AS (
       |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest(${sqlTokens("text")}) AS tok FROM documents)
       |  GROUP BY 1, 2),
       |ctab AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM sc GROUP BY 1),
       |nsrc AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sc GROUP BY 1),
       |ntot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM sc),
       |terms AS (
       |  SELECT source, ns, n, ct,
       |    CAST(floor((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
       |      * CAST(${sqlLnMu("CAST(c AS HUGEINT) * n * 2")} - ${sqlLnMu("CAST(c AS HUGEINT) * n + CAST(ct AS HUGEINT) * ns")} AS DOUBLE)
       |      + 0.5) AS BIGINT) AS p_mu,
       |    CAST(floor((CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
       |      * CAST(${sqlLnMu("CAST(ct AS HUGEINT) * ns * 2")} - ${sqlLnMu("CAST(c AS HUGEINT) * n + CAST(ct AS HUGEINT) * ns")} AS DOUBLE)
       |      + 0.5) AS BIGINT) AS q_mu
       |  FROM sc JOIN ctab USING (tok) JOIN nsrc USING (source), ntot),
       |per AS (
       |  SELECT source, min(ns) AS n_tokens,
       |         CAST(sum(p_mu) + sum(q_mu)
       |           + CAST(floor(CAST(min(n) - sum(ct) AS DOUBLE)
       |                        / CAST(min(n) AS DOUBLE) * 693147.0 + 0.5) AS BIGINT)
       |           AS BIGINT) AS jsd2_mu
       |  FROM terms GROUP BY 1)
       |SELECT source, n_tokens,
       |       CAST(jsd2_mu AS DOUBLE) / 2.0 / 1000000.0 AS jsd_nats,
       |       CAST(jsd2_mu AS DOUBLE) / 2.0 / 693147.0 AS jsd_norm
       |FROM per ORDER BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_js_divergence" -> jsDivergence _,
    "q_length_histogram" -> lengthHistogram _,
    "q_profile_events"  -> profileEvents _,
    "q_tfidf_terms"     -> tfidfTerms _,
    "q_bigram_surprise" -> bigramSurprise _,
    "q_vocab_coverage" -> vocabCoverage _,
    "q_pmi_bigrams"   -> pmiBigrams _,
    "q_seq_packing"   -> seqPacking _,
    "q_bm25"          -> bm25 _,
    "q_source_mix"    -> sourceMix _,
    "q_zipf_fit"      -> zipfFit _,
    "q_cdc_chunks"    -> cdcChunks _,
    "q_source_report" -> sourceReport _)

  val oracles: Map[String, String] = Map(
    "q_js_divergence"   -> jsDivergenceSql,
    "q_length_histogram" -> lengthHistogramSql,
    "q_profile_events"  -> profileEventsSql,
    "q_tfidf_terms"     -> tfidfTermsSql,
    "q_bigram_surprise" -> bigramSurpriseSql,
    "q_vocab_coverage" -> vocabCoverageSql,
    "q_pmi_bigrams"   -> pmiBigramsSql,
    "q_seq_packing"   -> seqPackingSql,
    "q_bm25"          -> bm25Sql,
    "q_source_mix"    -> sourceMixSql,
    "q_zipf_fit"      -> zipfFitSql,
    "q_cdc_chunks"    -> cdcChunksSql,
    "q_source_report" -> sourceReportSql)
}
