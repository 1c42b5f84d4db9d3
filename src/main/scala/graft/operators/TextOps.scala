package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materializer
import graft.Tables._
import graft.functions.TextHash._

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table: token statistics, stopword-list language ID,
  * quality scoring, and content fingerprinting.
  *
  * These go beyond the reference (which has no string processing at all —
  * SURVEY.md §2.9) and follow the north-star extension plan (§7.2 step 5).
  *
  * Scale notes: every query is a narrow scan-local projection followed by
  * at most a sort — no joins, no multi-pass shuffles. Token/char work is
  * per-row and embarrassingly parallel; at 100 TB this is bounded purely
  * by scan throughput. Hashes are engine-neutral formulas (TextHash) so
  * the DuckDB oracle verifies values, not just shapes.
  */
object TextOps {

  /** Language stopword lists; rank (distinct, 1..5) breaks score ties
    * alphabetically-first-wins. Combined key = score*8 + rank keeps
    * argmax a single integer `greatest`, identical in both engines. */
  private val langs: Seq[(String, Int, Seq[String])] = Seq(
    ("de", 5, Seq("der", "die", "und", "ein", "das", "ist")),
    ("en", 4, Seq("the", "a", "of", "and", "to", "is")),
    ("es", 3, Seq("el", "los", "de", "y", "un", "es")),
    ("fr", 2, Seq("le", "la", "et", "les", "un", "est")),
    ("zh", 1, Seq("的", "是", "在", "了", "和", "有")))

  private[graft] def stopWordsAll: Seq[String] = langs.flatMap(_._3).distinct

  private def sqlStopScore(toks: String, words: Seq[String]): String =
    s"len(list_filter($toks, t -> list_contains([${words.map("'" + _ + "'").mkString(",")}], t)))"

  /** BPE-ish pre-tokenizer pattern: letter runs, digit runs, single
    * non-alnum marks — the classic subword pre-split shape. Kept to a
    * syntax subset where Java regex (Spark) and RE2 (DuckDB) agree. */
  private val BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]"

  // Token statistics: whitespace + BPE-ish regex counts, exact-ratio
  // average token length. All five stats come from ONE fused
  // single-pass kernel ([[graft.functions.TokenStatsExpr]]): the
  // column form paid four per-row machinery layers — regex split,
  // O(n²) interpreted array_distinct, an interpreted aggregate lambda
  // (a boxed Long per token), and regexp_count — which the round-13
  // sf100 profile showed dominating the scan (NormalizeSpec pins the
  // kernel ≡ column-form equality; the DuckDB oracle keeps the
  // regex/list formulation and still hash-verifies).
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), tokenStatsFast(col("text")).as("ts"),
        length(col("text")).as("n_chars"))
      .select(
        col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        col("ts.n_tokens").as("n_tokens"),
        col("ts.n_distinct_tokens").as("n_distinct_tokens"),
        col("ts.n_bpe_tokens").as("n_bpe_tokens"),
        (col("ts.token_len_sum").cast("double") /
          col("ts.n_tokens")).as("avg_token_len"))
      .orderBy("doc_id")

  val tokenStatsSql: String =
    s"""WITH t AS (SELECT doc_id, text, ${sqlTokens("text")} AS toks, length(text) AS n_chars FROM documents)
       |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       |       CAST(len(toks) AS BIGINT) AS n_tokens,
       |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       |       CAST(len(regexp_extract_all(text, '$BPE_PATTERN')) AS BIGINT) AS n_bpe_tokens,
       |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, w -> CAST(length(w) AS BIGINT))),
       |                        (s, x) -> s + x) AS DOUBLE) / len(toks) AS avg_token_len
       |FROM t ORDER BY doc_id""".stripMargin

  /** score*8+rank combined argmax key over all languages (see langs),
    * over the raw text via the codegen'd stop-count expression. All five
    * scores are whole-stage-codegen participants, so common-subexpression
    * elimination computes each ONCE per row however many decode branches
    * reference the key (the interpreted HOF form re-evaluated all five
    * per reference). */
  private def bestLang(text: Column): Column =
    greatest(langs.map { case (_, rank, words) =>
      stopCountFast(text, words) * 8 + rank }: _*)

  /** Decode the winning language code from a combined argmax key. */
  private def decodeLang(best: Column): Column =
    langs.foldLeft(lit(null).cast("string")) { case (acc, (code, rank, _)) =>
      when(best % 8 === rank, code).otherwise(acc) }

  // Stopword-list language ID with deterministic argmax.
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val best = bestLang(col("text"))
    documents(spark, dir)
      .select(
        col("doc_id"), col("lang").as("claimed_lang"),
        decodeLang(best).as("predicted_lang"),
        (best / lit(8)).cast("long").as("stopword_hits"))
      .withColumn("agrees", (col("claimed_lang") === col("predicted_lang")).cast("int"))
      .orderBy("doc_id")
  }

  val langIdSql: String = {
    val toks = sqlTokens("text")
    val combined = langs.map { case (_, rank, words) =>
      s"CAST(${sqlStopScore("toks", words)} AS BIGINT) * 8 + $rank" }
    val decode = langs.reverse
      .map { case (code, rank, _) => s"WHEN best % 8 = $rank THEN '$code'" }
      .mkString("CASE ", " ", " ELSE NULL END")
    s"""WITH t AS (SELECT doc_id, lang, $toks AS toks FROM documents),
       |s AS (SELECT doc_id, lang AS claimed_lang,
       |             greatest(${combined.mkString(", ")}) AS best
       |      FROM t)
       |SELECT doc_id, claimed_lang, $decode AS predicted_lang,
       |       best // 8 AS stopword_hits,
       |       CAST(claimed_lang = ($decode) AS INT) AS agrees
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** The full quality formula over raw text as ONE Column — the same
    * expression the batch query materializes stepwise, exposed so the
    * STREAMING quality gate (`Sessionize.qualityGateStream`) applies the
    * identical formula; the stream-vs-batch differential in
    * StreamingSpec pins the two together. */
  private[graft] def qualityScoreOf(text: Column): Column = {
    val nc = length(text)
    val stopR = stopCountFast(text, stopWordsAll).cast("double") / tokenCountFast(text)
    // ascii_keep_count ≡ length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))
    // for any input (NormalizeSpec) — the regex form ran java.util.regex
    // per row and dominated the quality-family scans (round-13 profile)
    val punctR = (nc - graft.functions.TextNorm.asciiKeepCount(text))
      .cast("double") / nc
    least(tokenCountFast(text).cast("double") / 100.0, lit(1.0)) * 0.3 +
      stopR * 0.4 + (lit(1.0) - punctR) * 0.3
  }

  /** DuckDB fragment mirroring [[qualityScoreOf]] bit-for-bit, for any
    * relation exposing `text`, `toks` (= sqlTokens(text)) and `nc`
    * (= length(text)) — shared with CorpusOps.sourceReport. */
  private[graft] lazy val sqlQualityOf: String =
    s"""least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3
       | + (CAST(${sqlStopScore("toks", stopWordsAll)} AS DOUBLE) / len(toks)) * 0.4
       | + (1.0 - CAST(nc - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / nc) * 0.3""".stripMargin

  // Quality scoring: length/stopword/punctuation heuristics combined in a
  // fixed-order double formula (bit-stable across engines).
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("nc"))
      .select(
        col("doc_id"),
        col("nc").cast("long").as("n_chars"),
        tokenCountFast(col("text")).as("n_tokens"),
        (stopCountFast(col("text"), stopWordsAll).cast("double") /
          tokenCountFast(col("text"))).as("stopword_ratio"),
        ((col("nc") - graft.functions.TextNorm.asciiKeepCount(col("text")))
          .cast("double") / col("nc")).as("punct_ratio"))
      .withColumn("quality_score",
        least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.3 +
          col("stopword_ratio") * 0.4 + (lit(1.0) - col("punct_ratio")) * 0.3)
      .orderBy("doc_id")

  val qualityScoreSql: String = {
    val allStop = langs.flatMap(_._3).distinct
    s"""WITH t AS (SELECT doc_id, text, ${sqlTokens("text")} AS toks, length(text) AS nc FROM documents),
       |s AS (SELECT doc_id, CAST(nc AS BIGINT) AS n_chars, CAST(len(toks) AS BIGINT) AS n_tokens,
       |             CAST(${sqlStopScore("toks", allStop)} AS DOUBLE) / len(toks) AS stopword_ratio,
       |             CAST(nc - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / nc AS punct_ratio
       |      FROM t)
       |SELECT *, least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
       |          + stopword_ratio * 0.4 + (1.0 - punct_ratio) * 0.3 AS quality_score
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // Content fingerprints: standard md5 + polynomial hash + min shingle
  // hash (a 1-element MinHash — the full signature lives in Dedup).
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        md5(col("text")).as("md5_fp"),
        charHashFast(col("text")).as("poly_fp"),
        coalesce(array_min(shingleHashesFast(col("text"))), lit(-1L))
          .as("min_shingle_fp"))
      .orderBy("doc_id")

  val docFingerprintSql: String =
    s"""WITH t AS (SELECT doc_id, text, ${sqlTokens("text")} AS toks FROM documents),
       |h AS (SELECT doc_id, text, ${sqlTokenHashes("toks")} AS th FROM t)
       |SELECT doc_id, md5(text) AS md5_fp,
       |       ${sqlCharHash("text")} AS poly_fp,
       |       coalesce(list_min(${sqlShingleHashes("th")}), -1) AS min_shingle_fp
       |FROM h ORDER BY doc_id""".stripMargin

  // End-to-end corpus curation: the composed pipeline a training-data
  // run actually executes — per-doc features (predicted language,
  // quality score, content hash) in ONE scan-local pass, exact-dedup
  // keeper selection, quality gate, per-language corpus rollup. One
  // declarative plan: scan → project → hash-shuffle on content_hash
  // (keeper window) → filter → small agg shuffle. At 100 TB the only
  // wide exchange is the content-hash window (same bound as
  // q_exact_dedup); everything upstream is scan-local and everything
  // downstream is a 5-row aggregate.
  private val QUALITY_GATE = 0.5

  def corpusCuration(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir).select(
      col("doc_id"), col("lang"), col("text"),
      length(col("text")).as("nc"), md5(col("text")).as("content_hash"))
    val best = bestLang(col("text"))
    val stopR = stopCountFast(col("text"), stopWordsAll).cast("double") /
      tokenCountFast(col("text"))
    val punctR = (col("nc") - graft.functions.TextNorm.asciiKeepCount(col("text")))
      .cast("double") / col("nc")
    base.select(
        col("doc_id"), col("lang"), col("content_hash"),
        decodeLang(best).as("predicted_lang"),
        tokenCountFast(col("text")).as("n_tokens"),
        (least(tokenCountFast(col("text")).cast("double") / 100.0, lit(1.0)) * 0.3 +
          stopR * 0.4 + (lit(1.0) - punctR) * 0.3).as("quality_score"))
      .withColumn("keeper_id",
        min(col("doc_id")).over(Window.partitionBy(col("content_hash"))))
      .filter(col("doc_id") === col("keeper_id") &&
        col("quality_score") >= QUALITY_GATE)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        // exact micro-unit mean, NOT davg: quality_score is a computed
        // full-precision double, and casting one to DECIMAL(18,2) is
        // engine-dependent at .xx5 ties (Spark rounds the shortest
        // decimal repr, DuckDB the binary float — hit at sf0.001).
        // floor(q*1e6 + 0.5) is pure IEEE arithmetic, identical in both
        // engines; the long sum is order-proof.
        (sum(floor(col("quality_score") * 1000000.0 + 0.5)).cast("double") /
          count(lit(1)) / 1000000.0).as("avg_quality"),
        sum((col("predicted_lang") === col("lang")).cast("long")).as("lang_agree"))
      .orderBy("lang")
  }

  val corpusCurationSql: String = {
    val allStop = langs.flatMap(_._3).distinct
    val sqlBest = s"greatest(${langs.map { case (_, rank, words) =>
      s"CAST(${sqlStopScore("toks", words)} AS BIGINT) * 8 + $rank" }.mkString(", ")})"
    val sqlDecode = langs.reverse
      .map { case (code, rank, _) => s"WHEN best % 8 = $rank THEN '$code'" }
      .mkString("CASE ", " ", " ELSE NULL END")
    s"""WITH t AS (SELECT doc_id, lang, text, ${sqlTokens("text")} AS toks,
       |                  length(text) AS nc, md5(text) AS content_hash FROM documents),
       |s AS (SELECT doc_id, lang, content_hash, $sqlBest AS best,
       |             CAST(len(toks) AS BIGINT) AS n_tokens,
       |             CAST(${sqlStopScore("toks", allStop)} AS DOUBLE) / len(toks) AS stopword_ratio,
       |             CAST(nc - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / nc AS punct_ratio
       |      FROM t),
       |q AS (SELECT doc_id, lang, content_hash, $sqlDecode AS predicted_lang, n_tokens,
       |             least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
       |               + stopword_ratio * 0.4 + (1.0 - punct_ratio) * 0.3 AS quality_score
       |      FROM s),
       |k AS (SELECT *, min(doc_id) OVER (PARTITION BY content_hash) AS keeper_id FROM q)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |       CAST(sum(CAST(floor(quality_score * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |         / count(*) / 1000000.0 AS avg_quality,
       |       CAST(sum(CAST(predicted_lang = lang AS BIGINT)) AS BIGINT) AS lang_agree
       |FROM k WHERE doc_id = keeper_id AND quality_score >= CAST($QUALITY_GATE AS DOUBLE)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // Winnowing fingerprints (the MOSS scheme): the minimum shingle hash
  // of every w-length sliding window, deduplicated — selects ~2/(w+1) of
  // all shingles yet guarantees any match of length ≥ w+2 tokens shares
  // a fingerprint. The standard bounded-size document signature for
  // index-based near-dup at scale: the posting list (fp → docs) plays
  // the same role as Dedup's inverted index but is w× smaller. All
  // array work is per-row scan-local; rows out = distinct fingerprints.
  private[graft] val WINNOW_W = 8

  /** The distinct (doc_id, fp) winnow posting list — shared by the
    * fingerprint dump and the near-dup candidate join. SCAN-LOCAL since
    * round 14 ([[graft.functions.WinnowFpsExpr]]: monotonic-deque
    * sliding min + linear dedup in one generated call): the fingerprint
    * set depends only on the document's own shingles, and the former
    * relational chain (posexplode → two doc-keyed window functions →
    * relational distinct) shuffled the fully exploded shingle index
    * THREE times to compute a per-doc property — the same diagnosis as
    * round 13's BandSigsExpr. The repartition stays: it spreads the
    * scan-side hashing across cores at small SF, where AQE would
    * otherwise coalesce the projection onto one partition. */
  private[graft] def winnowPostings(spark: SparkSession, dir: String): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    documents(spark, dir)
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), explode(graft.functions.Winnow.winnowFps(
        shingleHashesFast(col("text")), WINNOW_W)).as("fp"))
  }

  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    winnowPostings(spark, dir).orderBy("doc_id", "fp")

  /** Shared oracle CTEs producing the winnow posting list `w`. */
  private val sqlWinnowPostings: String =
    s"""WITH t AS (SELECT doc_id, ${sqlTokenHashes(sqlTokens("text"))} AS th FROM documents),
       |h AS (SELECT doc_id, ${sqlShingleHashes("th")} AS sh FROM t),
       |w AS (SELECT doc_id,
       |       unnest(list_distinct(list_transform(
       |         generate_series(0, greatest(len(sh) - $WINNOW_W, 0)),
       |         i -> list_min(sh[i+1:i+$WINNOW_W])))) AS fp
       |      FROM h WHERE len(sh) > 0)""".stripMargin

  val winnowFingerprintSql: String =
    s"""$sqlWinnowPostings
       |SELECT doc_id, fp FROM w ORDER BY 1, 2""".stripMargin

  // Winnow-based near-dup: the point of winnowing — the posting list is
  // ~2/(w+1) the size of the full shingle inverted index, so the
  // candidate self-join (the expensive step of index-based dedup) runs
  // over a w×-smaller relation while any match of ≥ w+2 tokens is still
  // guaranteed to share a fingerprint. Hot fingerprints (df > WDF_CAP)
  // are REMOVED from the whole computation — sizes and intersections
  // alike, the same stop-word-removal semantics as Dedup.ngramJaccard's
  // filtered space (NOT the candidate-only cap of minhashLsh, whose
  // verification re-scores on the full index): min-selection biases
  // fingerprints toward small hash values, so a globally-minimal shingle
  // lands in MANY documents' windows and would fan out at df² per hot
  // fp. Scores are therefore winnow-jaccard over the capped posting
  // space, mirrored exactly in the oracle. The cap/join/score core is
  // the shared [[NearDup.cappedJaccardPairs]] (count-in-the-aggregate;
  // the AllPairs prefix variant was measured and refuted at sf10 — see
  // ROUND14_NOTES.md).
  private val WDF_CAP = 20
  private val WJACCARD_T = 0.5

  def winnowNearDup(spark: SparkSession, dir: String): DataFrame =
    NearDup.cappedJaccardPairs(winnowPostings(spark, dir), "fp", WDF_CAP,
      WJACCARD_T, "winnow_jaccard")

  val winnowNearDupSql: String =
    s"""$sqlWinnowPostings,
       |${NearDup.sqlCappedJaccardPairs("w", "fp", WDF_CAP, WJACCARD_T, "winnow_jaccard")}"""
      .stripMargin

  // Repetition quality signals (the Gopher/C4 family): how much of a
  // document is the same thing said again. Two scan-derived measures per
  // doc — dup_token_frac = 1 - |distinct tokens|/|tokens| and
  // top_trigram_frac = (count of the most frequent 3-gram)/|3-grams|
  // (deterministic across engines: counts are integers, the fraction one
  // double division). Relational shape: ONE explode of the native
  // shingle-hash array, a (doc, sh) count, a per-doc max/sum rollup —
  // two doc-keyed shuffles, linear in corpus size, no array-land
  // distinct (the O(n²)-per-row trap). A repetition gate is the
  // standard pre-training filter next to the quality score; at 100 TB
  // this is scan + two partial-agg exchanges.
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val perTrigram = documents(spark, dir)
      .select(col("doc_id"), explode(shingleHashesFast(col("text"))).as("sh"))
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("cnt"))
    val trigram = perTrigram.groupBy(col("doc_id")).agg(
      sum(col("cnt")).as("n_trigrams"),
      max(col("cnt")).as("top_cnt"))
    // distinct-token count relationally (codegen'd explode + distinct
    // aggregate) — array_distinct is the interpreted O(n²)-per-row trap
    // this file's own docs warn about, worst exactly on the long
    // repetitive documents this query targets
    val distinctToks = documents(spark, dir)
      .select(col("doc_id"), explode(split(trim(col("text")), WS_CLASS)).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("tok")).as("n_distinct"))
    val toks = documents(spark, dir).select(
        col("doc_id"),
        tokenCountFast(col("text")).as("n_tokens"))
      .join(distinctToks, Seq("doc_id"), "left")
      .withColumn("n_distinct", coalesce(col("n_distinct"), lit(0L)))
    toks.join(trigram, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        (coalesce(col("top_cnt"), lit(0L)).cast("double") /
          coalesce(col("n_trigrams"), lit(1L))).as("top_trigram_frac"))
      .orderBy("doc_id")
  }

  val repetitionStatsSql: String =
    s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(${sqlShingleHashes(sqlTokenHashes("toks"))}) AS sh FROM t),
       |pt AS (SELECT doc_id, sh, count(*) AS cnt FROM sh GROUP BY 1, 2),
       |tg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
       |              CAST(max(cnt) AS BIGINT) AS top_cnt
       |       FROM pt GROUP BY 1),
       |tk AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |              CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
       |       FROM t)
       |SELECT tk.doc_id, n_tokens,
       |       1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
       |       coalesce(n_trigrams, 0) AS n_trigrams,
       |       CAST(coalesce(top_cnt, 0) AS DOUBLE) / coalesce(n_trigrams, 1) AS top_trigram_frac
       |FROM tk LEFT JOIN tg ON tk.doc_id = tg.doc_id
       |ORDER BY 1""".stripMargin

  // Deterministic hash split: the train/val/test assignment every
  // pipeline needs, derived from CONTENT (polynomial char hash mod 10 →
  // 0-7 train / 8 val / 9 test) so the split is stable under re-shuffles,
  // re-partitions, and re-runs, and near-dup copies of a document land in
  // the same split (leakage hygiene). Scan-local projection + 3-row
  // rollup; at 100 TB the split column is also the natural storage
  // partition for downstream per-split reads.
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"),
        pmod(charHashFast(col("text")), lit(10)).as("h"),
        tokenCountFast(col("text")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("h") <= 7, "train").when(col("h") === 8, "val")
          .otherwise("test").as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("split")

  val hashSplitSql: String =
    s"""WITH h AS (SELECT doc_id, ${sqlCharHash("text")} % 10 AS h,
       |                  CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens
       |           FROM documents)
       |SELECT CASE WHEN h <= 7 THEN 'train' WHEN h = 8 THEN 'val' ELSE 'test' END AS split,
       |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       min(doc_id) AS first_doc
       |FROM h GROUP BY 1 ORDER BY 1""".stripMargin

  /** Weighted sample size. */
  private val WSAMPLE_K = 20

  /** Deterministic weighted sampling WITHOUT replacement — the
    * Efraimidis–Spirakis A-Res scheme (each item ranked by
    * u^(1/w) ⟺ ln(u)/w, top-k kept), with the uniform u derived from
    * the CONTENT hash instead of rand(): (charHash+1)/(P+1) ∈ (0,1).
    * Weights = token counts, so long documents are proportionally more
    * likely — the length-weighted corpus subsample. rand()-free means
    * the sample is reproducible under re-runs, re-partitions, and
    * retries (the property every other sampler here shares); ln is
    * micro-unit-rounded before the one IEEE division so the key is
    * engine-identical. Scan-local key + distributed
    * TakeOrderedAndProject: no shuffle at any corpus size. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (charHashFast(col("text")) + 1).cast("double") /
      lit((graft.functions.TextHash.P + 1).toDouble)
    val keyMu = floor(log(u) * 1000000.0 + lit(0.5)).cast("long")
    documents(spark, dir)
      .select(col("doc_id"),
        greatest(tokenCountFast(col("text")), lit(1L)).as("weight"),
        keyMu.as("key_mu"))
      .select(col("doc_id"), col("weight"),
        (col("key_mu").cast("double") / col("weight").cast("double")).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id").asc)
      .limit(WSAMPLE_K)
  }

  val weightedSampleSql: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    CAST(floor(ln(CAST(${sqlCharHash("text")} + 1 AS DOUBLE) /
       |      ${(graft.functions.TextHash.P + 1).toDouble}) * 1000000.0 + 0.5) AS BIGINT) AS key_mu,
       |    greatest(CAST(len(${sqlTokens("text")}) AS BIGINT), 1) AS weight
       |  FROM documents)
       |SELECT doc_id, weight,
       |       CAST(key_mu AS DOUBLE) / CAST(weight AS DOUBLE) AS es_key
       |FROM h ORDER BY es_key DESC, doc_id ASC LIMIT $WSAMPLE_K""".stripMargin

  // Corpus-level top-k tokens — the vocabulary head (tokenizer/vocab
  // audits, stop-list discovery). Explode is codegen'd (split + explode +
  // relational length filter, NO interpreted lambda); the count is one
  // hash-shuffle with map-side combine; top-k is orderBy().limit() =
  // distributed TakeOrderedAndProject. Ties broken on the token string
  // (binary UTF-8 order in both engines).
  private val VOCAB_TOPK = 20

  def tokenTopk(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(explode(split(trim(col("text")), WS_CLASS)).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(VOCAB_TOPK)

  val tokenTopkSql: String =
    s"""SELECT token, count(*) AS cnt FROM (
       |  SELECT unnest(string_split_regex(trim(text), '$WS_CLASS')) AS token
       |  FROM documents)
       |WHERE length(token) > 0
       |GROUP BY 1 ORDER BY cnt DESC, token ASC LIMIT $VOCAB_TOPK""".stripMargin

  // Deterministic stratified sampling — domain-mixing weights: each
  // language stratum keeps a configured fraction of its docs, selected
  // by content hash (pmod(charHash, 1000) < rate‰) so the sample is
  // stable under re-runs and re-partitionings and needs NO global
  // coordination — pure scan-local predicate, the only shape that
  // samples 100 TB without a shuffle. Output is the per-stratum audit
  // (population, sample size, sampled tokens).
  private val MIX_PERMILLE: Seq[(String, Int)] =
    Seq("de" -> 1000, "en" -> 500, "es" -> 500, "fr" -> 250, "zh" -> 100)

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = MIX_PERMILLE.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, r).otherwise(acc) }
    documents(spark, dir)
      .select(col("lang"),
        (pmod(charHashFast(col("text")), lit(1000)) < rate).cast("long").as("take"),
        tokenCountFast(col("text")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("take")).as("n_sampled"),
        // overflow-safe by construction: take ∈ {0,1} ⇒ Σ take·n_tokens
        // ≤ corpus token count (~10¹³ at 100 TB) ≪ 2⁶³ (OverflowSweepSpec)
        sum(col("take") * col("n_tokens")).as("sampled_tokens"))
      .orderBy("lang")
  }

  val stratifiedSampleSql: String = {
    val rateCase = MIX_PERMILLE
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""WITH d AS (SELECT lang,
       |  CAST(${sqlCharHash("text")} % 1000 < ($rateCase) AS BIGINT) AS take,
       |  CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs, CAST(sum(take) AS BIGINT) AS n_sampled,
       |       CAST(sum(take * n_tokens) AS BIGINT) AS sampled_tokens
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // Fixed-stride document chunking — the pre-training sharding step:
  // long documents become overlapping CHUNK_N-token windows every
  // CHUNK_S tokens (8-token overlap preserves cross-boundary context).
  // Scan-local: one Generate per doc with fan-out ~n/CHUNK_S; the token
  // array is computed once below the Generate and sliced per chunk
  // (slice/array_join are codegen'd collection ops). Chunk-count
  // arithmetic is integer and clamp-guarded so Spark's truncating `div`
  // and DuckDB's flooring `//` agree on every n.
  private val CHUNK_N = 32
  private val CHUNK_S = 24

  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("nk",
        greatest(expr(s"(n - $CHUNK_N + ${CHUNK_S - 1}) div $CHUNK_S") + 1, lit(1)))
    base
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), col("nk") - 1)).as(Seq("p", "k")))
      .select(col("doc_id"), col("k").cast("int").as("chunk_id"),
        slice(col("toks"), col("k") * CHUNK_S + 1, lit(CHUNK_N)).as("ct"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ct")).cast("long").as("n_chunk_tokens"),
        array_join(col("ct"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  val docChunksSql: String =
    s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
       |k AS (SELECT doc_id, toks,
       |             greatest((n - $CHUNK_N + ${CHUNK_S - 1}) // $CHUNK_S + 1, 1) AS nk
       |      FROM b),
       |c AS (SELECT doc_id, unnest(generate_series(0, nk - 1)) AS k, toks FROM k)
       |SELECT doc_id, CAST(k AS INT) AS chunk_id,
       |       CAST(len(toks[k*$CHUNK_S+1 : k*$CHUNK_S+$CHUNK_N]) AS BIGINT) AS n_chunk_tokens,
       |       array_to_string(toks[k*$CHUNK_S+1 : k*$CHUNK_S+$CHUNK_N], ' ') AS chunk_text
       |FROM c ORDER BY 1, 2""".stripMargin

  // PII scan + redaction — the compliance pass of a curation pipeline:
  // per-doc counts of email / phone / IPv4 matches and the md5 of the
  // REDACTED text (verifying the full replacement value cross-engine
  // without materializing megabytes of redacted text in the dump).
  // Patterns stay inside the Java-regex ∩ RE2 dialect subset (explicit
  // classes, no lookaround, no \d) so both engines match identically;
  // scan-local projection, zero shuffles. This corpus is synthetic and
  // PII-free (all counts 0, redacted ≡ original — itself a useful
  // release gate); PipelineOpsSpec proves detection and redaction on
  // planted positives.
  private val PII: Seq[(String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("phone", "\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}"))

  /** Redaction expression: each PII class replaced by its `<CLASS>`
    * token, applied in declaration order (shared by query and spec). */
  private[graft] def redacted(text: Column): Column =
    PII.foldLeft(text) { case (acc, (name, pat)) =>
      regexp_replace(acc, pat, s"<${name.toUpperCase}>") }

  def piiScan(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id") +:
        PII.map { case (name, pat) =>
          regexp_count(col("text"), lit(pat)).cast("long").as(s"n_$name") } :+
        md5(redacted(col("text"))).as("redacted_md5"): _*)
      .withColumn("has_pii",
        (PII.map(p => col(s"n_${p._1}")).reduce(_ + _) > 0).cast("int"))
      .orderBy("doc_id")

  val piiScanSql: String = {
    val counts = PII.map { case (name, pat) =>
      s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$name" }
    val red = PII.foldLeft("text") { case (acc, (name, pat)) =>
      s"regexp_replace($acc, '$pat', '<${name.toUpperCase}>', 'g')" }
    val total = PII.map(p => s"n_${p._1}").mkString(" + ")
    s"""WITH s AS (SELECT doc_id, ${counts.mkString(", ")}, md5($red) AS redacted_md5
       |           FROM documents)
       |SELECT doc_id, ${PII.map(p => s"n_${p._1}").mkString(", ")}, redacted_md5,
       |       CAST(($total) > 0 AS INT) AS has_pii
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------- language confusion
  /** Language-ID confusion matrix — (claimed, predicted) doc counts
    * with per-claimed-language recall: the error-structure view of
    * [[langId]]'s per-doc agreement flag (which languages the stopword
    * classifier confuses with which — the audit that decides whether a
    * lang filter is safe to gate on, and for which languages). One
    * scan (the same codegen'd argmax), one ≤\|langs\|²-row aggregate,
    * per-language totals joined back from a second ≤\|langs\|-row
    * aggregate. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val best = bestLang(col("text"))
    val cells = documents(spark, dir)
      .select(col("lang").as("claimed_lang"),
        decodeLang(best).as("predicted_lang"))
      .groupBy(col("claimed_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy(col("claimed_lang"))
      .agg(sum(col("n_docs")).as("n_claimed"))
    cells.join(broadcast(totals), "claimed_lang")
      .select(col("claimed_lang"), col("predicted_lang"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_claimed")).as("share_of_claimed"))
      .orderBy("claimed_lang", "predicted_lang")
  }

  val langConfusionSql: String = {
    val toks = sqlTokens("text")
    val combined = langs.map { case (_, rank, words) =>
      s"CAST(${sqlStopScore("toks", words)} AS BIGINT) * 8 + $rank" }
    val decode = langs.reverse
      .map { case (code, rank, _) => s"WHEN best % 8 = $rank THEN '$code'" }
      .mkString("CASE ", " ", " ELSE NULL END")
    s"""WITH t AS (SELECT lang, $toks AS toks FROM documents),
       |s AS (SELECT lang AS claimed_lang,
       |             greatest(${combined.mkString(", ")}) AS best
       |      FROM t),
       |cells AS (SELECT claimed_lang, $decode AS predicted_lang,
       |                 CAST(count(*) AS BIGINT) AS n_docs
       |          FROM s GROUP BY 1, 2),
       |tot AS (SELECT claimed_lang, CAST(sum(n_docs) AS BIGINT) AS n_claimed
       |        FROM cells GROUP BY 1)
       |SELECT cells.claimed_lang, predicted_lang, n_docs,
       |       CAST(n_docs AS DOUBLE) / n_claimed AS share_of_claimed
       |FROM cells JOIN tot ON cells.claimed_lang = tot.claimed_lang
       |ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------------- Cohen's kappa
  /** Chance-corrected agreement between the claimed `lang` label and
    * the n-gram language-id prediction — the one-number summary of
    * [[langConfusion]]'s matrix. Cohen's kappa in the exact-integer
    * form κ = (N·Σdiag − Σ r_k·c_k) / (N² − Σ r_k·c_k): every term is
    * an exact integer count product — the N² terms run in DECIMAL(38)
    * (oracle: HUGEINT), exact past the ~3·10⁹-doc point where int64 N²
    * would overflow — so both engines compute the identical rational
    * before one IEEE division into micro-units.
    * Cost: the confusion cells are one scan + one tiny aggregate; the
    * marginals join is |langs|². */
  def langKappa(spark: SparkSession, dir: String): DataFrame = {
    val best = bestLang(col("text"))
    val cells = documents(spark, dir)
      .select(col("lang").as("claimed"), decodeLang(best).as("predicted"))
      .groupBy(col("claimed"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    val agg = cells.agg(
      sum(col("n")).as("n_docs"),
      sum(when(col("claimed") === col("predicted"), col("n")).otherwise(0L))
        .as("n_agree"))
    val rows = cells.groupBy(col("claimed").as("k")).agg(sum(col("n")).as("r"))
    val cols = cells.groupBy(col("predicted").as("k")).agg(sum(col("n")).as("c"))
    // r·c is a product of per-label doc counts — int64 overflows once a
    // label holds > ~3·10⁹ docs (r9 overflow-class sweep: DuckDB would
    // silently HUGEINT-widen, Spark ANSI-errors); DECIMAL(38,0) in both
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val s = rows.join(cols, "k")
      .agg(coalesce(sum(col("r").cast(dec38) * col("c").cast(dec38)),
        lit(0L).cast(dec38)).as("s"))
    val nDec = col("n_docs").cast(dec38)
    val sDec = col("s").cast(dec38)
    val agreeDec = col("n_agree").cast(dec38)
    agg.crossJoin(broadcast(s)).select(
      col("n_docs"), col("n_agree"),
      floor(col("n_agree").cast("double") * 1000000.0 / col("n_docs").cast("double"))
        .cast("long").as("po_ppm"),
      floor(col("s").cast("double") * 1000000.0 /
        (col("n_docs").cast("double") * col("n_docs").cast("double")))
        .cast("long").as("pe_ppm"),
      // pe=1 degenerate case (single label claimed AND predicted
      // everywhere ⇒ s == N²): κ is 0/0 — report 0 instead of letting
      // the ANSI cast of floor(Infinity) error the query. The N² terms
      // run in DECIMAL(38) (oracle: HUGEINT) so the guard AND the
      // numerator/denominator stay exact past the ~3·10⁹-doc point
      // where int64 N² overflows; both engines convert the same exact
      // integers to double for the one final division.
      when(nDec * nDec === sDec, lit(0L))
        .otherwise(
          floor((nDec * agreeDec - sDec).cast("double") * 1000000.0 /
            (nDec * nDec - sDec).cast("double") + lit(0.5))
            .cast("long")).as("kappa_mu"))
  }

  val langKappaSql: String = {
    val toks = sqlTokens("text")
    val combined = langs.map { case (_, rank, words) =>
      s"CAST(${sqlStopScore("toks", words)} AS BIGINT) * 8 + $rank" }
    val decode = langs.reverse
      .map { case (code, rank, _) => s"WHEN best % 8 = $rank THEN '$code'" }
      .mkString("CASE ", " ", " ELSE NULL END")
    s"""WITH t AS (SELECT lang, $toks AS toks FROM documents),
       |sc AS (SELECT lang AS claimed,
       |              greatest(${combined.mkString(", ")}) AS best
       |       FROM t),
       |cells AS (SELECT claimed, $decode AS predicted,
       |                 CAST(count(*) AS BIGINT) AS n
       |          FROM sc GROUP BY 1, 2),
       |agg AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       |               CAST(sum(CASE WHEN claimed = predicted THEN n ELSE 0 END) AS BIGINT) AS n_agree
       |        FROM cells),
       |r AS (SELECT claimed AS k, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY 1),
       |c AS (SELECT predicted AS k, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY 1),
       |s AS (SELECT CAST(coalesce(sum(CAST(r.r AS HUGEINT) * c.c), 0) AS HUGEINT) AS s
       |      FROM r JOIN c ON r.k = c.k)
       |SELECT n_docs, n_agree,
       |  CAST(floor(CAST(n_agree AS DOUBLE) * 1000000.0 / CAST(n_docs AS DOUBLE)) AS BIGINT) AS po_ppm,
       |  CAST(floor(CAST(s AS DOUBLE) * 1000000.0
       |             / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))) AS BIGINT) AS pe_ppm,
       |  CASE WHEN CAST(n_docs AS HUGEINT) * n_docs = s THEN CAST(0 AS BIGINT)
       |       ELSE CAST(floor(CAST(CAST(n_docs AS HUGEINT) * n_agree - s AS DOUBLE) * 1000000.0
       |                  / CAST(CAST(n_docs AS HUGEINT) * n_docs - s AS DOUBLE) + 0.5) AS BIGINT)
       |  END AS kappa_mu
       |FROM agg, s""".stripMargin
  }

  // --------------------------------------------- quantile calibration
  /** Per-source rank-based quantile normalization of the quality score
    * — the cross-source calibration step before any global quality
    * threshold: raw scores are not comparable across sources (each
    * source has its own style/length distribution), percentiles within
    * a source are. Each doc gets percent_rank within its source (total
    * order: score then doc_id), bucketed into deciles; the audit emits
    * each (source, decile) cell's population and raw-score span, making
    * cross-source threshold drift visible (decile 9 of a low-quality
    * source can sit below decile 3 of a high one).
    *
    * Scale: one shuffle by source + per-source sort — the exact-rank
    * formulation. At 100 TB replace percent_rank with bucketing against
    * per-source approx-quantile boundaries (computed via the mergeable
    * sketch in [[ScalePatterns.sketchQuantiles]]) to avoid the global
    * per-source sort; the decile semantics are unchanged. */
  def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("q").asc, col("doc_id").asc)
    documents(spark, dir)
      .select(col("doc_id"), col("source"),
        qualityScoreOf(col("text")).as("q"))
      .withColumn("decile",
        least(floor(percent_rank().over(w) * 10.0).cast("long"), lit(9L)))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("q")).as("min_q"), max(col("q")).as("max_q"))
      .orderBy("source", "decile")
  }

  val quantileNormSql: String =
    s"""WITH t AS (SELECT doc_id, source, text, ${sqlTokens("text")} AS toks,
       |                  length(text) AS nc
       |           FROM documents),
       |sq AS (SELECT doc_id, source, ($sqlQualityOf) AS q FROM t),
       |rk AS (SELECT source, q,
       |         least(CAST(floor(percent_rank() OVER (PARTITION BY source
       |           ORDER BY q ASC, doc_id ASC) * 10.0) AS BIGINT), 9) AS decile
       |       FROM sq)
       |SELECT source, decile, CAST(count(*) AS BIGINT) AS n_docs,
       |       min(q) AS min_q, max(q) AS max_q
       |FROM rk GROUP BY 1, 2 ORDER BY source, decile""".stripMargin

  // ------------------------------------------------- split balance
  /** Train/val/test balance audit — per split: volumes plus mean
    * quality and mean length in exact micro-units: the check that the
    * content-hash split didn't land a skewed slice in the eval buckets
    * (a test set 20% shorter or lower-quality than train measures a
    * different model). Composes the [[hashSplit]] assignment with the
    * shared [[qualityScoreOf]] formula in ONE scan + one 3-row
    * aggregate; means are exact long sums → one IEEE division. */
  def splitBalance(spark: SparkSession, dir: String): DataFrame = {
    val h = pmod(charHashFast(col("text")), lit(10))
    val split = when(h <= 7, "train").when(h === 8, "val").otherwise("test")
    documents(spark, dir)
      .select(split.as("split"),
        tokenCountFast(col("text")).as("n_tokens"), col("n_chars"),
        floor(qualityScoreOf(col("text")) * 1000000.0 + lit(0.5))
          .cast("long").as("q_mu"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"), sum(col("q_mu")).as("sum_q"))
      .select(col("split"), col("n_docs"), col("n_tokens"),
        (col("sum_chars").cast("double") / col("n_docs")).as("mean_chars"),
        (col("sum_q").cast("double") / col("n_docs") / 1000000.0)
          .as("mean_quality"))
      .orderBy("split")
  }

  val splitBalanceSql: String =
    s"""WITH t AS (SELECT text, n_chars, ${sqlTokens("text")} AS toks,
       |                  length(text) AS nc,
       |                  ${sqlCharHash("text")} % 10 AS h
       |           FROM documents),
       |s AS (SELECT CASE WHEN h <= 7 THEN 'train' WHEN h = 8 THEN 'val'
       |                  ELSE 'test' END AS split,
       |             CAST(len(toks) AS BIGINT) AS n_tokens, n_chars,
       |             CAST(floor(($sqlQualityOf) * 1000000.0 + 0.5) AS BIGINT) AS q_mu
       |      FROM t)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars,
       |       CAST(sum(q_mu) AS DOUBLE) / count(*) / 1000000.0 AS mean_quality
       |FROM s GROUP BY 1 ORDER BY split""".stripMargin

  // --------------------------------------------- tokenizer fertility
  /** Tokenizer-fertility audit — chars/token and tokens/doc per
    * language: the companion number to `q_vocab_coverage`'s OOV rate
    * when sizing a tokenizer (a language whose fertility is 2× the
    * corpus mean pays 2× the sequence length for the same text — the
    * budget number behind per-language vocab allocation). Whitespace
    * tokens here are the lower bound a subword tokenizer is compared
    * against. One scan (codegen'd token counts), one |langs|-row
    * aggregate; exact integer sums → one IEEE division each. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("lang"), col("n_chars"),
        tokenCountFast(col("text")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        (col("n_chars").cast("double") / col("n_tokens")).as("chars_per_token"),
        (col("n_tokens").cast("double") / col("n_docs")).as("tokens_per_doc"))
      .orderBy("lang")

  val tokenizerFertilitySql: String =
    s"""WITH t AS (SELECT lang, n_chars,
       |             CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens
       |           FROM documents),
       |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |             CAST(sum(n_chars) AS BIGINT) AS n_chars
       |      FROM t GROUP BY 1)
       |SELECT lang, n_docs, n_tokens, n_chars,
       |       CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token,
       |       CAST(n_tokens AS DOUBLE) / n_docs AS tokens_per_doc
       |FROM g ORDER BY lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lang_kappa"          -> langKappa _,
    "q_quantile_norm"       -> quantileNorm _,
    "q_tokenizer_fertility" -> tokenizerFertility _,
    "q_lang_confusion"      -> langConfusion _,
    "q_split_balance"       -> splitBalance _,
    "q_token_stats"        -> tokenStats _,
    "q_lang_id"            -> langId _,
    "q_quality_score"      -> qualityScore _,
    "q_doc_fingerprint"    -> docFingerprint _,
    "q_winnow_fingerprint" -> winnowFingerprint _,
    "q_winnow_neardup"     -> winnowNearDup _,
    "q_corpus_curation"    -> corpusCuration _,
    "q_repetition_stats"   -> repetitionStats _,
    "q_hash_split"         -> hashSplit _,
    "q_weighted_sample"    -> weightedSample _,
    "q_token_topk"         -> tokenTopk _,
    "q_stratified_sample"  -> stratifiedSample _,
    "q_doc_chunks"         -> docChunks _,
    "q_pii_scan"           -> piiScan _)

  val oracles: Map[String, String] = Map(
    "q_tokenizer_fertility" -> tokenizerFertilitySql,
    "q_lang_kappa"          -> langKappaSql,
    "q_quantile_norm"       -> quantileNormSql,
    "q_lang_confusion"      -> langConfusionSql,
    "q_split_balance"       -> splitBalanceSql,
    "q_token_stats"        -> tokenStatsSql,
    "q_lang_id"            -> langIdSql,
    "q_quality_score"      -> qualityScoreSql,
    "q_doc_fingerprint"    -> docFingerprintSql,
    "q_winnow_fingerprint" -> winnowFingerprintSql,
    "q_winnow_neardup"     -> winnowNearDupSql,
    "q_corpus_curation"    -> corpusCurationSql,
    "q_repetition_stats"   -> repetitionStatsSql,
    "q_hash_split"         -> hashSplitSql,
    "q_weighted_sample"    -> weightedSampleSql,
    "q_token_topk"         -> tokenTopkSql,
    "q_stratified_sample"  -> stratifiedSampleSql,
    "q_doc_chunks"         -> docChunksSql,
    "q_pii_scan"           -> piiScanSql)
}
