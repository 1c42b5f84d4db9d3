package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materializer
import graft.Tables._
import graft.functions.TextHash._

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact (content-hash), n-gram Jaccard, MinHash+LSH, and SimHash.
  *
  * All hashes are engine-neutral formulas (TextHash) so every query has a
  * full value-level DuckDB oracle — the LSH candidate sets are identical
  * across engines, not just statistically similar.
  *
  * Scale notes (100 TB posture):
  * - Exact dedup: one hash-shuffle on the 16-byte digest; group state is
  *   O(1) per distinct doc.
  * - Jaccard/MinHash/SimHash all avoid the O(n²) pair space. Candidates
  *   come from an inverted index (shingle → docs) or LSH buckets
  *   (band-signature / simhash-chunk equality), i.e. a self-equi-join on
  *   a high-selectivity key that Spark executes as a shuffled hash join.
  *   Only candidate pairs are verified exactly.
  * - The inverted-index candidate path applies a stop-shingle cap
  *   ([[Dedup.DF_CAP]]): shingles shared by more than DF_CAP documents
  *   are dropped from CANDIDATE GENERATION only (they generate O(df²)
  *   pairs between already-dissimilar docs — the classic LSH blowup).
  *   Jaccard VERIFICATION always runs on the full index, so reported
  *   scores stay exact; the cap is mirrored in the oracle SQL so the
  *   candidate sets are identical cross-engine.
  * - The shingle index (scan → hash → explode → distinct, the most
  *   expensive subtree) recurs 2-4× per query (signature path, size
  *   path, both sides of the verification join). It is MATERIALIZED to a
  *   session temp parquet via [[graft.Materializer]] — computed exactly
  *   once, every reference a plain scan. Round 2 used
  *   `persist(MEMORY_AND_DISK)` instead, which was bimodal (2.8 s cached
  *   / 64 s after execution-memory eviction recomputed the lineage per
  *   reference); explicit disk materialization has a flat worst case and
  *   is the shape that still works at 100 TB, where caches never fit.
  */
object Dedup {

  /** Jaccard threshold for near-dup (testdata planted pairs sit at ~0.99,
    * background pairs < 0.1 — see calibration at round 1). */
  private[graft] val JACCARD_T = 0.5

  /** MinHash params: k=16 permutations (a*x+b mod P), 4 bands × 4 rows. */
  private[graft] val A = Seq(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L, 37L, 41L, 43L, 47L, 53L, 59L, 61L, 67L)
  private[graft] val B = Seq(3L, 5L, 101L, 211L, 307L, 401L, 503L, 601L, 701L, 809L, 907L, 1009L, 1103L, 1201L, 1301L, 1409L)
  private[graft] val BANDS = 4
  private[graft] val ROWS_PER_BAND = 4
  /** Positional weights (31^r) folding one band's minhashes into one
    * order-independent signature. */
  private[graft] val POW31 = Seq(1L, 31L, 961L, 29791L)

  // ---------------------------------------------------------------- exact
  // Exact dedup: md5 content hash → keeper = min doc_id per hash group.
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val byHash = Window.partitionBy(col("content_hash"))
    documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .withColumn("keeper_id", min(col("doc_id")).over(byHash))
      .withColumn("is_dup", (col("doc_id") =!= col("keeper_id")).cast("int"))
      .orderBy("doc_id")
  }

  val exactDedupSql: String =
    """SELECT doc_id, md5(text) AS content_hash,
      |       min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id,
      |       CAST(doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- shared shingle index
  /** Documents spread across the session's shuffle partitions BEFORE the
    * (interpreted, CPU-heavy) hashing projections. The testdata table is
    * one small parquet file → one input split; without this every
    * char-level hash fold runs on a single core. At real scale the scan
    * already yields many splits and this exchange is a cheap no-op
    * relative to the hashing it parallelizes. */
  private def docsParallel(spark: SparkSession, dir: String): DataFrame = {
    // explicit partition count: a keyed repartition alone gets AQE-
    // coalesced back to 1 partition at test SF (few MB), serializing the
    // interpreted hash projections that follow
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    documents(spark, dir).repartition(n, col("doc_id"))
  }

  /** (doc_id, sh): distinct 3-token shingle hashes, exploded. The dedup
    * is SCAN-LOCAL since round 14 ([[graft.functions.DistinctLongsExpr]],
    * a linear open-addressing pass — not the interpreted O(n²)/row
    * array_distinct): the distinct key is (doc_id, sh), so within-doc
    * dedup IS the global distinct, and the former relational
    * `.distinct()` was shuffling the whole exploded index (260 M rows
    * at the sf100 probe, two extra stages) to compute a per-row
    * property.
    *
    * MATERIALIZED (session temp parquet): every dedup query references
    * this subtree 2-4× (signatures, sizes, both sides of the common-
    * shingle join), and Spark has no cross-reference common-subexpression
    * reuse — without materialization the full scan+hash+shuffle re-runs
    * per reference (the round-1 bench blowup; round 2's persist was
    * eviction-bimodal). Computed once, scanned per reference, deleted by
    * Bench/Verify after each query. */
  private[graft] def shingleIndex(spark: SparkSession, dir: String): DataFrame =
    Materializer.materialize(
      docsParallel(spark, dir)
        .select(col("doc_id"),
          explode(graft.functions.DistinctLongs.distinctLongs(
            shingleHashesFast(col("text")))).as("sh")))

  private val sqlShingleIndex: String =
    s"""SELECT DISTINCT doc_id, unnest(${sqlShingleHashes("th")}) AS sh
       |FROM (SELECT doc_id, ${sqlTokenHashes(sqlTokens("text"))} AS th FROM documents)""".stripMargin

  /** Stop-shingle document-frequency cap. Calibrated at sf0.1: max
    * df = 25, 59 of 27k shingles above 20 — the cap engages without
    * dropping any planted near-dup pair (those share hundreds of low-df
    * shingles). At 100 TB this is the bound that keeps a stop-shingle
    * shared by k docs from emitting O(k²) candidates between dissimilar
    * documents. */
  private val DF_CAP = 20

  // ------------------------------------------------------- n-gram Jaccard
  // Near-dup via the inverted index (no LSH), computed over the
  // STOP-SHINGLE-FILTERED space: shingles with df > DF_CAP are excluded
  // from sizes AND intersections — standard stop-word-removal semantics
  // (NOT the candidate-only cap of minhashLsh, whose verification
  // re-scores on the full index). Planted near-dups share hundreds of
  // low-df shingles, so the filtered jaccard is within noise of the
  // unfiltered one. The cap/join/score core is the shared
  // [[NearDup.cappedJaccardPairs]] — count-in-the-aggregate, NOT the
  // AllPairs prefix variant: measured at sf10, this corpus's candidate
  // density refutes the prefix+verify shape (see ROUND14_NOTES.md).
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    NearDup.cappedJaccardPairs(shingleIndex(spark, dir), "sh", DF_CAP,
      JACCARD_T, "jaccard")

  /** The near-dup pair SET without [[ngramJaccard]]'s final global sort
    * — what the clustering/split/audit consumers actually need. Reading
    * the materialized scored relation directly saves each of them a
    * range sort (boundary-sample pass + exchange) plus, previously, a
    * redundant second on-disk copy of the same pairs ("ndpairs"). */
  private def ngramJaccardUnsorted(spark: SparkSession, dir: String): DataFrame =
    NearDup.cappedJaccardPairsUnsorted(shingleIndex(spark, dir), "sh", DF_CAP,
      JACCARD_T, "jaccard")

  val ngramJaccardSql: String =
    s"""WITH ex AS ($sqlShingleIndex),
       |${NearDup.sqlCappedJaccardPairs("ex", "sh", DF_CAP, JACCARD_T, "jaccard")}"""
      .stripMargin

  /** Containment gate: |A∩B| / |A| ≥ this keeps the pair. */
  private val CONTAIN_T = 0.5

  /** DIRECTIONAL containment detection — |A∩B| / |A| over the same
    * capped shingle index: catches quotes/inclusions that symmetric
    * jaccard misses (a paragraph wholly inside a much longer doc has
    * tiny jaccard but containment ≈ 1 in one direction). The pair join
    * runs HALF-SPACE (a < b) via [[NearDup.cappedPairStats]]; both
    * directions then derive from one candidate row (a→b = c/n1,
    * b→a = c/n2) by a scan-local 2-struct explode. Reuses the
    * materialized capped shingle index.
    *
    * Scale adjudication (round-14 sf10 profile, 32cpu): this is the
    * registry's pair-volume FLOOR query and its cost is inherent. The
    * pair join runs UNGATED — no size bound exists for containment
    * (max attainable score is c/min ≤ 1 whatever n1, n2), unlike
    * jaccard's min/max ≥ t gate — so the aggregate consumes the full
    * capped fanout: 124 M rows / 2.2 GB shuffle for a 37-row result at
    * sf10, zero spill, ~2.7× the gated jaccard fanout. The partial
    * aggregate combines ~nothing (candidate pairs are near-unique per
    * partition), so the cost is two hash passes over the fanout — the
    * same Σ df²-bounded volume every exact containment join pays; the
    * AllPairs prefix variant was measured and refuted for this corpus
    * (candidate density — see ROUND14_NOTES.md). */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val st = NearDup.cappedPairStats(shingleIndex(spark, dir), "sh", DF_CAP,
      col("a.doc_id") < col("b.doc_id"),
      "d1", "d2")
    // sortedSmall: the sort's child is the full pair aggregate — the
    // adjudicated pair-volume floor (124 M fanout rows at sf10) — and a
    // plain orderBy would run it twice (boundary sample + real pass)
    Materializer.sortedSmall(
      st.select(explode(array(
          struct(col("d1").as("inner_doc"), col("d2").as("outer_doc"),
            col("common"), (col("common").cast("double") / col("n1")).as("containment")),
          struct(col("d2").as("inner_doc"), col("d1").as("outer_doc"),
            col("common"), (col("common").cast("double") / col("n2")).as("containment"))))
          .as("r"))
        .select(col("r.inner_doc").as("inner_doc"), col("r.outer_doc").as("outer_doc"),
          col("r.common").as("common"), col("r.containment").as("containment"))
        .filter(col("containment") >= CONTAIN_T),
      "inner_doc", "outer_doc")
  }

  val containmentSql: String =
    s"""WITH ex AS ($sqlShingleIndex),
       |${NearDup.sqlCappedScoredJoin("ex", "sh", DF_CAP, CONTAIN_T, "containment",
          "a.doc_id != b.doc_id", "inner_doc", "outer_doc",
          "CAST(common AS DOUBLE) / s1.n")}""".stripMargin

  /** Scan-local (band, sig) signature array for ONE document's shingle-
    * hash array — the same (A, B, POW31) signature algebra as
    * [[minhashLsh]], for contexts where the relational groupBy
    * formulation isn't available (pre-watermark streaming rows). NULL
    * when the document has no shingles (< 3 tokens): such a document has
    * no signature and cannot participate in signature dedup. The
    * per-element HOF cost here is per-document scan-local work on the
    * streaming ingest path, not a batch-join hot path. */
  def bandSigs(sh: Column): Column = {
    val mins = A.indices.map(i =>
      array_min(transform(sh, x => (x * A(i) + B(i)) % P)))
    val sigs = (0 until BANDS).map { b =>
      val s = (0 until ROWS_PER_BAND)
        .map(r => mins(b * ROWS_PER_BAND + r) * POW31(r))
        .reduce(_ + _) % P
      struct(lit(b).as("band"), s.as("sig"))
    }
    when(size(sh) > 0, array(sigs: _*))
  }

  // --------------------------------------------------------- MinHash+LSH
  // Signature in array land per doc → band signatures → bucket self-join
  // for candidates → exact Jaccard verification. The candidate step never
  // touches the O(n²) pair space.
  /** Raw LSH candidate pairs — band-signature collisions BEFORE the
    * jaccard verification. Factored out of [[minhashLsh]] so the
    * banding-quality audit ([[lshRecall]]) can grade exactly the
    * candidate set the production query verifies.
    *
    * Relational formulation: all 16 permutation minima as aggregate
    * columns of ONE groupBy(doc_id) over the cached shingle index — no
    * row blowup at all (round 1 crossed a perms table, multiplying the
    * exploded index 16× through the shuffle). Band signatures are then
    * scalar arithmetic over the 16 columns, unpivoted with posexplode.
    * All hot-path arithmetic is codegen'd row work — the array-land
    * alternative (nested HOF lambdas) is interpreted AND gets the
    * shingle pipeline re-inlined into every lambda by project-collapse,
    * which measured ~100× slower at sf0.1. */
  private def lshCandidates(spark: SparkSession, dir: String): DataFrame = {
    // band signatures are SCAN-LOCAL since round 13
    // ([[graft.functions.BandSigsExpr]]): the signature depends only on
    // the document's own shingles, so the former index-groupBy
    // formulation (16 min-aggs over the exploded distinct-shingle
    // index) shuffled 500 M (doc_id, sh) rows at the sf100 probe to
    // compute a per-doc projection. Minima over the positional shingle
    // multiset ≡ minima over the distinct index; MinhashKernelSpec pins
    // the full query bit-exact against the relational twin
    // (MinhashLshReference, in the test sources). The only shuffled
    // relation is the (doc_id, band, sig) table — the 100 TB
    // write-time shape.
    val bands = Materializer.materialize(
      docsParallel(spark, dir)
        .select(col("doc_id"),
          graft.functions.MinhashSig.bandSigs(
            col("text"), A, B, POW31, BANDS, ROWS_PER_BAND).as("sigs"))
        .filter(size(col("sigs")) > 0)
        .select(col("doc_id"), posexplode(col("sigs")).as(Seq("band", "sig"))))
    // SHUFFLE_HASH: per-(band, sig) bucket groups are near-dup-sized
    // and the candidate distinct downstream is hash-based — the SMJ
    // sort of the bands table bought nothing (same reasoning as
    // NearDup.cappedPairStats; the relational twin stays un-hinted as
    // the plan-independent equality reference)
    bands.as("x").hint("shuffle_hash").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // Verification index restricted to CANDIDATE docs (round 13): the
    // round-13 sf100 profile showed the full-corpus shingle index —
    // explode 500 M (doc_id, sh) rows → hash-distinct → spill — was the
    // query's real cost (the signature kernel above removed the OTHER
    // index consumer), yet exact-jaccard verification only ever reads
    // the shingle sets of docs that appear in a candidate pair (~9 % of
    // the sf100 corpus; LSH banding is the filter doing its job). The
    // left-semi join keeps the index build proportional to CANDIDATE
    // volume — row-linear by the banding+distinct construction — not
    // corpus volume. Output is bit-identical (the twin's verification
    // only joins on candidate doc ids; MinhashKernelSpec pins equality
    // vs the full-index relational twin).
    val cands = Materializer.materialize(lshCandidates(spark, dir))
    val candDocs = cands.select(col("d1").as("doc_id"))
      .unionByName(cands.select(col("d2").as("doc_id"))).distinct()
    val vIdx = Materializer.materialize(
      docsParallel(spark, dir)
        .join(candDocs, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          explode(graft.functions.DistinctLongs.distinctLongs(
            shingleHashesFast(col("text")))).as("sh")))
    // Size-ratio gate BEFORE the intersection join (round 14 — the
    // remaining verification cost after the round-13 index restriction
    // was the candidate × shingle fan-out itself): |A∩B| ≤ min(|A|,|B|)
    // and jaccard = c/(|A|+|B|−c) is increasing in c, so a pair's
    // attainable maximum is min/max — a PROVABLE reject below the
    // threshold, the classic set-similarity-join length filter. The
    // monotonicity survives double rounding (fl is monotone), so a
    // gated-out pair could never have passed the final filter:
    // bit-identical output, no probabilistic estimate involved
    // (MinhashKernelSpec pins equality vs the ungated relational twin).
    // Sizes ride along through the aggregate, saving the two post-agg
    // size joins the twin's verification pays.
    val sizes = vIdx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val gated = cands
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), col("s1.n").as("n1"), col("s2.n").as("n2"))
      .filter(least(col("n1"), col("n2")).cast("double") /
        greatest(col("n1"), col("n2")) >= JACCARD_T)
    // sortedSmall: the sort's child is the verification intersection
    // join + aggregate — the query's dominant cost — and a plain
    // orderBy would run it twice (boundary sample + real pass)
    Materializer.sortedSmall(
      gated
        .join(vIdx.as("a"), col("d1") === col("a.doc_id"))
        .join(vIdx.as("b"), col("d2") === col("b.doc_id") && col("a.sh") === col("b.sh"))
        .groupBy(col("d1"), col("d2"), col("n1"), col("n2"))
        .agg(count(lit(1)).as("common"))
        .select(col("d1"), col("d2"), col("common"),
          (col("common").cast("double") / (col("n1") + col("n2") - col("common")))
            .as("jaccard"))
        .filter(col("jaccard") >= JACCARD_T),
      "d1", "d2")
  }

  /** Shared CTE chain producing the raw LSH candidate pair set `cand`
    * — used by both the verified-pair query and the recall audit. */
  private lazy val sqlLshCandCtes: String = {
    val aList = A.mkString("[", ",", "]")
    val bList = B.mkString("[", ",", "]")
    val powList = POW31.mkString("[", ",", "]")
    s"""docs AS (
       |  SELECT doc_id, ${sqlShingleHashes(sqlTokenHashes(sqlTokens("text")))} AS shingles
       |  FROM documents),
       |sigs AS (
       |  SELECT doc_id, shingles,
       |         list_transform(generate_series(1, ${A.size}), i ->
       |           list_min(list_transform(shingles, s -> ($aList[i]*s + $bList[i]) % $P))) AS mh
       |  FROM docs WHERE len(shingles) > 0),
       |bands AS (
       |  SELECT doc_id, b AS band,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(generate_series(1, $ROWS_PER_BAND),
       |             r -> mh[b*$ROWS_PER_BAND + r] * $powList[r])),
       |           (acc, x) -> (acc + x) % $P) AS sig
       |  FROM sigs, (SELECT unnest(generate_series(0, ${BANDS - 1})) AS b) bt),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)""".stripMargin
  }

  val minhashLshSql: String = {
    s"""WITH $sqlLshCandCtes,
       |ex AS ($sqlShingleIndex),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
       |common AS (
       |  SELECT d1, d2, count(*) AS common
       |  FROM cand JOIN ex a ON d1 = a.doc_id JOIN ex b ON d2 = b.doc_id AND a.sh = b.sh
       |  GROUP BY 1, 2)
       |SELECT d1, d2, common,
       |       CAST(common AS DOUBLE) / (s1.n + s2.n - common) AS jaccard
       |FROM common JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
       |WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= $JACCARD_T
       |ORDER BY d1, d2""".stripMargin
  }

  // ------------------------------------------------- LSH banding audit
  /** Banding-quality audit: recall/precision of the RAW LSH candidate
    * set against the exact df-capped n-gram Jaccard ground truth
    * ([[ngramJaccard]], threshold JACCARD_T) — the s-curve check every
    * LSH deployment owes itself: bands×rows fixes a collision
    * probability curve 1-(1-s^r)^b, and this query measures where the
    * deployed (4×4) curve actually lands on this corpus. recall < 1
    * means true near-dups slipped between the bands (missed dups ship
    * to training); precision is the verification bill (every FP pays an
    * exact-jaccard check in the production query).
    *
    * Scale: both inputs are pair-table-sized; the full-outer join
    * shuffles on (d1,d2) and the rollup is one row. Integer ppm via
    * floor division keeps the row hash-exact cross-engine. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = ngramJaccardUnsorted(spark, dir).select(col("d1"), col("d2"))
      .withColumn("t", lit(1L))
    val cand = lshCandidates(spark, dir).withColumn("c", lit(1L))
    truth.join(cand, Seq("d1", "d2"), "full_outer")
      .agg(
        sum(coalesce(col("t"), lit(0L))).as("n_true"),
        sum(coalesce(col("c"), lit(0L))).as("n_cand"),
        sum(when(col("t").isNotNull && col("c").isNotNull, 1L).otherwise(0L))
          .as("tp"))
      .select(col("n_true"), col("n_cand"), col("tp"),
        when(col("n_true") === 0L, 0L)
          .otherwise(expr("tp * 1000000 div n_true")).as("recall_ppm"),
        when(col("n_cand") === 0L, 0L)
          .otherwise(expr("tp * 1000000 div n_cand")).as("precision_ppm"))
  }

  val lshRecallSql: String =
    s"""WITH $sqlLshCandCtes,
       |truth AS (SELECT d1, d2 FROM ($ngramJaccardSql)),
       |j AS (SELECT (t.d1 IS NOT NULL) AS is_t, (c.d1 IS NOT NULL) AS is_c
       |      FROM truth t FULL OUTER JOIN cand c
       |        ON t.d1 = c.d1 AND t.d2 = c.d2),
       |agg AS (
       |  SELECT CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |         CAST(sum(CASE WHEN is_c THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       |         CAST(sum(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END) AS BIGINT) AS tp
       |  FROM j)
       |SELECT n_true, n_cand, tp,
       |  CAST(CASE WHEN n_true = 0 THEN 0 ELSE tp * 1000000 // n_true END AS BIGINT) AS recall_ppm,
       |  CAST(CASE WHEN n_cand = 0 THEN 0 ELSE tp * 1000000 // n_cand END AS BIGINT) AS precision_ppm
       |FROM agg""".stripMargin

  // -------------------------------------------------------------- SimHash
  // 60-bit SimHash per doc from token hashes (with multiplicity), near-dup
  // pairs via 9-bit-chunk LSH + Hamming ≤ 6 verification. A token hash is
  // < P < 2^30, so it only carries 30 independent bits; bits 30-59 come
  // from a second derived hash g = (A2·h + B2) mod P. 30+30 = 60 bits:
  // unrelated docs sit at expected Hamming ~30 and never collide at ≤ 3
  // (a 32-bit variant on this shared-vocab corpus emitted 1.6M noise
  // pairs at sf0.1). Bit j of h is floor(h / 2^j) % 2 — division by a
  // power of two is double-exact for h < 2^52, so engines agree bitwise.
  // Scale knob (round-9 sf1 probe: slope 11.4 ≈ 1.14× linear-in-rows —
  // acceptable, but the trend is quadratic-in-occupancy): per-chunk
  // bucket space is 2^9 = 512, so chunk-value occupancy — and candidate
  // pairs, quadratically — grows with the corpus. The pigeonhole
  // guarantee fixes CHUNKS ≥ HAMMING_T+1, so the knob is SIGNATURE
  // WIDTH: a 119-bit simhash (4 derived hashes) gives 7 × 17-bit chunks
  // = 128k buckets/chunk, holding occupancy at today's level through
  // ~×250 the corpus. Widen when the measured slope creeps past ~2×
  // linear; results change with the signature, oracle in lockstep.
  private val HAMMING_T = 6
  private val CHUNKS = 7 // 7 × 9-bit chunks; hamming ≤ 6 ⇒ ≥1 chunk equal
  private val HALF_BITS = 30
  private val A2 = 48271L
  private val B2 = 11L

  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // Relational formulation (same shape as minhashLsh): all 60 bit
    // sign-sums as aggregate columns of ONE groupBy(doc_id) over the
    // token-hash rows — no ×60 bit-table fan-out through the shuffle,
    // one exchange instead of two, everything codegen'd.
    val toks = docsParallel(spark, dir)
      .select(col("doc_id"), explode(tokenHashesFast(col("text"))).as("th"))
      .withColumn("g", (col("th") * A2 + B2) % P)
    // s_j = Σ_tokens (bit_j ? +1 : −1); bit j comes from th (j < 30) or
    // the derived hash g (j ≥ 30). shiftright+mask is EXACT for the
    // non-negative sub-2^30 hashes and equals the oracle's
    // floor(x / 2^(j%30)) % 2 bit-for-bit — the double-division floor
    // form it replaces cost 60 fp divisions per token in the hottest
    // aggregate (round 15; same sums, same simhash, oracle unchanged).
    val sAggs = (0 until 2 * HALF_BITS).map { j =>
      val src = if (j < HALF_BITS) col("th") else col("g")
      sum((shiftright(src, j % HALF_BITS).bitwiseAND(lit(1L))) * 2 - 1).as(s"s$j")
    }
    val sums = toks.groupBy(col("doc_id")).agg(sAggs.head, sAggs.tail: _*)
    val simhash = sums.select(col("doc_id"),
      (0 until 2 * HALF_BITS)
        .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
    // Chunks extracted BITWISE (shiftright + mask): simhash is 60-bit, so
    // the double-division route (floor(simhash / 2^(9c)) % 512) rounds
    // away low bits above 2^53 and the "hamming ≤ 6 ⇒ ≥1 chunk equal"
    // recall guarantee breaks. shiftright/& is exact for all 60 bits
    // (and faster); DuckDB mirrors with (simhash >> (9*c)) & 511.
    // Unpivoted with posexplode of the 7 chunk expressions — no join.
    // materialized: both sides of the chunk self-join reference it
    val chunks = Materializer.materialize(
      simhash.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until CHUNKS).map(c =>
          expr(s"shiftright(simhash, ${9 * c}) & 511")): _*)).as(Seq("c", "chunk"))))
    // sortedSmall: the sort's child is the chunk-collision self-join +
    // distinct — the query's fanout cost — and a plain orderBy would
    // run it twice (boundary sample + real pass)
    Materializer.sortedSmall(
      chunks.as("x").join(chunks.as("y"),
          col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          col("x.simhash").as("h1"), col("y.simhash").as("h2"))
        .distinct()
        .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))).cast("int"))
        .filter(col("hamming") <= HAMMING_T)
        .select(col("d1"), col("d2"), col("hamming")),
      "d1", "d2")
  }

  val simhashPairsSql: String =
    s"""WITH th AS (
       |  SELECT doc_id, unnest(${sqlTokenHashes(sqlTokens("text"))}) AS th FROM documents),
       |bits AS (
       |  SELECT j, (1::BIGINT << j) AS w, j // $HALF_BITS AS half,
       |         (1::BIGINT << (j % $HALF_BITS)) AS wd
       |  FROM (SELECT unnest(generate_series(0, ${2 * HALF_BITS - 1})) AS j)),
       |sums AS (
       |  SELECT doc_id, w,
       |         sum((CAST(floor((CASE WHEN half = 0 THEN th ELSE (th * $A2 + $B2) % $P END) / wd)
       |              AS BIGINT) % 2) * 2 - 1) AS s
       |  FROM th, bits GROUP BY doc_id, w),
       |sh AS (
       |  SELECT doc_id, sum(CASE WHEN s > 0 THEN w ELSE 0 END) AS simhash
       |  FROM sums GROUP BY doc_id),
       |chunks AS (
       |  SELECT doc_id, simhash, c, (simhash >> (c*9)) & 511 AS chunk
       |  FROM sh, (SELECT unnest(generate_series(0, ${CHUNKS - 1})) AS c) t),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2, x.simhash AS h1, y.simhash AS h2
       |  FROM chunks x JOIN chunks y
       |    ON x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
       |SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
       |FROM pairs WHERE bit_count(xor(h1, h2)) <= $HAMMING_T
       |ORDER BY d1, d2""".stripMargin

  // -------------------------------------------------- incremental dedup
  /** The "new batch" membership predicate: doc_id ≡ NEW_RESIDUE mod 10 —
    * a stand-in for the day's ingest partition. */
  private val NEW_RESIDUE = 7

  /** Incremental (delta-batch) near-dup — the production maintenance
    * shape: a NEW ingest batch is scored against (existing ∪ delta),
    * never existing×existing (that work was done when those docs
    * arrived). The pair condition keeps every pair with a new LEFT
    * side: new×existing pairs, plus new×new pairs once (a < b) — so two
    * near-dups arriving in the same delta are still caught, and no pair
    * is ever scored twice across batches. Same df-capped posting-list
    * candidate join as [[ngramJaccard]] (shared
    * [[NearDup.cappedJaccardJoin]] core). At 100 TB the existing side
    * is the STORED posting-list index (partitioned by shingle) and only
    * the delta's postings probe it — cost scales with the delta, not
    * the corpus. */
  def incrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val newA = pmod(col("a.doc_id"), lit(10)) === NEW_RESIDUE
    val newB = pmod(col("b.doc_id"), lit(10)) === NEW_RESIDUE
    // the capped index is [[ngramJaccard]]'s (same postings, key and
    // cap, so the same plans and the same Materializer copies)
    NearDup.cappedJaccardJoin(shingleIndex(spark, dir), "sh", DF_CAP,
      JACCARD_T, "jaccard", newA && (!newB || col("a.doc_id") < col("b.doc_id")),
      "new_doc", "other_doc")
  }

  val incrementalNearDupSql: String =
    s"""WITH ex AS ($sqlShingleIndex),
       |${NearDup.sqlCappedJaccardJoin("ex", "sh", DF_CAP, JACCARD_T, "jaccard",
          s"a.doc_id % 10 = $NEW_RESIDUE AND " +
            s"(b.doc_id % 10 != $NEW_RESIDUE OR a.doc_id < b.doc_id)",
          "new_doc", "other_doc")}""".stripMargin

  // ----------------------------------------------------- decontamination
  /** Held-out residue of the content-hash split — MUST match
    * `TextOps.hashSplit`'s 'test' bucket, so the eval set here is
    * exactly the split a training run would hold out. */
  private[operators] val EVAL_RESIDUE = 9
  private val CONTAM_T = 0.8

  /** Eval-set decontamination — the n-gram-overlap check every training
    * pipeline runs before a data release: for each TRAINING document,
    * the fraction of its distinct shingles that also occur anywhere in
    * the held-out eval split (the `hashSplit` 'test' bucket). A training
    * doc above the threshold is a contamination leak (e.g. a near-copy
    * of an eval doc) and gets flagged.
    *
    * Scale shape: the (materialized) distinct shingle index is scanned
    * once; eval doc-ids and the eval shingle set are BROADCAST (an eval
    * set is small by definition — benchmarks, not corpora), so the train
    * side never shuffles for the membership probe; the only wide
    * exchange is the per-doc count aggregate. Docs with < 3 tokens have
    * no shingles and no row (both engines agree). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndex(spark, dir)
    val evalIds = documents(spark, dir)
      .filter(pmod(charHashFast(col("text")), lit(10)) === EVAL_RESIDUE)
      .select(col("doc_id").as("eval_id"))
    val evalSh = sh.join(broadcast(evalIds), col("doc_id") === col("eval_id"))
      .select(col("sh")).distinct()
    val frac = col("n_hit").cast("double") / col("n_shingles")
    sh.join(broadcast(evalIds), col("doc_id") === col("eval_id"), "left_anti")
      .join(broadcast(evalSh.withColumn("hit", lit(1L))), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        frac.as("contamination_frac"),
        (frac >= CONTAM_T).cast("int").as("is_contaminated"))
      .orderBy("doc_id")
  }

  val decontaminateSql: String =
    s"""WITH ex AS ($sqlShingleIndex),
       |ev AS (SELECT doc_id AS eval_id FROM documents
       |       WHERE ${sqlCharHash("text")} % 10 = $EVAL_RESIDUE),
       |evs AS (SELECT DISTINCT sh FROM ex JOIN ev ON ex.doc_id = ev.eval_id),
       |tr AS (SELECT ex.doc_id, ex.sh FROM ex
       |       WHERE ex.doc_id NOT IN (SELECT eval_id FROM ev)),
       |c AS (SELECT tr.doc_id, count(*) AS n_shingles,
       |             sum(CASE WHEN evs.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
       |      FROM tr LEFT JOIN evs ON tr.sh = evs.sh GROUP BY 1)
       |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       |       CAST(n_hit AS BIGINT) AS n_hit,
       |       CAST(n_hit AS DOUBLE) / n_shingles AS contamination_frac,
       |       CAST(CAST(n_hit AS DOUBLE) / n_shingles >= CAST($CONTAM_T AS DOUBLE) AS INT)
       |         AS is_contaminated
       |FROM c ORDER BY 1""".stripMargin

  // ------------------------------------------------- near-dup clustering
  /** Connected components over the near-dup pair graph + keeper choice —
    * the step that turns PAIRS into the dedup DECISION: near-duplication
    * is transitive in practice (A≈B, B≈C ⇒ keep one of {A,B,C}), so the
    * pair list must be closed into clusters before a keeper (min doc_id)
    * is picked per cluster.
    *
    * Distributed shape: iterative min-label propagation — init every
    * endpoint's label to itself; each round, every node takes the min of
    * its own and its neighbors' labels (one equi-join + min-aggregate,
    * both plain shuffles); converged when no label changes. Rounds ≤
    * graph diameter (near-dup clusters are small and dense: at sf0.1 all
    * 233 components have diameter 1, so the folded-init round below
    * already converges and only the verification round runs). Each
    * round's labels are materialized (Materializer) so lineage stays
    * flat — the same chain-of-jobs shape a real cluster would run, and
    * the simple sibling of the large-star/small-star CC algorithm. The
    * driver sees only the per-round change COUNT (a scalar), never data.
    *
    * Output: (doc_id, cluster_id = min reachable doc_id, is_keeper) for
    * every doc in at least one near-dup pair; singleton docs are their
    * own trivial cluster and are omitted. Oracle: the same closure via a
    * DuckDB recursive CTE. */
  /** The raw (node → cluster label) relation — [[dedupClusters]] minus
    * the output projection and global sort, for the downstream
    * consumers (keeper choice, soft weights, leakage-safe split) that
    * join on it and would otherwise pay a range sort per reference
    * just to discard the order. */
  private[graft] def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    // the pair set is read straight from the scored relation the
    // jaccard pipeline already materialized — the union below is then
    // two scans of a tiny parquet (the former explicit "ndpairs" copy
    // duplicated those bytes and paid ngramJaccard's final sort on the
    // way)
    val pairs = ngramJaccardUnsorted(spark, dir).select(col("d1"), col("d2"))
    val edges = pairs
      .unionByName(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .toDF("a", "b")
    // init = min(self, direct neighbors): the first propagation round
    // folded into the same aggregate job that enumerates the nodes —
    // pair-shaped clusters (the common case) converge here and pay only
    // the single verification round below
    var labels = Materializer.materialize(
      edges.select(col("a").as("d"), col("b").as("lbl"))
        .unionByName(edges.select(col("a").as("d"), col("a").as("lbl")))
        .groupBy(col("d")).agg(min(col("lbl")).as("lbl")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < 15) {
      iter += 1
      // labels is |pair-graph nodes|-sized — at a realistic 100 TB dup
      // rate that is a large fraction of the corpus, so these joins are
      // deliberately UN-hinted plain equi-joins (the key is already the
      // join key): AQE broadcasts whichever side its runtime stats say
      // is actually small, and falls back to a shuffled hash join when
      // neither is. Check-BEFORE-write: the improving rows
      // (neighbor-min < own label) are counted first and a new label
      // table is materialized only when the round actually changed
      // something — the common converged round (every component already
      // at its minimum) costs ONE small aggregate job and no write.
      val prop = edges.join(labels, col("b") === col("d"))
        .groupBy(col("a")).agg(min(col("lbl")).as("nlbl"))
      val delta = prop.join(labels, col("a") === col("d"))
        .filter(col("nlbl") < col("lbl"))
      changed = delta.count()
      if (changed > 0)
        labels = Materializer.materialize(
          labels.as("o").join(delta.as("u"), col("o.d") === col("u.a"), "left")
            .select(col("o.d").as("d"),
              least(col("o.lbl"), coalesce(col("u.nlbl"), col("o.lbl"))).as("lbl")))
    }
    require(changed == 0, s"label propagation did not converge in $iter rounds")
    labels
  }

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir)
      .select(col("d").as("doc_id"), col("lbl").as("cluster_id"),
        (col("d") === col("lbl")).cast("int").as("is_keeper"))
      .orderBy("doc_id")

  val dedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($ngramJaccardSql)),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
       |          UNION ALL SELECT d2, d1 FROM pairs),
       |nodes AS (SELECT DISTINCT a AS d FROM edges),
       |reach(d, r) AS (
       |  SELECT d, d FROM nodes
       |  UNION
       |  SELECT reach.d, e.b FROM reach JOIN edges e ON reach.r = e.a)
       |SELECT d AS doc_id, min(r) AS cluster_id,
       |       CAST(d = min(r) AS INT) AS is_keeper
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------- soft-dedup weights
  /** Soft deduplication via sampling weights (the SemDeDup/D4 move):
    * instead of DELETING near-duplicates, every document gets sampling
    * weight 1/|cluster| — each near-dup cluster contributes one
    * document's worth of expected training mass, but WHICH copy
    * surfaces can still vary per epoch (deletion is the weight-0 [or
    * keeper-only] special case, and hard-deleting borderline pairs
    * throws away diversity the cluster still carries). Singletons keep
    * weight 1. Integer ppm floor-division keeps the rows hash-exact.
    *
    * Scale: one cluster-size aggregate over the label table + one left
    * join of docs against labels — both UN-hinted (the label table is
    * corpus-proportional at a realistic dup rate; AQE broadcasts it only
    * when its runtime size allows, same rule as [[leakageSafeSplit]]). */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
      .select(col("d"), col("lbl").as("cluster_id"))
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("csize"))
    documents(spark, dir).select(col("doc_id"))
      .join(labels, col("doc_id") === col("d"), "left")
      .join(sizes, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("csize"), lit(1L)).as("csize"))
      .withColumn("weight_ppm", expr("1000000 div csize"))
      .orderBy("doc_id")
  }

  val softDedupWeightsSql: String =
    s"""WITH lbl AS (SELECT doc_id AS d, cluster_id FROM ($dedupClustersSql)),
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize
       |       FROM lbl GROUP BY 1)
       |SELECT doc_id,
       |       coalesce(lbl.cluster_id, doc_id) AS cluster_id,
       |       coalesce(sz.csize, 1) AS csize,
       |       CAST(1000000 // coalesce(sz.csize, 1) AS BIGINT) AS weight_ppm
       |FROM documents
       |LEFT JOIN lbl ON doc_id = lbl.d
       |LEFT JOIN sz ON lbl.cluster_id = sz.cluster_id
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------- duplicated-span extraction
  /** Span k-gram width (tokens). */
  private val SPAN_K = 8
  /** Minimum reported span length (tokens). */
  private val SPAN_MIN_LEN = 12

  /** Exact duplicated-span extraction — the suffix-array exact-substring
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better") re-expressed relationally: every maximal token
    * span ≥ [[SPAN_MIN_LEN]] shared verbatim by two documents, located
    * by (start_a, start_b, length). Positional 8-gram hashes (native
    * codegen'd expression) are matched across documents; matches on the
    * same alignment diagonal (pa − pb) with consecutive positions are
    * merged into maximal spans via the gaps-and-islands pattern
    * (pa − row_number over the diagonal — a (da,db,diag)-PARTITIONED
    * window, never global). The hot-k-gram [[DF_CAP]] bounds fan-out at
    * df² exactly like the shingle index; a duplicated span's interior
    * k-grams are rare by construction, so the cap costs no true span at
    * this threshold. Index materialized once (both sides of the
    * self-join scan it). */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val kg = docsParallel(spark, dir).select(col("doc_id"),
      posexplode(kgramHashesFast(col("text"), SPAN_K)).as(Seq("pos0", "kg")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("kg"))
    // df-cap via the shared agg + broadcast-anti core, not a count
    // window: the window form shuffled AND SORTED the entire positional
    // k-gram index by kg to attach a count whose hot-key set is tiny —
    // the same cost NearDup.cappedPostings removed from the shingle
    // family (see there for the measured numbers)
    val idx = NearDup.cappedPostings(kg, "kg", DF_CAP)
    val m = idx.as("a").join(idx.as("b"),
        col("a.kg") === col("b.kg") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.pos").as("pa"), col("b.pos").as("pb"),
        (col("a.pos") - col("b.pos")).as("diag"))
    val w = Window.partitionBy(col("da"), col("db"), col("diag"))
      .orderBy(col("pa").asc)
    // sortedSmall: the sort's child is the positional pair join + run
    // grouping — the query's fanout cost — and a plain orderBy would
    // run it twice (boundary sample + real pass)
    Materializer.sortedSmall(
      m.withColumn("grp", col("pa") - row_number().over(w))
        .groupBy(col("da"), col("db"), col("diag"), col("grp"))
        .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
          (count(lit(1)) + lit(SPAN_K - 1).cast("long")).as("span_len"))
        .filter(col("span_len") >= SPAN_MIN_LEN)
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          col("start_a"), col("start_b"), col("span_len")),
      "doc_a", "doc_b", "start_a", "start_b")
  }

  val dupSpansSql: String =
    s"""WITH t AS (SELECT doc_id, ${sqlTokenHashes(sqlTokens("text"))} AS th FROM documents),
       |kg AS (SELECT doc_id, i AS pos,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+${SPAN_K - 1}]),
       |           (h, c) -> (h*31 + c) % ${graft.functions.TextHash.P}) AS kg
       |       FROM (SELECT doc_id, th, unnest(generate_series(1, len(th) - ${SPAN_K - 1})) AS i
       |             FROM t)),
       |idx AS (SELECT doc_id, pos, kg FROM
       |          (SELECT *, count(*) OVER (PARTITION BY kg) AS df FROM kg)
       |        WHERE df <= $DF_CAP),
       |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
       |             a.pos - b.pos AS diag
       |      FROM idx a JOIN idx b ON a.kg = b.kg AND a.doc_id < b.doc_id),
       |r AS (SELECT *, pa - row_number()
       |        OVER (PARTITION BY da, db, diag ORDER BY pa ASC) AS grp
       |      FROM m)
       |SELECT da AS doc_a, db AS doc_b,
       |       CAST(min(pa) AS INT) AS start_a, CAST(min(pb) AS INT) AS start_b,
       |       CAST(count(*) + ${SPAN_K - 1} AS BIGINT) AS span_len
       |FROM r GROUP BY da, db, diag, grp
       |HAVING count(*) + ${SPAN_K - 1} >= $SPAN_MIN_LEN
       |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin

  // --------------------------------------- blocked edit-distance near-dup
  private val EDIT_BAND = 40 // chars per length band (block key)
  private val EDIT_PFX = 48  // prefix compared (min doc length in TESTDATA)
  private val EDIT_T = 12    // max edits to call a pair near-dup

  /** Pigeonhole segment count for the prefix-segment candidate source:
    * EDIT_T + 1 segments of the compared prefix — a pair within EDIT_T
    * SUBSTITUTIONS must agree exactly on at least one same-index segment
    * (13 segments, ≤ 12 edited). Insertions/deletions shift the tail and
    * void the guarantee (full PassJoin-style shifted matching is not
    * worth its complexity here) — indel-heavy pairs rely on the shingle
    * source, and the verify gate is the full banded levenshtein either
    * way. */
  private val EDIT_SEGS = EDIT_T + 1

  /** (start, len) 1-based substring bounds of segment i — identical
    * literals land in the Spark plan and the oracle SQL. */
  private def segBounds(i: Int): (Int, Int) = {
    val s = i * EDIT_PFX / EDIT_SEGS
    val e = (i + 1) * EDIT_PFX / EDIT_SEGS
    (s + 1, e - s)
  }

  /** Record-linkage-style fuzzy dedup: Levenshtein distance over a fixed
    * 48-char prefix, gated to candidate pairs that share at least one
    * sub-cap shingle AND sit in the same (lang, length-band) block.
    * Complements the token/shingle suite ([[ngramJaccard]],
    * [[minhashLsh]]): edit distance catches character-level mutations
    * (OCR noise, typo farms) that survive token-level hashing.
    *
    * Candidate generation is CONTENT-keyed, never band-blocked (round
    * 7's (lang, band)-only blocking measured slope 77.8× at the ×10
    * probe: content-blind block occupancy grows with the corpus, pairs
    * quadratically). TWO df-capped sources, OR'd:
    *
    *  1. the shared df-capped whole-text shingle index (fan-out ≤
    *     DF_CAP² per shingle at any corpus size) — witnesses whole-doc
    *     overlap;
    *  2. prefix-segment pigeonhole blocks (round 10, ADVICE r9): the
    *     compared EDIT_PFX-char prefix split into EDIT_SEGS = EDIT_T+1
    *     exact segments, df-capped per (index, segment) key. A pair
    *     within EDIT_T substitutions MUST share a same-index segment,
    *     so prefix-edit near-dups whose shared shingles are ALL hot
    *     (df > DF_CAP — the boilerplate/template class source 1 is
    *     blind to) are guaranteed candidates as long as their segment
    *     block is ≤ DF_CAP wide.
    *
    * Documented recall bounds (the honest stop-key semantics the whole
    * dedup family carries): a template cluster wider than DF_CAP docs
    * exceeds BOTH caps and its pairs are dropped BY DESIGN — any
    * df-capped scheme bounds an m-doc near-identical cluster's O(m²)
    * pair explosion this way (the keeper/cluster queries, not the pair
    * reporter, are the scale-correct tool there). Indel-type edits
    * shift segment boundaries and void the pigeonhole guarantee; such
    * pairs rely on source 1.
    *
    * Shape: two capped-posting pair joins (window + equi-join each, on
    * the shingle / segment key), UNION'd and deduped, then two
    * hash-joins back to the (id, lang, band, prefix) projection, banded
    * levenshtein last. Levenshtein is the engine-exact unit-cost DP in
    * both Spark and DuckDB, so the distances hash-match as plain ints. */
  def editNearDup(spark: SparkSession, dir: String): DataFrame = {
    // Candidates come from the shared df-capped shingle index (the same
    // materialization the jaccard/containment family reuses),
    // NOT from a (lang, length-band) self-join: the round-9 sf1 slope
    // probe measured the band-blocked form at 77.8× for a ×10 row step
    // (linear would be 10×) — length bands are content-blind, so block
    // occupancy grows linearly with the corpus and within-block pairs
    // quadratically. Content-keyed candidates keep pair fan-out bounded
    // by DF_CAP² per shingle at any corpus size. Contract: a reported
    // pair must share ≥1 sub-cap shingle AND sit in the same (lang,
    // length-band) AND pass the banded prefix edit-distance gate — the
    // shingle requirement is the scale bound, documented recall trade.
    // (lang, band) ride the posting rows from the SAME documents scan and
    // gate the candidate self-joins directly (round 15): a reported pair
    // must sit in one (lang, length-band) block — the verify join already
    // requires it — so pairs straddling blocks are pruned BEFORE they emit
    // fanout rows or pass through the distinct, exactly like the jaccard
    // size gate (every gated-out pair would fail the verify join's
    // equality anyway: same rows, oracle unchanged). Costs two extra
    // grouping-key bytes per posting row; no extra join — the metadata
    // comes from the document row the shingles explode out of.
    val posts = docsParallel(spark, dir).select(col("doc_id"), col("lang"),
      expr(s"n_chars DIV $EDIT_BAND").as("band"),
      explode(graft.functions.DistinctLongs.distinctLongs(
        shingleHashesFast(col("text")))).as("sh"))
    val capped = NearDup.cappedPostings(posts, "sh", DF_CAP)
    // SHUFFLE_HASH for the same reason as NearDup.cappedPairStats: the
    // per-key groups are ≤ DF_CAP rows and nothing downstream needs the
    // SMJ sort order — the sorts were the join stages' dominant cost
    val primary = capped.as("ca").hint("shuffle_hash").join(capped.as("cb"),
        col("ca.sh") === col("cb.sh") && col("ca.doc_id") < col("cb.doc_id") &&
          col("ca.lang") === col("cb.lang") && col("ca.band") === col("cb.band"))
      .select(col("ca.doc_id").as("d1"), col("cb.doc_id").as("d2"))
    val d = documents(spark, dir).select(col("doc_id"), col("lang"),
      expr(s"n_chars DIV $EDIT_BAND").as("band"),
      substring(col("text"), 1, EDIT_PFX).as("pfx"))
    // secondary source: pigeonhole prefix segments, df-capped on the
    // (segment index, segment text) key — "si#seg" as one string key so
    // the shared cappedPostings hot-key cap applies unchanged
    val segs = (0 until EDIT_SEGS).map { i =>
      val (start, len) = segBounds(i)
      concat_ws("#", lit(i), substring(col("pfx"), start, len))
    }
    val segCapped = NearDup.cappedPostings(
      d.select(col("doc_id"), col("lang"), col("band"),
        explode(array(segs: _*)).as("segk")),
      "segk", DF_CAP)
    val secondary = segCapped.as("sa").hint("shuffle_hash").join(segCapped.as("sb"),
        col("sa.segk") === col("sb.segk") && col("sa.doc_id") < col("sb.doc_id") &&
          col("sa.lang") === col("sb.lang") && col("sa.band") === col("sb.band"))
      .select(col("sa.doc_id").as("d1"), col("sb.doc_id").as("d2"))
    val cand = primary.union(secondary).distinct()
    // sortedSmall: the sort's child is the candidate join + banded
    // edit-distance verification — the query's dominant cost — and a
    // plain orderBy would run it twice (boundary sample + real pass)
    Materializer.sortedSmall(
      cand
        .join(d.as("a"), col("d1") === col("a.doc_id"))
        .join(d.as("b"), col("d2") === col("b.doc_id") &&
          col("a.lang") === col("b.lang") && col("a.band") === col("b.band"))
        // 3-arg threshold form: banded O(k·n) DP with early abandon (returns
        // -1 past the threshold) instead of the full O(n·m) table — the
        // per-pair cost cap that matters when blocks are thousands wide
        .withColumn("dist", levenshtein(col("a.pfx"), col("b.pfx"), EDIT_T))
        .filter(col("dist") >= 0 && col("dist") <= EDIT_T)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.lang").as("lang"), col("dist")),
      "doc_a", "doc_b")
  }

  val editNearDupSql: String = {
    val segSelects = (0 until EDIT_SEGS).map { i =>
      val (start, len) = segBounds(i)
      s"SELECT doc_id, $i || '#' || substring(pfx, $start, $len) AS segk FROM d"
    }.mkString("\n  UNION ALL ")
    s"""WITH ex AS ($sqlShingleIndex),
       |capped AS (SELECT doc_id, sh FROM (
       |  SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM ex)
       |  WHERE df <= $DF_CAP),
       |d AS (
       |  SELECT doc_id, lang, n_chars // $EDIT_BAND AS band,
       |         substring(text, 1, $EDIT_PFX) AS pfx
       |  FROM documents),
       |segp AS ($segSelects),
       |segcap AS (SELECT doc_id, segk FROM (
       |  SELECT doc_id, segk, count(*) OVER (PARTITION BY segk) AS df FROM segp)
       |  WHERE df <= $DF_CAP),
       |cand AS (SELECT DISTINCT d1, d2 FROM (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT sa.doc_id, sb.doc_id
       |  FROM segcap sa JOIN segcap sb
       |    ON sa.segk = sb.segk AND sa.doc_id < sb.doc_id))
       |SELECT c.d1 AS doc_a, c.d2 AS doc_b, a.lang AS lang,
       |       CAST(levenshtein(a.pfx, b.pfx) AS INT) AS dist
       |FROM cand c
       |JOIN d a ON c.d1 = a.doc_id
       |JOIN d b ON c.d2 = b.doc_id AND a.lang = b.lang AND a.band = b.band
       |WHERE levenshtein(a.pfx, b.pfx) <= $EDIT_T
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -------------------------------------------- normalized exact dedup
  /** Normalization-hash dedup — exact dedup after case folding,
    * punctuation stripping, and whitespace collapse: catches the
    * re-encoded copies plain [[exactDedup]] misses (casing changes,
    * smart-quote/punct mutations, reflowed whitespace) while staying a
    * single hash-shuffle — the cheap middle rung between exact and
    * shingle near-dup. Output mirrors [[exactDedup]]'s per-doc dedup
    * DECISION (keeper = min doc per norm group, is_dup flag), plus how
    * many DISTINCT raw byte-forms the doc's group folds together
    * (n_exact_variants > 1 ⇒ normalization did real work — the column
    * that separates this from exactDedup). lower() on this corpus is
    * ASCII, where both engines agree. The normalization runs as the
    * single-pass byte kernel [[graft.functions.NormalizeAsciiExpr]] —
    * the regex chain it replaces (same transform, pinned bit-exact by
    * NormalizeSpec; the DuckDB oracle keeps the regex form) profiled
    * at ~75 µs/doc, 30/33 executor threads inside java.util.regex
    * (round-13 sf10: 63.8 s → kernel re-measured below). */
  def normDedup(spark: SparkSession, dir: String): DataFrame = {
    val norm = graft.functions.TextNorm.normalizeAscii(col("text"))
    val n = documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("exact_hash"),
        md5(norm).as("norm_hash"))
    // group stats as a second aggregate joined back (never a window
    // countDistinct, which Spark lacks): the group table is ≤ |docs|
    // rows of two hashes + two longs
    val groups = n.groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("keeper_id"),
        countDistinct(col("exact_hash")).as("n_exact_variants"))
    n.join(groups, "norm_hash")
      .select(col("doc_id"), col("keeper_id"),
        (col("doc_id") =!= col("keeper_id")).cast("int").as("is_dup"),
        col("n_exact_variants"))
      .orderBy("doc_id")
  }

  val normDedupSql: String =
    """WITH n AS (
      |  SELECT doc_id, md5(text) AS exact_hash,
      |         md5(trim(regexp_replace(
      |           regexp_replace(lower(text), '[^a-z0-9 \t\n\f\r]', '', 'g'),
      |           '[ \t\n\f\r]+', ' ', 'g'))) AS norm_hash
      |  FROM documents),
      |g AS (SELECT norm_hash, min(doc_id) AS keeper_id,
      |             CAST(count(DISTINCT exact_hash) AS BIGINT) AS n_exact_variants
      |      FROM n GROUP BY 1)
      |SELECT doc_id, keeper_id,
      |       CAST(doc_id != keeper_id AS INT) AS is_dup, n_exact_variants
      |FROM n JOIN g USING (norm_hash)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------- cross-source duplication matrix
  /** Cross-source duplication matrix — for every source pair (a ≤ b),
    * how many duplicated-content pairs span them: the crawl-planning
    * view that says which sources copy from each other (mirror sites,
    * syndication) vs which merely self-duplicate. NO pair join over
    * docs: per content-hash group the per-source counts are aggregated
    * first, and pair counts are ARITHMETIC on those counts (ca·cb
    * cross-source, C(n,2) within) — the pair space never materializes,
    * so a million-copy group costs one row per source it touches.
    *
    * One corpus scan: each hash group collects its ≤|S| (source, count)
    * entries and emits its (a ≤ b) source pairs in place, so the fan-out
    * per group is the self-join's without a second scan to join against.
    * The diagonal is emitted even at zero pairs so every source reaches
    * the (a, b) aggregate; that ≤|S|²-row aggregate is then collected
    * into one row and expanded into the full a ≤ b matrix with explicit
    * zeros ("no cross-source duplication" is a finding, not an empty
    * result), sorted in that one task. Null texts share no content and
    * null sources pair with nothing, as in the SQL oracle's join. */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val hs = documents(spark, dir)
      .filter(col("source").isNotNull)
      .select(md5(col("text")).as("h"), col("source"))
      .groupBy(col("h"), col("source")).agg(count(lit(1)).as("c"))
    val m = hs.groupBy(col("h"))
      .agg(collect_list(struct(col("source"), col("c"))).as("sc"))
      .select(inline(expr(
        """flatten(transform(sc, x -> transform(filter(sc, y -> y.source >= x.source),
          |  y -> named_struct('source_a', x.source, 'source_b', y.source, 'pairs',
          |    CASE WHEN h IS NULL THEN 0L
          |         WHEN x.source = y.source THEN x.c * (x.c - 1) div 2
          |         ELSE x.c * y.c END))))""".stripMargin)))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("pairs")).as("n_dup_pairs"),
        count_if(col("pairs") > 0).as("n_groups"))
    // at most |sources|² cells: one row, one task — no copy, no range sort
    // (see Materializer.sortedSmall). try_element_at: a pair that shares
    // no group has no cell, and element_at throws on a missing key
    m.coalesce(1)
      .agg(collect_list(struct(col("source_a"), col("source_b"),
        col("n_dup_pairs"), col("n_groups"))).as("cells"))
      .select(
        expr("array_sort(transform(filter(cells, x -> x.source_a = x.source_b), x -> x.source_a))").as("s"),
        expr("""map_from_entries(transform(cells, x -> struct(
          |  named_struct('a', x.source_a, 'b', x.source_b), struct(x.n_dup_pairs, x.n_groups))))""".stripMargin).as("cell"))
      .select(inline(expr(
        """flatten(transform(s, a -> transform(filter(s, b -> b >= a),
          |  b -> named_struct('source_a', a, 'source_b', b,
          |    'n_dup_pairs', coalesce(try_element_at(cell, named_struct('a', a, 'b', b)).n_dup_pairs, 0L),
          |    'n_groups', coalesce(try_element_at(cell, named_struct('a', a, 'b', b)).n_groups, 0L)))))""".stripMargin)))
      .orderBy("source_a", "source_b")
  }

  val crossSourceDupsSql: String =
    """WITH hs AS (
      |  SELECT md5(text) AS h, source, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |m AS (
      |  SELECT source_a, source_b, CAST(sum(pairs) AS BIGINT) AS n_dup_pairs,
      |         CAST(count(*) AS BIGINT) AS n_groups
      |  FROM (SELECT a.source AS source_a, b.source AS source_b,
      |               CASE WHEN a.source = b.source THEN a.c * (a.c - 1) // 2
      |                    ELSE a.c * b.c END AS pairs
      |        FROM hs a JOIN hs b ON a.h = b.h AND a.source <= b.source)
      |  WHERE pairs > 0 GROUP BY 1, 2),
      |s AS (SELECT DISTINCT source FROM documents)
      |SELECT x.source AS source_a, y.source AS source_b,
      |       coalesce(n_dup_pairs, 0) AS n_dup_pairs,
      |       coalesce(n_groups, 0) AS n_groups
      |FROM s x JOIN s y ON x.source <= y.source
      |LEFT JOIN m ON x.source = m.source_a AND y.source = m.source_b
      |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------ dedup savings
  /** Token-weighted dedup savings per source — what exact dedup BUYS:
    * total tokens vs tokens after keeping one doc per content-hash
    * group (keeper = the group's min doc_id — kept tokens are the
    * keeper's, the same decision [[exactDedup]] emits), with the
    * savings fraction. The budget number a dedup pass is judged by:
    * doc counts say how many rows vanish, token savings say how much
    * compute/storage the training run actually gets back. One scan
    * (codegen'd token count), one content-hash aggregate, one
    * source rollup. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val g = documents(spark, dir)
      .select(col("source"), md5(col("text")).as("h"),
        col("doc_id"), tokenCountFast(col("text")).as("nt"))
      .groupBy(col("source"), col("h"))
      // min_by is hash-aggregable and deterministic here (doc_id unique)
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tok_all"),
        min_by(col("nt"), col("doc_id")).as("keep_nt"))
    // at most |sources| rows: sorted in one task (see
    // Materializer.sortedSmall for why no copy and no range sort)
    g.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(col("tok_all")).as("n_tokens"),
        sum(col("keep_nt")).as("n_tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        col("n_tokens"), col("n_tokens_kept"),
        (lit(1.0) - col("n_tokens_kept").cast("double") / col("n_tokens"))
          .as("savings_frac"))
      .coalesce(1).orderBy("source")
  }

  val dedupSavingsSql: String =
    s"""WITH d AS (SELECT source, md5(text) AS h, doc_id,
       |             CAST(len(${sqlTokens("text")}) AS BIGINT) AS nt
       |           FROM documents),
       |g AS (SELECT source, h, CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(nt) AS BIGINT) AS tok_all,
       |             arg_min(nt, doc_id) AS keep_nt
       |      FROM d GROUP BY 1, 2)
       |SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |       CAST(count(*) AS BIGINT) AS n_unique,
       |       CAST(sum(tok_all) AS BIGINT) AS n_tokens,
       |       CAST(sum(keep_nt) AS BIGINT) AS n_tokens_kept,
       |       CAST(1.0 AS DOUBLE) - CAST(sum(keep_nt) AS DOUBLE) / sum(tok_all)
       |         AS savings_frac
       |FROM g GROUP BY 1 ORDER BY source""".stripMargin

  // --------------------------------------- threshold-sensitivity curve
  /** Near-dup threshold calibration curve — candidate-pair counts per
    * jaccard decile over the SAME df-capped candidate space the
    * production near-dup queries gate at [[JACCARD_T]]: the histogram
    * that says where the threshold sits in the score distribution. A
    * threshold inside a dense decile is unstable (small score drift
    * moves many pairs across it); a healthy planted-dup corpus shows
    * the bimodal shape — background mass in the low deciles, dups at
    * the top, empty middle. Reuses the shared materialized capped
    * index; the curve itself is one ≤10-row aggregate, and the
    * cumulative tail runs over that CONSTANT-size relation. */
  def dedupSweep(spark: SparkSession, dir: String): DataFrame = {
    val st = NearDup.cappedPairStats(shingleIndex(spark, dir), "sh", DF_CAP,
      col("a.doc_id") < col("b.doc_id"),
      "d1", "d2")
    val b = st.select(least(floor(
        (col("common").cast("double") / (col("n1") + col("n2") - col("common"))) * 10)
        .cast("int"), lit(9)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    b.withColumn("n_pairs_at_or_above", sum(col("n_pairs")).over(w))
      .select(col("bucket"), (col("bucket").cast("double") / 10.0).as("jaccard_lo"),
        col("n_pairs"), col("n_pairs_at_or_above"))
      .orderBy("bucket")
  }

  val dedupSweepSql: String =
    s"""WITH ex AS ($sqlShingleIndex),
       |capped AS (SELECT doc_id, sh FROM (
       |  SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM ex)
       |  WHERE df <= $DF_CAP),
       |sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY 1),
       |cand AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
       |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (SELECT least(CAST(floor(
       |        (CAST(common AS DOUBLE) / (s1.n + s2.n - common)) * 10) AS INT), 9) AS bucket
       |      FROM cand JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id),
       |h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs FROM j GROUP BY 1)
       |SELECT CAST(bucket AS INT) AS bucket,
       |       CAST(bucket AS DOUBLE) / 10.0 AS jaccard_lo, n_pairs,
       |       CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |         AS n_pairs_at_or_above
       |FROM h ORDER BY bucket""".stripMargin

  // ------------------------------------------------ split-leakage audit
  /** Train/eval split-leakage audit — the near-dup pairs that CROSS the
    * content-hash split: a test doc whose near-duplicate landed in
    * train leaks the benchmark even though no doc is shared verbatim
    * (exact copies co-split by construction of the content-hash split —
    * near-copies do NOT, and this is the query that finds them; the
    * standard "dedup before you split" failure). Complements
    * [[decontaminate]] (per-doc shingle overlap vs the eval bucket)
    * with explicit cross-split PAIRS at the near-dup threshold, over
    * ALL split boundaries (train/val leaks matter for early stopping
    * too). Composes the shared df-capped candidate core with the
    * `q_hash_split` assignment — the split relation is a corpus-sized
    * scan-local projection, so the audit costs one near-dup run + two
    * un-hinted equi-joins on doc_id (AQE broadcasts the pair list when
    * it is small enough; the split side never carries a hint). */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val split = when(col("h") <= 7, "train").when(col("h") === 8, "val")
      .otherwise("test")
    val sp = documents(spark, dir)
      .select(col("doc_id"), pmod(charHashFast(col("text")), lit(10)).as("h"))
      .select(col("doc_id"), split.as("split"))
    // sp is one row PER DOCUMENT — corpus-sized, never broadcast-hinted
    // (at 100× the corpus the build side would OOM the driver). The pair
    // list is the small side here; the joins stay un-hinted so AQE
    // broadcasts the pair list when its runtime size allows and falls
    // back to a shuffled equi-join on doc_id otherwise.
    // sortedSmall: the sort's child re-derives the corpus-wide split
    // hash (a full text scan) — a plain orderBy would run it twice
    Materializer.sortedSmall(
      ngramJaccardUnsorted(spark, dir)
        .join(sp.select(col("doc_id").as("d1"), col("split").as("split_1")), "d1")
        .join(sp.select(col("doc_id").as("d2"), col("split").as("split_2")), "d2")
        .filter(col("split_1") =!= col("split_2"))
        .select(col("d1"), col("d2"), col("jaccard"), col("split_1"), col("split_2")),
      "d1", "d2")
  }

  val splitLeakageSql: String =
    s"""WITH pairs AS ($ngramJaccardSql),
       |sp AS (SELECT doc_id,
       |         CASE WHEN ${sqlCharHash("text")} % 10 <= 7 THEN 'train'
       |              WHEN ${sqlCharHash("text")} % 10 = 8 THEN 'val'
       |              ELSE 'test' END AS split
       |       FROM documents)
       |SELECT d1, d2, jaccard, s1.split AS split_1, s2.split AS split_2
       |FROM pairs JOIN sp s1 ON d1 = s1.doc_id JOIN sp s2 ON d2 = s2.doc_id
       |WHERE s1.split != s2.split
       |ORDER BY d1, d2""".stripMargin

  // ------------------------------------------------ shard-stitch audit
  /** Boundary k-gram width (tokens). */
  private val STITCH_K = 8

  /** Shard-stitch detection — fragments of ONE original document that
    * entered the corpus as separate rows (chunked ingestion, paginated
    * crawls): doc A whose LAST [[STITCH_K]]-token k-gram equals doc B's
    * FIRST — the seam where B continues A. The pair (A, B) is ordered
    * (tail matches head), so chains of 3+ fragments come out as
    * consecutive edges. Catches a case every symmetric near-dup misses:
    * two halves of one document share NO shingles beyond the seam and
    * score ≈ 0 jaccard.
    *
    * Shape: one scan projecting each doc to its (head, tail) boundary
    * hashes — two longs per doc, the cheapest index in the suite — then
    * a df-capped hash equi-join (a boilerplate ending shared by k docs
    * would fan out k², the same stop-key bound as the shingle index).
    * Boundary hashes are the positional-k-gram formula of
    * [[dupSpans]], so the oracle folds the identical arithmetic. */
  def shardStitch(spark: SparkSession, dir: String): DataFrame = {
    val kg = docsParallel(spark, dir)
      .select(col("doc_id"), kgramHashesFast(col("text"), STITCH_K).as("kh"),
        tokenCountFast(col("text")).as("n_tokens"))
      .filter(size(col("kh")) >= 1)
      .select(col("doc_id"), col("n_tokens"),
        element_at(col("kh"), 1).as("head"),
        element_at(col("kh"), -1).as("tail"))
    // df-caps via agg + broadcast-anti over the materialized head/tail
    // table, not two count windows: the window form shuffled and sorted
    // the whole table TWICE (once per partition key) to attach counts
    // whose hot-key sets are tiny — the same cost NearDup.cappedPostings
    // removed from the shingle family. kg is materialized first so the
    // text scan + k-gram hashing runs once; the hot sets and both
    // self-join sides re-read the small parquet. BOTH hot sets come out
    // of ONE aggregate pass (round 14): the head and tail keys unpivot
    // to (side, key) rows scan-locally, so one shuffle + one tiny
    // materialized table replaces two separate aggregate jobs + writes
    // over the same input.
    val kgm = Materializer.materialize(kg)
    val hot = Materializer.materialize(
      kgm.select(explode(array(
          struct(lit(0).as("side"), col("head").as("key")),
          struct(lit(1).as("side"), col("tail").as("key")))).as("r"))
        .select(col("r.side").as("side"), col("r.key").as("key"))
        .groupBy(col("side"), col("key")).agg(count(lit(1)).as("df"))
        .filter(col("df") > DF_CAP)
        .select(col("side"), col("key")))
    val capped = kgm
      .join(hot.filter(col("side") === 0).select(col("key").as("head")),
        Seq("head"), "left_anti")
      .join(hot.filter(col("side") === 1).select(col("key").as("tail")),
        Seq("tail"), "left_anti")
    // sortedSmall: the sort's child is the boundary self-join — a plain
    // orderBy would run it twice (boundary sample + real pass)
    Materializer.sortedSmall(
      capped.as("a").join(capped.as("b"),
          col("a.tail") === col("b.head") && col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("left_doc"), col("b.doc_id").as("right_doc"),
          col("a.tail").as("boundary_hash"),
          col("a.n_tokens").as("left_tokens"), col("b.n_tokens").as("right_tokens")),
      "left_doc", "right_doc")
  }

  val shardStitchSql: String =
    s"""WITH t AS (SELECT doc_id, ${sqlTokenHashes(sqlTokens("text"))} AS th FROM documents),
       |kg AS (SELECT doc_id, CAST(len(th) AS BIGINT) AS n_tokens,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), th[1:$STITCH_K]),
       |           (h, c) -> (h*31 + c) % ${graft.functions.TextHash.P}) AS head,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), th[len(th)-${STITCH_K - 1}:len(th)]),
       |           (h, c) -> (h*31 + c) % ${graft.functions.TextHash.P}) AS tail
       |       FROM t WHERE len(th) >= $STITCH_K),
       |capped AS (SELECT doc_id, n_tokens, head, tail FROM (
       |  SELECT *, count(*) OVER (PARTITION BY head) AS hdf,
       |            count(*) OVER (PARTITION BY tail) AS tdf FROM kg)
       |  WHERE hdf <= $DF_CAP AND tdf <= $DF_CAP)
       |SELECT a.doc_id AS left_doc, b.doc_id AS right_doc,
       |       a.tail AS boundary_hash,
       |       a.n_tokens AS left_tokens, b.n_tokens AS right_tokens
       |FROM capped a JOIN capped b
       |  ON a.tail = b.head AND a.doc_id != b.doc_id
       |ORDER BY left_doc, right_doc""".stripMargin

  // --------------------------------------------- best-keeper selection
  /** Quality-aware keeper selection — [[dedupClusters]] (and the exact
    * dedup) keep the MIN-ID member per duplicate group, which is the
    * right deterministic convention for bookkeeping but throws away
    * quality: production dedup keeps the BEST member (highest quality
    * score, ties to the smaller id). Emits, per near-dup cluster, both
    * keepers and the quality delta between them in micro-units — the
    * measured value of quality-aware selection over naive-id selection.
    *
    * Cost: cluster labels (bounded-round label propagation over the
    * pair graph) + one quality scan over MEMBER docs only (semi-join
    * pruned — the quality expression never runs over the non-clustered
    * corpus), + a |members| window. */
  def bestKeeper(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
      .select(col("d").as("doc_id"), col("lbl").as("cluster_id"))
    val scored = documents(spark, dir)
      .join(labels, "doc_id")  // semi-shaped: only cluster members scored
      .select(col("doc_id"), col("cluster_id"),
        floor(TextOps.qualityScoreOf(col("text")) * 1000000.0 + lit(0.5))
          .cast("long").as("q_mu"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("q_mu").desc, col("doc_id").asc)
    // sortedSmall: the sort's child re-scans documents and re-scores
    // quality — a plain orderBy would run it twice
    Materializer.sortedSmall(
      scored
        .withColumn("rk", row_number().over(w))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          min(col("doc_id")).as("min_keeper"),
          min(when(col("rk") === 1, col("doc_id"))).as("best_keeper"),
          min(when(col("rk") === 1, col("q_mu"))).as("best_q_mu"),
          min(when(col("doc_id") === col("cluster_id"), col("q_mu"))).as("min_q_mu"))
        .select(col("cluster_id"), col("n_members"), col("min_keeper"),
          col("best_keeper"), col("best_q_mu"),
          (col("best_q_mu") - col("min_q_mu")).as("q_gain_mu")),
      "cluster_id")
  }

  val bestKeeperSql: String =
    s"""WITH lbl AS (SELECT doc_id, cluster_id FROM ($dedupClustersSql)),
       |t AS (SELECT d.doc_id, cluster_id, d.text, ${sqlTokens("d.text")} AS toks,
       |             length(d.text) AS nc
       |      FROM documents d JOIN lbl ON d.doc_id = lbl.doc_id),
       |scored AS (
       |  SELECT doc_id, cluster_id,
       |         CAST(floor((${TextOps.sqlQualityOf}) * 1000000.0 + 0.5) AS BIGINT) AS q_mu
       |  FROM t),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
       |         ORDER BY q_mu DESC, doc_id ASC) AS rk FROM scored)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |       min(doc_id) AS min_keeper,
       |       min(CASE WHEN rk = 1 THEN doc_id END) AS best_keeper,
       |       min(CASE WHEN rk = 1 THEN q_mu END) AS best_q_mu,
       |       CAST(min(CASE WHEN rk = 1 THEN q_mu END)
       |            - min(CASE WHEN doc_id = cluster_id THEN q_mu END) AS BIGINT) AS q_gain_mu
       |FROM rk GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  // ------------------------------------------- leakage-safe splitting
  /** Leakage-safe train/val/test assignment — the FIX for what
    * [[splitLeakage]] audits: a per-document hash split strands near-
    * duplicates on opposite sides of the train/eval fence (eval
    * contamination); splitting by the near-dup CLUSTER key instead puts
    * every member of a component in the same split by construction.
    * Group key = the doc's connected-component label from
    * [[dedupClusters]] (its own id for singletons); the split hash is
    * engine-neutral modular arithmetic over the key (mod-first so every
    * intermediate stays far below 2^63 at any corpus size). The output
    * carries `cross_pairs` — near-dup pairs spanning splits — which this
    * assignment provably zeroes and the oracle re-counts.
    *
    * Scale: one left join of docs against the cluster-node label table,
    * then a scan-local split projection. The label table is the
    * pair-graph's nodes only — smaller than the corpus but still
    * corpus-PROPORTIONAL at a realistic dup rate, so the join is
    * un-hinted: AQE broadcasts it only when its runtime size allows. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
      .select(col("d"), col("lbl").as("cluster_id"))
    val grouped = documents(spark, dir)
      .select(col("doc_id"), tokenCountFast(col("text")).as("n_tokens"))
      .join(labels, col("doc_id") === col("d"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cluster_id"), col("doc_id")).as("gk"))
    val splitCol = (col("gk") % 1000007L) * 1000003L % 1000007L % 10L
    val assigned = grouped.select(col("doc_id"), col("n_tokens"), col("gk"),
      when(splitCol <= 7L, "train").when(splitCol === 8L, "val")
        .otherwise("test").as("split"))
    // the scored pair relation is already on disk from the labeling
    // pass above — the cross-split count re-reads it directly (no sort,
    // no second copy)
    val pairs = ngramJaccardUnsorted(spark, dir).select(col("d1"), col("d2"))
    val cross = pairs
      .join(assigned.select(col("doc_id").as("d1"), col("split").as("s1")), "d1")
      .join(assigned.select(col("doc_id").as("d2"), col("split").as("s2")), "d2")
      .filter(col("s1") =!= col("s2"))
      .agg(count(lit(1)).as("cross_pairs"))
    // sortedSmall: the sort's child re-scans documents (token counts +
    // split assignment) — a plain orderBy would run it twice
    Materializer.sortedSmall(
      assigned.groupBy(col("split"))
        .agg(countDistinct(col("gk")).as("n_groups"),
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(cross)),
      "split")
  }

  val leakageSafeSplitSql: String =
    s"""WITH lbl AS (SELECT doc_id AS d, cluster_id FROM ($dedupClustersSql)),
       |grouped AS (
       |  SELECT doc_id, CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens,
       |         coalesce(cluster_id, doc_id) AS gk
       |  FROM documents LEFT JOIN lbl ON doc_id = d),
       |assigned AS (
       |  SELECT doc_id, n_tokens, gk,
       |    CASE WHEN (gk % 1000007) * 1000003 % 1000007 % 10 <= 7 THEN 'train'
       |         WHEN (gk % 1000007) * 1000003 % 1000007 % 10 = 8 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM grouped),
       |cross_p AS (
       |  SELECT CAST(count(*) AS BIGINT) AS cross_pairs
       |  FROM ($ngramJaccardSql) p
       |  JOIN assigned a1 ON p.d1 = a1.doc_id
       |  JOIN assigned a2 ON p.d2 = a2.doc_id
       |  WHERE a1.split != a2.split)
       |SELECT split, CAST(count(DISTINCT gk) AS BIGINT) AS n_groups,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens, cross_pairs
       |FROM assigned, cross_p
       |GROUP BY split, cross_pairs ORDER BY split""".stripMargin

  // ---------------------------------------------- corpus novelty curve
  /** Ingest-position deciles for the novelty curve. */
  private val NOVELTY_BUCKETS = 10

  /** Corpus-growth redundancy audit: for each ingest-order decile, the
    * fraction of distinct shingles NOT seen in any earlier document
    * ("novel"). A healthy growing corpus holds novelty roughly flat; a
    * crawl that has started re-crawling itself shows the curve collapse
    * in the late deciles — the standard go/no-go signal for whether
    * more ingest is adding information, measured BEFORE paying for
    * full dedup of the new data.
    *
    * Shapes: first-seer per shingle is one min-aggregate on the shared
    * materialized shingle index; novelty marks rejoin the index on the
    * same shingle key (shuffle reuse); the decile rollup is a broadcast
    * of one max scalar. Nothing pairwise — cost is O(|index|) however
    * redundant the corpus is (the pair-space queries above pay for
    * redundancy; the novelty audit must not). */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val idx = shingleIndex(spark, dir)
    val firstSeer = idx.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
    val perDoc = idx.join(firstSeer, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
    val maxId = perDoc.agg(max(col("doc_id")).as("mx"))
    // NOVELTY_BUCKETS rows: sorted in one task (see
    // Materializer.sortedSmall for why no copy and no range sort)
    perDoc.crossJoin(broadcast(maxId))
      .select(col("n_sh"), col("n_novel"),
        floor(col("doc_id") * NOVELTY_BUCKETS / (col("mx") + 1)).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sh")).as("n_shingles"),
        sum(col("n_novel")).as("n_novel"),
        floor(sum(col("n_novel")).cast("double") * 1000000.0 /
          sum(col("n_sh")).cast("double")).cast("long").as("novelty_ppm"))
      .coalesce(1).orderBy("bucket")
  }

  val ngramNoveltySql: String =
    s"""WITH idx AS ($sqlShingleIndex),
       |fs AS (SELECT sh, min(doc_id) AS first_doc FROM idx GROUP BY 1),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
       |         CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |  FROM idx JOIN fs USING (sh) GROUP BY 1),
       |mx AS (SELECT max(doc_id) AS mx FROM per)
       |SELECT CAST(floor(doc_id * $NOVELTY_BUCKETS / (mx + 1)) AS BIGINT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_sh) AS BIGINT) AS n_shingles,
       |       CAST(sum(n_novel) AS BIGINT) AS n_novel,
       |       CAST(floor(CAST(sum(n_novel) AS DOUBLE) * 1000000.0
       |                  / CAST(sum(n_sh) AS DOUBLE)) AS BIGINT) AS novelty_ppm
       |FROM per, mx GROUP BY 1 ORDER BY bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_best_keeper"    -> bestKeeper _,
    "q_leakage_safe_split" -> leakageSafeSplit _,
    "q_ngram_novelty"  -> ngramNovelty _,
    "q_norm_dedup"     -> normDedup _,
    "q_dedup_savings"  -> dedupSavings _,
    "q_dedup_sweep"    -> dedupSweep _,
    "q_cross_source_dups" -> crossSourceDups _,
    "q_split_leakage"  -> splitLeakage _,
    "q_shard_stitch"   -> shardStitch _,
    "q_edit_neardup"   -> editNearDup _,
    "q_dup_spans"      -> dupSpans _,
    "q_exact_dedup"    -> exactDedup _,
    "q_ngram_jaccard"  -> ngramJaccard _,
    "q_containment"    -> containment _,
    "q_minhash_lsh"    -> minhashLsh _,
    "q_simhash_pairs"  -> simhashPairs _,
    "q_dedup_clusters" -> dedupClusters _,
    "q_decontaminate"  -> decontaminate _,
    "q_incremental_neardup" -> incrementalNearDup _,
    "q_lsh_recall"     -> lshRecall _,
    "q_softdedup_weights" -> softDedupWeights _)

  val oracles: Map[String, String] = Map(
    "q_best_keeper"    -> bestKeeperSql,
    "q_leakage_safe_split" -> leakageSafeSplitSql,
    "q_ngram_novelty"  -> ngramNoveltySql,
    "q_norm_dedup"     -> normDedupSql,
    "q_dedup_savings"  -> dedupSavingsSql,
    "q_dedup_sweep"    -> dedupSweepSql,
    "q_cross_source_dups" -> crossSourceDupsSql,
    "q_split_leakage"  -> splitLeakageSql,
    "q_shard_stitch"   -> shardStitchSql,
    "q_edit_neardup"   -> editNearDupSql,
    "q_dup_spans"      -> dupSpansSql,
    "q_exact_dedup"    -> exactDedupSql,
    "q_ngram_jaccard"  -> ngramJaccardSql,
    "q_containment"    -> containmentSql,
    "q_minhash_lsh"    -> minhashLshSql,
    "q_simhash_pairs"  -> simhashPairsSql,
    "q_dedup_clusters" -> dedupClustersSql,
    "q_decontaminate"  -> decontaminateSql,
    "q_incremental_neardup" -> incrementalNearDupSql,
    "q_lsh_recall"     -> lshRecallSql,
    "q_softdedup_weights" -> softDedupWeightsSql)
}
