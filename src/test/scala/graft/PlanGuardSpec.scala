package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.scalatest.funsuite.AnyFunSuite

/** CI guard over every registered query's physical plan (VERDICT r1 #8):
  * the two canonical 100×-scale killers must never reappear —
  *
  *  - cartesian / nested-loop joins over unbounded sides (quadratic pair
  *    space), and
  *  - partition-less windows over unaggregated data (every row funnels
  *    through one task).
  *
  * Plans are inspected pre-AQE (`queryExecution.sparkPlan`) at sf0.001 —
  * structure, not statistics, is what's asserted, and AQE never
  * introduces a nested-loop join or a window that wasn't planned.
  */
class PlanGuardSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Queries where a BroadcastNestedLoopJoin is the DECLARED plan:
    * q_ann_bruteforce — the documented quadratic exactness baseline
    * (broadcast query subset × corpus, Similarity.scala);
    * q_ann_ivf / q_ivf_refine — corpus × broadcast centroid set: the
    * defining O(N·K) IVF assignment cost, linear in the corpus for
    * fixed K. */
  private val nljAllowed = Set("q_ann_bruteforce", "q_ann_ivf", "q_ivf_refine", "q_ivf_refine2",
    // q_knn_ivf: corpus x broadcast centroid set (the q_ann_ivf
    // assignment shape) under the kNN vote tail; q_hardneg_ivf and
    // q_retrieval_ivf embed the same assignment under their own tails
    "q_knn_ivf", "q_hardneg_ivf", "q_retrieval_ivf",
    // q_hybrid_rrf: the vector side broadcasts the 1-row query vector
    // across the corpus scan — the same declared q_ann_bruteforce shape
    "q_hybrid_rrf",
    // q_knn_classify: broadcast held-out query set × labeled corpus —
    // the q_ann_bruteforce exact-scan shape with a vote tail
    "q_knn_classify",
    // q_hard_negatives: broadcast anchor set × labeled corpus — the
    // same declared exact-scan shape, label-mismatch filtered
    "q_hard_negatives",
    // q_ann_sq8: 1-row per-dim min/max stats broadcast (quantization) +
    // broadcast query-code set × code table (the exact-scan baseline
    // over 4×-compressed codes)
    "q_ann_sq8",
    // q_ann_pq: query set × broadcast PQ codebook (the declared O(Q·K)
    // distance-table build — same centroid-broadcast shape as q_ann_ivf;
    // the ADC search itself is an equi-join on (subspace, code))
    "q_ann_pq",
    // q_ivf_balance: embeds the q_ann_ivf assignment (corpus ×
    // broadcast centroid set) + a 1-row totals broadcast over the
    // K-row cell counts
    "q_ivf_balance",
    // q_retrieval_eval: grades the exact-cosine ranking, so it embeds
    // the q_ann_bruteforce broadcast-query scan by definition
    "q_retrieval_eval",
    // q_label_centroids: a<b join over the |labels|-row centroid
    // aggregate — constant pair space by construction
    "q_label_centroids",
    // q_jl_projection: a<b join over the |queries|-subset only — the
    // declared bounded pair space of the distortion audit
    "q_jl_projection",
    // q_negative_pairs: 1-row corpus-size broadcast over the anchor
    // fan-out (Similarity.negativePairs)
    "q_negative_pairs",
    // q_drift_psi: 1-row (min,max)-day split-point broadcast over the
    // events scan (Relational.driftPsi)
    "q_drift_psi",
    // q_sketch_quantiles: constant 5-row quantile-spec broadcast over
    // the ≤(segments×4096)-row histogram relation (ScalePatterns)
    "q_sketch_quantiles",
    // q_benford: 1-row order-count broadcast over the 9-digit relation
    // (Relational.benfordDigits)
    "q_benford",
    // q_chi2_assoc: 1-row grand-total broadcast over the 25-cell
    // contingency relation (Relational.chi2Assoc)
    "q_chi2_assoc",
    // q_js_divergence: 1-row corpus-token-total broadcast over the
    // per-source token counts (CorpusOps.jsDivergence)
    "q_js_divergence",
    // q_skew_report: 1-row (N rows, K keys) totals broadcast over the
    // top-N hot-key slice (ScalePatterns.skewReport)
    "q_skew_report",
    // q_tfidf_terms: 1-row ln(N) broadcast over the tf⋈df relation
    // (CorpusOps.tfidfTerms)
    "q_tfidf_terms",
    // q_calendar_fill: 1-row (min,max) date-bounds broadcast under the
    // spine generator (Relational.calendarFill); q_moving_avg composes it
    "q_calendar_fill", "q_moving_avg")

  /** Queries whose NLJ must additionally broadcast an AGGREGATE (a
    * 1-row/few-row bound, not base data): q_above_avg_orders (global
    * average), q_quantiles_disc (stats row + band locate), the three
    * mismatch extractors + accuracy rollup (1-row max-batch-id snapshot
    * bound). */
  private val nljAggBounded = Set(
    "q_above_avg_orders", "q_quantiles_disc", "q_quantiles_cont",
    "q_session_cat_mismatch", "q_page_views_mismatch",
    // q_sql_comparison_accuracy is the SQL-text twin of
    // q_comparison_accuracy — identical 1-row max(batch_id) bound
    "q_engagement_mismatch", "q_comparison_accuracy",
    "q_sql_comparison_accuracy",
    "q_cms_heavy_hitters",
    // q_bm25: 1-row (N, Σdl) corpus stats broadcast; q_source_mix: 1-row
    // weight denominator broadcast — both the standard
    // global-aggregate-joined-back shape (CorpusOps.scala)
    "q_bm25", "q_source_mix",
    // q_basket_lift: 1-row order-count broadcast for the lift denominator;
    // q_dq_constraints: 1-row FK n_rows × 1-row violation-count bounds;
    // q_leakage_safe_split: 1-row cross-pair count broadcast onto the
    // 3-row split rollup (Dedup.leakageSafeSplit)
    "q_basket_lift", "q_dq_constraints", "q_leakage_safe_split",
    // q_important_stock: 1-row nation-total broadcast as the Q11 HAVING
    // threshold (TpchDecision.importantStock)
    "q_important_stock",
    // q_ngram_novelty: 1-row max-doc-id broadcast for decile bucketing
    "q_ngram_novelty",
    // q_ann_lsh / q_embedding_neardup: 1-row corpus-count broadcast
    // computing the adaptive LSH plane mask (Similarity.withNormBucket)
    "q_ann_lsh", "q_embedding_neardup",
    // q_lang_kappa: 1-row marginal-product broadcast onto the 1-row
    // agreement aggregate
    "q_lang_kappa",
    // q_ab_test: two 1-row arm aggregates joined for the z readout
    "q_ab_test",
    // q_range_join: the dense-grid bounds row is a cross of TWO 1-row
    // min/max aggregates (customer cents × supplier lookup bounds) —
    // ScalePatterns.rangeJoinBucketed
    "q_range_join",
    // q_kmv_overlap: the |types|²-row pair table (distinct-aggregate
    // bounded) OR-joins the hash set — broadcast of a tiny build side
    "q_kmv_overlap",
    // q_seasonal_profile: 1-row grand-total broadcast over the 168-cell
    // grid (TrafficAnalytics.seasonalProfile)
    "q_seasonal_profile",
    // q_unigram_logppl: 1-row corpus mean broadcast back over the
    // materialized per-doc nll table (Curation.unigramLogPpl)
    "q_unigram_logppl",
    // q_dsir_weights: 1-row smoothing-constant + 1-row score-mean
    // broadcasts over the materialized per-doc table (Curation.dsirWeights)
    "q_dsir_weights",
    // q_pmi_bigrams: 1-row (N unigrams, B bigrams) totals broadcast
    // over the supported-pair set (CorpusOps.pmiBigrams)
    "q_pmi_bigrams",
    // q_bigram_surprise: 1-row corpus score-mean broadcast over the
    // materialized per-doc table (CorpusOps.bigramSurprise)
    "q_bigram_surprise",
    // q_decayed_engagement: 1-row max-date anchor broadcast over the
    // event scan (Relational.decayedEngagement)
    "q_decayed_engagement",
    // q_funnel: the 4-row depth summary assembles four 1-row step
    // counts (TrafficAnalytics.funnel)
    "q_funnel",
    // q_quality_lift: 1-row corpus base-rate broadcast over the ≤10-row
    // score-bin aggregate (Curation.qualityLift)
    "q_quality_lift",
    // q_dormant_rich: 1-row average-balance broadcast over the customer
    // scan (the TPC-H Q22 scalar threshold — Relational.dormantRich)
    "q_dormant_rich")

  private def plans: Seq[(String, SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf).queryExecution.sparkPlan
    }

  private def hasAggBelow(p: SparkPlan): Boolean =
    p.collectFirst { case a: BaseAggregateExec => a }.isDefined

  /** Fact/corpus tables for the single-scan audit: a second scan of one
    * of these inside a single registered plan is a second full pass over
    * the dominant data at 100 TB. Dimension tables (region…part) are
    * exempt — re-scanning a broadcastable dim is free — and Materializer
    * read-backs don't count (the shared subtree executed exactly once,
    * at materialization; that is the POINT of the pattern). */
  private val factTables = Set("lineitem", "orders", "events", "documents", "embeddings")

  private def factScanCounts(p: SparkPlan): Map[String, Int] =
    p.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.toSeq.map(_.getName).collect {
          case n if n.endsWith(".parquet") => n.stripSuffix(".parquet")
        }
    }.flatten.filter(factTables).groupBy(identity).view.mapValues(_.size).toMap

  /** Queries whose multi-scan of a fact table is DECLARED — each entry
    * documents why the extra scan is semantic (a self-join over
    * different row subsets) or bounded, not an accident. Three declared
    * categories; what the audit FORBIDS is the fourth kind: the same
    * unfiltered subtree computed twice (the pre-r7 Q17 shape), whose fix
    * is Materializer. Scan counts are pre-AQE — at runtime ReuseExchange
    * additionally collapses identical duplicate subtrees (e.g. the
    * quantile band-stat scans), but the audit documents the plan-time
    * shape, which is what survives a stats misestimate. */
  private def declared(reason: String)(names: String*): Seq[(String, String)] =
    names.map(_ -> reason)

  private val multiScanAllowed: Map[String, String] = (
    declared("bounded batch side: the extra scan is the declared-bounded " +
      "query/eval subset (selective pushed filter) probing the corpus — " +
      "the ANN/decontamination operator contract; the corpus itself scans once")(
      // (r12: q_ivf_refine/q_ivf_refine2, then q_ann_bruteforce/
      // q_ann_ivf, left this list — the CellRank/ScoreAll/CellScore
      // kernels made assignment and probe search scan-local, so their
      // plans scan the corpus exactly once now)
      "q_ann_lsh", "q_ivf_balance",
      "q_ivf_probe_stats", "q_jl_projection", "q_knn_classify",
      "q_knn_ivf", "q_hardneg_ivf", "q_retrieval_ivf",
      "q_hard_negatives", "q_negative_pairs", "q_retrieval_eval",
      "q_hybrid_rrf", "q_decontaminate") ++
    declared("semantic self-join over disjoint/filtered row subsets " +
      "(pushed filters select different rows per scan — clicks vs " +
      "purchases, arm A vs B, blocked pair sides); a single scan would " +
      "need a materialized split for no byte savings since the subsets " +
      "partition the input")(
      "q_ab_test", "q_attribution", "q_multitouch_attribution", "q_funnel",
      "q_audience_overlap", "q_kmv_overlap", "q_set_ops_priorities",
      "q_semi_anti_customers", "q_merge_upsert", "q_dau_stickiness",
      "q_threeway_join", "q_skew_join",
      "q_lang_confusion",
      // (r15: q_waiting_orders, q_brand_affinity left this list — the
      // Q21 dominance-window rewrite and the collect_set pair
      // enumeration each scan their fact exactly once now)
      "q_embedding_neardup", "q_norm_dedup",
      "q_filter_cascade", "q_anomaly_days",
      // (r14: q_cross_source_dups, q_edit_neardup, q_split_leakage,
      // q_leakage_safe_split left this list — sortedSmall materializes
      // their small results before the final sort, so the range-sort
      // boundary sample no longer re-scans the fact table)
      "q_chi2_assoc") ++
    declared("bounded-aggregate join-back: the extra scans feed scalar / " +
      "low-cardinality bounds (global threshold, marginal totals, " +
      "constant band stats, fixed-size sketch) re-joined to the fact — " +
      "each bound pass prunes to the 1-2 columns it aggregates")(
      "q_above_avg_orders", "q_benford", "q_bm25", "q_calendar_fill",
      // (r15: q_drift_psi left this list — the materialized decile
      // thresholds leave one events scan in the registered plan)
      "q_cohort_retention", "q_decayed_engagement",
      "q_js_divergence", "q_lang_kappa",
      "q_length_histogram", "q_mad_outliers", "q_moving_avg",
      "q_quality_lift", "q_quantiles_cont", "q_quantiles_disc",
      "q_repetition_stats", "q_seasonal_profile", "q_skew_report",
      "q_target_encode", "q_top_supplier", "q_vocab_coverage",
      "q_winsorize", "q_cms_heavy_hitters", "q_dq_constraints",
      "q_label_centroids") ++
    declared("distinct-split contract (round 12): a sketch/count leg and " +
      "an exact-distinct leg aggregate the fact separately and join on " +
      "the low-cardinality group key — FUSED in one agg, Spark's " +
      "one-distinct plan carries the sketch buffer per distinct key " +
      "through the partial aggregate (measured 24.9x/decade at sf100; " +
      "q_approx_distinct sf10 320.98 -> 6.81 s split). Each leg prunes " +
      "to the 2 columns it aggregates; the agg-to-agg join is a few rows")(
      "q_approx_distinct", "q_approx_distinct_prod", "q_kmv_distinct")
  ).toMap

  test("single-fact-scan audit: no registered query scans a fact table twice undeclared") {
    // generalizes the Q2/Q11/Q17/Q20 zero-double-lineitem-scan pins
    // (r7) to the whole registry: every fact table appears at most once
    // per registered plan unless the query is on the documented
    // allowlist. Counted pre-AQE — ReuseExchange can rescue SOME
    // duplicate subtrees at runtime, but a plan that doesn't need the
    // rescue is the one that survives a stats misestimate at 100 TB.
    try {
      val violations = plans.flatMap { case (name, plan) =>
        val multi = factScanCounts(plan).filter(_._2 > 1)
        if (multi.nonEmpty && !multiScanAllowed.contains(name))
          Some(s"$name -> $multi")
        else None
      }
      assert(violations.isEmpty,
        s"undeclared multi-scans (restructure via Materializer or document in multiScanAllowed):\n${violations.mkString("\n")}")
      // the allowlist must not rot: every entry still multi-scans
      val stale = multiScanAllowed.keys.filter { name =>
        SparkEntry.queries.contains(name) &&
          factScanCounts(SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan)
            .forall(_._2 <= 1)
      }
      assert(stale.isEmpty, s"allowlist entries no longer multi-scan (remove them): $stale")
    } finally Materializer.clear()
  }

  test("no CartesianProduct in any registered query plan") {
    for ((name, plan) <- plans) {
      val cart = plan.collectWithSubqueries { case c: CartesianProductExec => c }
      assert(cart.isEmpty, s"$name plans a CartesianProduct:\n$plan")
    }
  }

  test("BroadcastNestedLoopJoin only where declared (exactness baselines / 1-row bounds)") {
    for ((name, plan) <- plans) {
      val nlj = plan.collectWithSubqueries { case j: BroadcastNestedLoopJoinExec => j }
      if (nljAggBounded(name))
        // the 1-row-bound cases must broadcast an aggregate, not base data
        nlj.foreach { j =>
          assert(j.children.exists(hasAggBelow),
            s"$name NLJ has no aggregate-bounded side:\n$j")
        }
      else if (!nljAllowed(name))
        assert(nlj.isEmpty, s"$name plans a BroadcastNestedLoopJoin:\n$plan")
    }
  }

  test("mismatch extractors never re-scan the fact table (materialized partials)") {
    // stream side, batch side, and the max-batch bound must all derive
    // from ONE (ws × key × batch_id) partial aggregate, materialized via
    // Materializer — so the registered plan reads only the materialized
    // partials (scanned during construction, exactly once) and the fact
    // table appears ZERO times. A fact scan here is the regression that
    // costs two extra full passes at 100 TB.
    try {
      for (name <- Seq("q_session_cat_mismatch", "q_page_views_mismatch", "q_engagement_mismatch")) {
        val plan = SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
        val factScans = plan.collectWithSubqueries {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.count(_.toString.contains("events"))
        assert(factScans == 0, s"$name re-scans events:\n$plan")
        assert(plan.toString.contains("graft-mat-"),
          s"$name does not read materialized partials:\n$plan")
      }
    } finally Materializer.clear()
  }

  /** Queries allowed a partition-less window: q_quantiles_disc's
    * cumulative count runs over the band-count aggregate, whose size is
    * the CONSTANT NBANDS (not |distinct keys|) — a bounded single-task
    * frame by construction. Everything else must either partition the
    * window or use orderBy().limit() (TakeOrderedAndProject), which is
    * distributed: a ranking window over a per-key aggregate still funnels
    * |distinct keys| rows through one task at 100 TB (the r3 q_skew_join
    * weak mark). */
  private val globalWindowAllowed = Set("q_quantiles_disc",
    // q_quantiles_cont: same constant-NBANDS band-count cumulative window
    "q_quantiles_cont",
    // q_dedup_sweep: cumulative tail over the CONSTANT ≤10-decile
    // histogram aggregate (Dedup.dedupSweep)
    "q_dedup_sweep",
    // q_zipf_fit: the rank window runs over an orderBy().limit(ZIPF_TOPR)
    // input — constant ≤ 100 rows by construction, fed by a distributed
    // TakeOrderedAndProject (CorpusOps.zipfFit)
    "q_zipf_fit",
    // q_hybrid_rrf: both rank windows run over orderBy().limit(RRF_POOL)
    // inputs — constant ≤ 20 rows by construction (Similarity.hybridRrf)
    "q_hybrid_rrf",
    // q_range_join: the cumulative window runs over the coarse-bucket
    // aggregate of the FIXED acctbal cent domain (~130 rows =
    // domain / 10⁴ — corpus-INDEPENDENT by construction; the fine
    // per-cent prefix window is bucket-partitioned). See
    // ScalePatterns.rangeJoinBucketed
    "q_range_join")

  test("no partition-less window outside the declared constant-size cases") {
    for ((name, plan) <- plans if !globalWindowAllowed(name)) {
      val bad = plan.collectWithSubqueries {
        case w: WindowExec if w.partitionSpec.isEmpty => w
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"$name plans a partition-less window (global single-task sort):\n${bad.headOption}")
    }
  }

  test("q_skew_join hot-key detection plans a distributed TakeOrderedAndProject") {
    val plan = SparkEntry.queries("q_skew_join")(spark, sf).queryExecution
    try {
      val top = plan.analyzed.toString
      // the registered plan reads the materialized hot set; the detection
      // subtree ran at construction — assert the construction-side shape
      // directly on the builder expression instead.
      val hotPlan = graft.operators.ScalePatterns.hotKeysPlan(spark, sf)
        .queryExecution.sparkPlan
      assert(hotPlan.collectFirst {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }.isDefined, s"hot-key detection is not TakeOrderedAndProject:\n$hotPlan")
      assert(hotPlan.collectWithSubqueries {
        case w: WindowExec => w
        case w: WindowGroupLimitExec => w
      }.isEmpty, s"hot-key detection still plans a window:\n$hotPlan")
      assert(top.nonEmpty)
    } finally Materializer.clear()
  }

  /** Queries whose broadcast() hint covers a DECLARED-small side that is
    * structurally a filtered/materialized base scan (no Aggregate/Limit
    * in the hinted subtree to prove the bound):
    *  - the ANN family broadcasts the query subset (`vec_id % QUERY_MOD`
    *    filter of embeddings) — the operator contract is a bounded query
    *    BATCH vs the corpus; a real deployment feeds a finite query set,
    *    the synthetic filter just stands in for it;
    *  - q_decontaminate broadcasts the eval bucket (eval sets are
    *    benchmarks, not corpora — declared in the scaladoc);
    *  - q_skew_join broadcasts the materialized hot-key set, which is
    *    TakeOrdered(HOT_N)-bounded at construction but reads back as an
    *    opaque graft-mat scan. */
  private val broadcastHintAllowed = Set(
    "q_ann_bruteforce", "q_ann_lsh", "q_ann_ivf", "q_ann_sq8", "q_ann_pq",
    "q_knn_classify", "q_knn_ivf", "q_hardneg_ivf", "q_retrieval_ivf",
    "q_hard_negatives", "q_retrieval_eval", "q_hybrid_rrf",
    "q_jl_projection", "q_mmr_diversify", "q_ivf_balance", "q_ivf_refine",
    "q_ivf_refine2", "q_pq_distortion", "q_negative_pairs",
    "q_decontaminate", "q_skew_join")

  /** Table scans that may sit un-bounded under a broadcast() hint: the
    * TPC-H dimension tables, declared broadcastable in Relational.scala.
    * Fact/corpus tables (lineitem, orders, events, documents,
    * embeddings) and Materializer read-backs (graft-mat-*, unbounded in
    * general) are NOT on this list — hinting one of those is the r6
    * verdict's driver-OOM shape. */
  private val dimTables = Set("region", "nation", "customer", "supplier", "part")

  private def isDimScan(
      lr: org.apache.spark.sql.execution.datasources.LogicalRelation): Boolean =
    lr.relation match {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        fs.location.rootPaths.forall { p =>
          dimTables.exists(d => p.getName == s"$d.parquet")
        }
      case _ => false
    }

  /** Grouping columns declared LOW-CARDINALITY (bounded independent of
    * corpus size): enum-like attributes, calendar buckets, and
    * constant-size derived keys. An Aggregate under a broadcast() hint
    * is bounded ONLY when it groups by nothing (1 row) or exclusively
    * by these — a per-document/per-user grouped aggregate is
    * corpus-sized and must NOT slip through as "bounded". */
  private val lowCardGroupCols = Set(
    // enum-like table attributes
    "event_type", "c_mktsegment", "o_orderpriority", "o_orderstatus",
    "l_returnflag", "l_linestatus", "source", "lang", "kind",
    "claimed_lang", "claimed", "predicted", "n_name", "r_name",
    "p_brand", "p_type",
    // calendar / bucket keys (calendar-bounded or constant-size domains
    // — a DATE grows with the time horizon, ~365 rows/year, never with
    // event volume)
    "iso_dow", "hod", "hour", "day", "band", "bucket", "decile", "quantile",
    "split", "seg", "cohort", "c0", "brand", "brand_a", "brand_b",
    "type_a", "type_b", "subspace", "cell", "arm", "stage")

  /** A hinted subtree is bounded when every leaf path crosses a 1-row /
    * low-cardinality Aggregate or a Limit before the exchange, or scans
    * only declared dimension tables / local relations. Unknown leaf
    * nodes are UNBOUNDED by default — a new scan type (e.g. a
    * DataSourceV2Relation) must be classified here before a hint over
    * it can pass. */
  private def hintBounded(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case a: Aggregate =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.flatMap(_.references.toSeq.map(_.name))
            .forall(lowCardGroupCols)
      case _: GlobalLimit => true
      case _: LocalLimit => true
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        isDimScan(lr)
      case _: LocalRelation => true
      case _: OneRowRelation => true
      case _: Range => true // spark.range: literal-bounded generator
      case other if other.children.isEmpty =>
        false // unknown leaf = unbounded until declared
      case other => other.children.forall(hintBounded)
    }
  }

  test("hintBounded rejects the removed scale-killer shapes (guard self-test)") {
    // The exact patterns VERDICT r6 flagged: a broadcast() over a
    // corpus-sized base-scan projection, and over a Materializer
    // read-back. If hintBounded ever stops rejecting these, the guard
    // above is green vacuously.
    import org.apache.spark.sql.functions.{broadcast, col, pmod}
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), pmod(col("doc_id"), org.apache.spark.sql.functions.lit(10)).as("h"))
    val hint = broadcast(docs).queryExecution.analyzed.collectFirst {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hint.isDefined && !hintBounded(hint.get.child),
      "guard no longer rejects a broadcast over a corpus-sized projection")
    try {
      val mat = Materializer.materialize(
        Tables.documents(spark, sf).select(col("doc_id")))
      val mhint = broadcast(mat).queryExecution.analyzed.collectFirst {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      assert(mhint.isDefined && !hintBounded(mhint.get.child),
        "guard no longer rejects a broadcast over a Materializer read-back")
    } finally Materializer.clear()
    // a CORPUS-CARDINALITY grouped aggregate is the subtle variant of
    // the same OOM shape (one row per document is still corpus-sized) —
    // it must NOT count as bounded just because an Aggregate node exists
    val perDoc = broadcast(Tables.documents(spark, sf)
      .groupBy(col("doc_id"))
      .agg(org.apache.spark.sql.functions.count(col("doc_id")).as("n")))
    val phint = perDoc.queryExecution.analyzed.collectFirst {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(phint.isDefined && !hintBounded(phint.get.child),
      "guard no longer rejects a broadcast over a per-document aggregate")
    // and the bounded shapes stay accepted: a 1-row aggregate and a dim scan
    val agg = broadcast(Tables.documents(spark, sf)
      .agg(org.apache.spark.sql.functions.count(col("doc_id")).as("n")))
    val ahint = agg.queryExecution.analyzed.collectFirst {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(ahint.isDefined && hintBounded(ahint.get.child),
      "guard started rejecting 1-row aggregate broadcasts")
    val dim = broadcast(Tables.nation(spark, sf)).queryExecution.analyzed.collectFirst {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(dim.isDefined && hintBounded(dim.get.child),
      "guard started rejecting dimension-table broadcasts")
  }

  test("broadcast() hints bound their build side (no corpus/fact-sized broadcasts)") {
    // The r6 verdict's one scale-killer: an explicit broadcast() whose
    // input is an unbounded relation (corpus-sized split map, pair-graph
    // label table) OOMs the driver at 100× even though AQE would have
    // planned it fine un-hinted. Assert every remaining hint is bounded.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    try {
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
           if !broadcastHintAllowed(name)) {
        val plan = fn(spark, sf).queryExecution.analyzed
        val hints = plan.collectWithSubqueries {
          case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
        }
        hints.foreach { h =>
          assert(hintBounded(h.child),
            s"$name broadcast()s an unbounded relation:\n${h.child}")
        }
      }
    } finally Materializer.clear()
  }

  test("TPC-H shapes: filters reach the scans, dims broadcast, top-k distributed") {
    // q_shipping_priority: all three input filters must be IN the
    // parquet scans (a regression to post-scan filters reads the full
    // fact table at 100 TB), and the final top-10 must plan as a
    // distributed TakeOrderedAndProject, not a global sort
    val q3 = graft.operators.Relational.shippingPriority(spark, sf)
      .queryExecution.sparkPlan
    val q3s = q3.toString
    assert(q3s.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"lineitem date filter not pushed:\n$q3s")
    assert(q3s.contains("LessThan(o_orderdate"), s"orders date filter not pushed:\n$q3s")
    assert(q3s.contains("EqualTo(c_mktsegment,BUILDING)"), s"segment filter not pushed:\n$q3s")
    assert(q3.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.isDefined, s"q3 top-k is not TakeOrderedAndProject:\n$q3s")

    // q_local_supplier: every dimension joins as a broadcast (the only
    // shuffle is lineitem⋈orders), and the year-range filter reaches
    // the orders scan
    val q5 = graft.operators.Relational.localSupplierVolume(spark, sf)
      .queryExecution.sparkPlan
    val q5s = q5.toString
    val bhj = q5.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.size >= 4, s"expected >=4 broadcast joins, got ${bhj.size}:\n$q5s")
    assert(q5s.contains("GreaterThanOrEqual(o_orderdate,1999-01-01"),
      s"orders year-range filter not pushed:\n$q5s")

    // q_late_orders (Q4 shape): the EXISTS must plan as a LEFT SEMI
    // join (one output row per order regardless of late-item fan-in),
    // and the quarter filter must reach the orders scan
    val q4 = graft.operators.Relational.priorityLateOrders(spark, sf)
      .queryExecution.sparkPlan
    val semi = q4.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semi.nonEmpty, s"q_late_orders does not plan a semi-join:\n$q4")
    assert(q4.toString.contains("GreaterThanOrEqual(o_orderdate,1997-07-01"),
      s"q4 quarter filter not pushed:\n$q4")

    // q_market_share (Q8 shape): every dimension (part, customer,
    // nation ×2, region, supplier) broadcasts — the only shuffle is
    // lineitem⋈orders — and the selective part-type filter reaches the
    // part scan
    val q8 = graft.operators.Relational.marketShare(spark, sf)
      .queryExecution.sparkPlan
    val q8bhj = q8.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(q8bhj.size >= 5, s"expected >=5 broadcast joins in q8, got ${q8bhj.size}:\n$q8")
    assert(q8.toString.contains("EqualTo(p_type,PROMO)"),
      s"q8 part-type filter not pushed:\n$q8")
    assert(q8.toString.contains("GreaterThanOrEqual(o_orderdate,1997-01-01"),
      s"q8 year-range filter not pushed:\n$q8")

    // q_returned_items (Q10 shape): returnflag filter IN the lineitem
    // scan, top-20 as distributed TakeOrderedAndProject
    val q10 = graft.operators.Relational.returnedItems(spark, sf)
      .queryExecution.sparkPlan
    assert(q10.toString.contains("EqualTo(l_returnflag,R)"),
      s"q10 returnflag filter not pushed:\n$q10")
    assert(q10.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.isDefined, s"q10 top-k is not TakeOrderedAndProject:\n$q10")

    // q_big_orders (Q18 shape): the HAVING aggregate joins UN-hinted
    // (order-count-sized — broadcastability is AQE's runtime call, not
    // a plan-time promise), and the top-100 is TakeOrderedAndProject
    val q18an = graft.operators.Relational.bigOrders(spark, sf)
      .queryExecution
    val q18hints = q18an.analyzed.collectWithSubqueries {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.hints.strategy.contains(
            org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
    }
    q18hints.foreach { h =>
      assert(hintBounded(h.child),
        s"q_big_orders broadcast()s an unbounded relation:\n${h.child}")
    }
    assert(q18an.sparkPlan.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.isDefined, s"q18 top-k is not TakeOrderedAndProject:\n${q18an.sparkPlan}")

    // q_nation_trade (Q7 shape): nations pre-filtered into the
    // broadcast sides (the filter must reach the nation scans, not sit
    // above the joins), ≥4 broadcast joins around the one fact shuffle
    val q7 = graft.operators.Relational.nationTradeVolume(spark, sf)
      .queryExecution.sparkPlan
    assert(q7.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.size >= 4, s"expected >=4 broadcast joins in q7:\n$q7")
    assert(q7.toString.contains("In(n_name") || q7.toString.contains("EqualTo(n_name"),
      s"q7 nation filter not pushed to the nation scans:\n$q7")

    // q_promo_share (Q14 shape): the month filter reaches the lineitem
    // scan; ONE aggregate computes both numerator and denominator
    val q14 = graft.operators.Relational.promoShare(spark, sf)
      .queryExecution.sparkPlan
    assert(q14.toString.contains("GreaterThanOrEqual(l_shipdate,1999-06-01"),
      s"q14 month filter not pushed:\n$q14")

    // q_top_supplier (Q15 shape): the argmax is an equi-join against a
    // 1-row max aggregate (broadcast build side containing an
    // aggregate) — never a ranking window / per-row sort of the
    // revenue view
    val q15 = graft.operators.Relational.topSupplier(spark, sf)
      .queryExecution.sparkPlan
    assert(q15.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.children.exists(hasAggBelow) => j
    }.nonEmpty, s"q15 argmax is not a broadcast join on the max aggregate:\n$q15")
    assert(q15.collectWithSubqueries {
      case w: WindowExec => w
      case w: WindowGroupLimitExec => w
    }.isEmpty, s"q15 plans a window for the argmax:\n$q15")

    // q_dormant_rich (Q22 shape): NOT EXISTS plans as LEFT ANTI and the
    // recency filter reaches the orders scan
    val q22 = graft.operators.Relational.dormantRich(spark, sf)
      .queryExecution.sparkPlan
    assert(q22.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }.nonEmpty, s"q22 does not plan an anti-join:\n$q22")
    assert(q22.toString.contains("GreaterThanOrEqual(o_orderdate,2000-01-01"),
      s"q22 recency filter not pushed:\n$q22")

    // q_bloom_prune: the bloom probe must sit pre-join in the lineitem
    // scan stage (a might_contain above the join would prune nothing)
    val qb = graft.operators.ScalePatterns.bloomPrunedJoin(spark, sf)
      .queryExecution.sparkPlan
    val probeBelowJoin = qb.collectFirst {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.children.exists(_.toString.contains("might_contain")) => j
    }
    assert(probeBelowJoin.isDefined,
      s"bloom probe is not below the exact join:\n$qb")
  }

  /** Concatenated UN-truncated PushedFilters across every scan in the
    * plan — `plan.toString` truncates long filter lists, so a pushdown
    * assertion against it can fail on a healthy plan. */
  private def pushedFilters(p: org.apache.spark.sql.execution.SparkPlan): String =
    p.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString("; ")

  test("TPC-H decision shapes (Q2/6/9/11/12/13/16/17/19/20/21) plan pins") {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.catalyst.plans.{LeftSemi, LeftAnti, LeftOuter}
    val T = graft.operators.TpchDecision
    try {

    // Q6: the whole query is ONE scan — every predicate pushed, no join
    // anywhere (a join or a post-scan filter here reads the full fact
    // at 100 TB for a 3-column aggregate)
    val q6 = T.forecastRevenue(spark, sf).queryExecution.sparkPlan
    val q6f = pushedFilters(q6)
    assert(q6f.contains("GreaterThanOrEqual(l_shipdate,1997-01-01"),
      s"q6 date filter not pushed:\n$q6f")
    assert(q6f.contains("LessThan(l_quantity,24"),
      s"q6 quantity filter not pushed:\n$q6f")
    assert(q6.collectWithSubqueries { case j: BaseJoinExec => j }.isEmpty,
      s"q6 plans a join for a scan-only aggregate:\n$q6")

    // Q12: ship-year range reaches the lineitem scan; one aggregate
    val q12 = T.shipmodePriority(spark, sf).queryExecution.sparkPlan
    assert(pushedFilters(q12).contains("GreaterThanOrEqual(l_shipdate,1998-01-01"),
      s"q12 ship-year filter not pushed:\n${pushedFilters(q12)}")

    // Q13: the join must be LEFT OUTER (an inner join silently drops
    // the zero-order customers the distribution exists to count)
    val q13 = T.custOrderDist(spark, sf).queryExecution.sparkPlan
    assert(q13.collectWithSubqueries {
      case j: BaseJoinExec if j.joinType == LeftOuter => j
    }.nonEmpty, s"q13 outer join degraded to inner:\n$q13")

    // Q19: the OR-of-conjunctions rides the partkey equi-join as a
    // residual — the join stays a broadcast HASH join, never nested-loop
    val q19 = T.disjunctiveRevenue(spark, sf).queryExecution.sparkPlan
    assert(q19.collectWithSubqueries {
      case j: BroadcastHashJoinExec => j
    }.nonEmpty, s"q19 disjunctive join is not a broadcast hash join:\n$q19")

    // Q17: the brand slice is materialized once (it feeds both the
    // per-part average and the join-back probe — without this the fact
    // scans twice), the threshold aggregate joins back UN-hinted
    // (part-catalog-sized — AQE's call), and no window sneaks in
    val q17an = T.smallQtyRevenue(spark, sf).queryExecution
    assert(q17an.sparkPlan.toString.contains("graft-mat-"),
      s"q17 does not read the materialized brand slice:\n${q17an.sparkPlan}")
    assert(q17an.sparkPlan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.count(_.toString.contains("lineitem")) == 0,
      s"q17 re-scans the fact:\n${q17an.sparkPlan}")
    q17an.analyzed.collectWithSubqueries {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.hints.strategy.contains(
            org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
    }.foreach { h =>
      assert(hintBounded(h.child),
        s"q17 broadcast()s an unbounded relation:\n${h.child}")
    }
    assert(q17an.sparkPlan.collectWithSubqueries {
      case w: WindowExec => w
      case w: WindowGroupLimitExec => w
    }.isEmpty, s"q17 plans a window:\n${q17an.sparkPlan}")

    // Q2: min-per-part join-back over the materialized supply rollup
    // (referenced by both the min and the probe — one fact scan), top-k
    // as TakeOrderedAndProject, no window for the argmin
    val q2 = T.minCostSupplier(spark, sf).queryExecution.sparkPlan
    assert(q2.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.isDefined, s"q2 top-k is not TakeOrderedAndProject:\n$q2")
    assert(q2.collectWithSubqueries {
      case w: WindowExec => w
      case w: WindowGroupLimitExec => w
    }.isEmpty, s"q2 plans a window for the argmin:\n$q2")
    assert(q2.toString.contains("graft-mat-"),
      s"q2 does not read the materialized supply rollup:\n$q2")
    assert(q2.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.count(_.toString.contains("lineitem")) == 0,
      s"q2 re-scans the fact:\n$q2")

    // Q9: the part-name LIKE prunes the part scan (StringContains
    // pushdown), dims broadcast around the one fact shuffle
    val q9 = T.productProfit(spark, sf).queryExecution.sparkPlan
    assert(pushedFilters(q9).contains("StringContains(p_name,widget)"),
      s"q9 part-name filter not pushed to the part scan:\n${pushedFilters(q9)}")
    assert(q9.collectWithSubqueries {
      case j: BroadcastHashJoinExec => j
    }.size >= 3, s"q9 dims not broadcast:\n$q9")

    // Q11: the per-part rollup is materialized and the grand total
    // RE-AGGREGATES it — the registered plan reads the materialized
    // partials and scans the lineitem fact ZERO times (the nation-gated
    // scan ran exactly once, at materialization). A lineitem scan here
    // is the double-fact-read regression.
    val q11 = T.importantStock(spark, sf).queryExecution.sparkPlan
    assert(q11.toString.contains("graft-mat-"),
      s"q11 does not read materialized partials:\n$q11")
    assert(q11.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.count(_.toString.contains("lineitem")) == 0,
      s"q11 re-scans the fact:\n$q11")

    // Q16: NOT IN plans as LEFT ANTI (never a filter over a collected
    // list or a nested loop)
    val q16 = T.supplierCnt(spark, sf).queryExecution.sparkPlan
    assert(q16.collectWithSubqueries {
      case j: BaseJoinExec if j.joinType == LeftAnti => j
    }.nonEmpty, s"q16 NOT-IN is not an anti-join:\n$q16")

    // Q20: nested IN plans as LEFT SEMI, and the (part, supplier) rollup
    // is materialized with the per-part total re-aggregated from it —
    // the registered plan reads the materialized partials and never
    // re-scans the fact (the ship-year-gated scan ran once, at
    // materialization)
    val q20 = T.excessSupply(spark, sf).queryExecution.sparkPlan
    assert(q20.collectWithSubqueries {
      case j: BaseJoinExec if j.joinType == LeftSemi => j
    }.nonEmpty, s"q20 IN is not a semi-join:\n$q20")
    assert(q20.toString.contains("graft-mat-"),
      s"q20 does not read materialized partials:\n$q20")
    assert(q20.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.count(_.toString.contains("lineitem")) == 0,
      s"q20 re-scans the fact:\n$q20")

    // Q21 (round 15): the semi/anti self-joins are REWRITTEN away — the
    // fact must be scanned exactly once and the per-order dominance
    // logic must be window passes over the (order, supplier) aggregate,
    // never a join back to lineitem (which is what made the old shape
    // shuffle the fact three times)
    val q21 = T.waitingOrders(spark, sf).queryExecution.sparkPlan
    assert(q21.collectWithSubqueries {
      case j: BaseJoinExec if j.joinType == LeftSemi || j.joinType == LeftAnti => j
    }.isEmpty, s"q21 regressed to semi/anti fact self-joins:\n$q21")
    assert(q21.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.count(_.toString.contains("lineitem")) == 1,
      s"q21 scans lineitem more than once:\n$q21")
    assert(q21.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.nonEmpty, s"q21 dominance is not a window pass:\n$q21")
    assert(q21.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.isDefined, s"q21 top-k is not TakeOrderedAndProject:\n$q21")

    // construction-side pins: the Q2/11/17/20 shared subtrees execute
    // INSIDE Materializer.materialize() and never appear in the
    // registered plans, so their pushdown and hint boundedness are
    // pinned on the exposed builders — without these, a pushdown
    // regression in a materialization job reads the full fact at 100 TB
    // while every registered-plan test stays green
    val builders = Seq(
      "q17slice" -> T.q17SliceBuilder(spark, sf),
      "q2supply" -> T.q2SupplyBuilder(spark, sf),
      "q11pp"    -> T.q11PerPartBuilder(spark, sf),
      "q20ps"    -> T.q20PerSupBuilder(spark, sf))
    for ((bname, bdf) <- builders) {
      bdf.queryExecution.analyzed.collectWithSubqueries {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
            if h.hints.strategy.contains(
              org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
      }.foreach { h =>
        assert(hintBounded(h.child),
          s"$bname builder broadcast()s an unbounded relation:\n${h.child}")
      }
    }
    val bplans = builders.toMap.view.mapValues(df =>
      pushedFilters(df.queryExecution.sparkPlan)).toMap
    assert(bplans("q17slice").contains("EqualTo(p_brand,Brand#5)"),
      s"q17 brand filter not pushed in the builder:\n${bplans("q17slice")}")
    assert(bplans("q2supply").contains("EqualTo(r_name,EUROPE)"),
      s"q2 region filter not pushed in the builder:\n${bplans("q2supply")}")
    assert(bplans("q11pp").contains("EqualTo(n_name,NATION_7)"),
      s"q11 nation filter not pushed in the builder:\n${bplans("q11pp")}")
    assert(bplans("q20ps").contains("GreaterThanOrEqual(l_shipdate,1997-01-01") &&
      bplans("q20ps").contains("StringStartsWith(p_name,small)"),
      s"q20 ship-year/part-name filters not pushed in the builder:\n${bplans("q20ps")}")

    } finally Materializer.clear() // Q2/11/17/20 materialize during construction
  }
}
