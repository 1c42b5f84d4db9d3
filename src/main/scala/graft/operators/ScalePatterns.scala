package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Materializer
import graft.Tables._

/** Operators Spark lacks natively plus skew patterns, built
  * compositionally (SURVEY.md §7.3 preference (a)).
  *
  * As-of join: the classic time-series operator (each left row matched
  * to the latest right row at-or-before its timestamp). The scalable
  * formulation is NOT a pair join (quadratic in ties) but a tagged
  * union + one sort-shuffle on the key + a carry-forward window: state
  * per partition is a single "last seen right row", wall-clock is one
  * exchange of |L|+|R| rows regardless of time-range density. This is
  * the plan an ASOF JOIN physical operator would produce anyway, so a
  * custom SparkPlan buys nothing here.
  *
  * Salted aggregation: two-stage aggregate for skewed group keys — salt
  * the hot key across S sub-groups (map-side spread), partially
  * aggregate, then combine. Decimal partials keep the result exactly
  * equal to the unsalted aggregate, which the oracle verifies.
  */
object ScalePatterns {

  // ------------------------------------------------------------- as-of
  /** Each event joined to the latest order of the same customer
    * (user_id = o_custkey) at-or-before the event time; events with no
    * prior order keep nulls. Deterministic tiebreak: equal timestamps
    * resolve orders-before-events, then by o_orderkey. */
  def asofEventOrder(spark: SparkSession, dir: String): DataFrame = {
    val ords = orders(spark, dir).select(
      col("o_custkey").as("key"), col("o_orderdate").as("t"),
      lit(0).as("src"), col("o_orderkey"), col("o_totalprice"),
      lit(null).cast(LongType).as("event_id"))
    val evs = events(spark, dir).select(
      col("user_id").as("key"), col("ts").as("t"),
      lit(1).as("src"), lit(null).cast(LongType).as("o_orderkey"),
      lit(null).cast(DoubleType).as("o_totalprice"), col("event_id"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("t").asc, col("src").asc,
        coalesce(col("o_orderkey"), lit(-1L)).asc,
        coalesce(col("event_id"), lit(-1L)).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    ords.unionByName(evs)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("asof_orderdate",
        last(when(col("src") === 0, col("t")), ignoreNulls = true).over(w))
      .withColumn("asof_totalprice", last(col("o_totalprice"), ignoreNulls = true).over(w))
      .filter(col("src") === 1)
      .select(col("event_id"), col("key").as("user_id"), col("t").as("ts"),
        col("asof_orderkey"), col("asof_orderdate"), col("asof_totalprice"))
      .orderBy("event_id")
  }

  val asofEventOrderSql: String =
    """WITH u AS (
      |  SELECT o_custkey AS key, o_orderdate AS t, 0 AS src, o_orderkey, o_totalprice,
      |         CAST(NULL AS BIGINT) AS event_id
      |  FROM orders
      |  UNION ALL
      |  SELECT user_id, ts, 1, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), event_id
      |  FROM events),
      |c AS (
      |  SELECT *,
      |    last_value(o_orderkey IGNORE NULLS) OVER w AS asof_orderkey,
      |    last_value(CASE WHEN src = 0 THEN t END IGNORE NULLS) OVER w AS asof_orderdate,
      |    last_value(o_totalprice IGNORE NULLS) OVER w AS asof_totalprice
      |  FROM u
      |  WINDOW w AS (PARTITION BY key
      |               ORDER BY t ASC, src ASC, coalesce(o_orderkey, -1) ASC,
      |                        coalesce(event_id, -1) ASC
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, key AS user_id, t AS ts, asof_orderkey, asof_orderdate, asof_totalprice
      |FROM c WHERE src = 1 ORDER BY event_id""".stripMargin

  // ------------------------------------------------------- salted agg
  private val SALTS = 16

  /** Two-stage salted aggregation over the (skewed, low-cardinality)
    * event_type key. Identical output to the direct aggregate — the
    * oracle IS the unsalted query, proving the pattern exact. */
  def saltedTypeStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("salt", (col("event_id") % SALTS).cast("int"))
      .groupBy(col("event_type"), col("salt"))
      .agg(
        count(lit(1)).as("pn"),
        sum(col("value").cast(DecimalType(18, 2))).as("psum"),
        min(col("value")).as("pmin"),
        max(col("value")).as("pmax"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("pn")).as("n_events"),
        sum(col("psum")).cast(DoubleType).as("sum_value"),
        (sum(col("psum")).cast(DoubleType) / sum(col("pn"))).as("avg_value"),
        min(col("pmin")).as("min_value"),
        max(col("pmax")).as("max_value"))
      .orderBy("event_type")

  val saltedTypeStatsSql: String =
    s"""SELECT event_type, count(*) AS n_events,
       |  ${sqlDsum("value")} AS sum_value,
       |  ${sqlDavg("value")} AS avg_value,
       |  min(value) AS min_value, max(value) AS max_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------- salted join
  /** Heavy-hitter count for the salted-join hot set and the salt fan-out
    * for hot keys. */
  private val HOT_N = 16
  private val JSALTS = 8

  /** Top-HOT_N heaviest probe-side keys by frequency, via
    * orderBy().limit() — plans as a distributed TakeOrderedAndProject:
    * each partition of the per-key aggregate keeps its local top-HOT_N
    * and only those reach the driver. No partition-less ranking window
    * anywhere, even over the aggregate (|distinct keys| is itself huge at
    * 100 TB; at that scale this set would come from a frequency sketch —
    * see `functions.SketchAgg` — but the TakeOrdered form is already
    * single-task-free). Exposed for PlanGuardSpec's shape assertion. */
  def hotKeysPlan(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(col("user_id"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("user_id").asc)
      .limit(HOT_N)
      .select(col("user_id").as("hot_key"))

  /** Skew-resilient fact-fact equi-join (events ⋈ orders on
    * user_id = o_custkey), hybrid hot/cold formulation — the pattern that
    * keeps a hot join key from serializing one reducer at 100 TB:
    *
    *  1. find the HOT_N heaviest probe-side keys (tiny aggregate — at
    *     scale this comes from a frequency sketch — broadcast to tag);
    *  2. COLD keys take the ordinary shuffled hash join, untouched;
    *  3. HOT keys are salted: probe rows spread deterministically over
    *     JSALTS sub-keys (event_id % S), build rows replicated ×S, join
    *     on (key, salt) — the hot key's rows now land on S reducers
    *     instead of one, at the cost of replicating ONLY the hot slice
    *     of the build side.
    *
    * Union of both branches = exactly the plain join's pairs (each
    * probe row lives in one branch; a hot probe row with salt s meets
    * precisely the one build replica with salt s). The oracle IS the
    * unsalted join aggregate, proving the rewrite exact. AQE's
    * skewJoin=true is the runtime-automatic sibling (splits skewed
    * sort-merge partitions); the explicit form is shown because it also
    * covers broadcast-ineligible hash joins and fixed pipelines. */
  def skewSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("user_id"), col("event_id"))
    val ords = orders(spark, dir)
      .select(col("o_custkey"), col("o_totalprice"))
    // Materialized: the HOT_N-row set is referenced 3× (probe tag + build
    // filter + probe filter) and an un-materialized subtree would re-scan
    // the fact table's key column per reference.
    val hot = Materializer.materialize(hotKeysPlan(spark, dir))
    val tagged = ev.join(broadcast(hot), col("user_id") === col("hot_key"), "left")
    val cold = tagged.filter(col("hot_key").isNull).drop("hot_key")
      .join(ords, col("user_id") === col("o_custkey"))
      .select(col("user_id"), col("o_totalprice"))
    val hotEv = tagged.filter(col("hot_key").isNotNull).drop("hot_key")
      .withColumn("salt_e", (col("event_id") % JSALTS).cast("int"))
    val hotOrds = ords.join(broadcast(hot), col("o_custkey") === col("hot_key"))
      .drop("hot_key")
      .withColumn("salt_o", explode(array((0 until JSALTS).map(lit(_)): _*)))
    val hotJoined = hotEv.join(hotOrds,
        col("user_id") === col("o_custkey") && col("salt_e") === col("salt_o"))
      .select(col("user_id"), col("o_totalprice"))
    cold.unionByName(hotJoined)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"), dsum(col("o_totalprice")).as("pair_spend"))
      .orderBy("user_id")
  }

  val skewSaltedJoinSql: String =
    s"""SELECT user_id, count(*) AS n_pairs,
       |       ${sqlDsum("o_totalprice")} AS pair_spend
       |FROM events e JOIN orders o ON e.user_id = o.o_custkey
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------- range join
  /** Interval half-width (±100.00 = 10⁴ cents) and bucket cell width.
    * CELL_W_CENTS = 2·RANGE_W_CENTS so an interval overlaps at most 2
    * cells (replication factor ≤ 2).
    *
    * ALL membership decisions are made in EXACT INTEGER CENTS
    * (floor(acctbal·100 + 0.5), exact over the whole [-999.99, 9999.99]
    * domain): a pair whose decimal gap is exactly 100.00 sits ON the
    * boundary, where the raw-double comparison `c >= s - 100.0` is an
    * equality whose outcome depends on the relative rounding error of
    * the two acctbals — verified divergent for ~2% of boundary cent
    * values (e.g. c=-611.84, s=-511.84: double says out, decimal says
    * in). Expected boundary hits grow with scale (~0.6 pairs at sf0.1,
    * thousands at sf10), so the Spark forms AND the DuckDB oracle all
    * join on cents — one domain, no data-dependent divergence
    * (RangeJoinSpec's boundary fixture pins the adversarial cases). */
  private[graft] val RANGE_W_CENTS = 10000L
  private[graft] val CELL_W_CENTS = 20000L

  /** Coarse prefix-sum bucket: 10⁴ cent cells per bucket ⇒ the fixed
    * acctbal domain ([-999.99, 9999.99] ± RANGE_W) yields ~130 buckets —
    * corpus-independent. */
  private val PFX_BUCKET = 10000L

  /** Point-in-interval range join with NO equi-key (each customer
    * matched to every supplier whose balance band ±RANGE_W contains the
    * customer's balance) — registered as the AGGREGATE readout
    * (per-supplier match count + matched-balance sum), computed by a
    * distributed PREFIX SUM over the balance domain instead of
    * materializing pairs.
    *
    * Why not the interval-bucketing pair join (RangeJoinSpec keeps it
    * as its equality reference; it is the form to reach for when the
    * pairs themselves are the output): with a FIXED value
    * domain, per-cell occupancy grows linearly with the corpus on both
    * sides, so the matched-pair volume is quadratic in rows — the
    * round-11 sf10 probe measured it at slope 89.5 (1211 s), and no
    * pair-materializing plan can beat its own output size. The
    * aggregate readout doesn't need the pairs: per supplier the answer
    * is F(hi) − F(lo⁻) where F is the cumulative (count, balance-sum)
    * of customers by balance. So:
    *
    *  - ONE corpus-sized pass: customers aggregated to exact-cent cells
    *    (bounded by the VALUE DOMAIN — ~1.1M cells — not by rows);
    *  - a dense cent grid spanning both sides' bounds (sequence off a
    *    1-row min/max aggregate, zero-filled by left join);
    *  - two-level distributed prefix sum: a within-bucket cumulative
    *    window PARTITIONED by the 10⁴-cent bucket, plus a cumulative
    *    window over the ~130-row bucket-total aggregate (domain-bounded,
    *    the declared constant-band exemption class) joined back;
    *  - each supplier equi-joins its two grid lookups: exact integer
    *    cents, so interval boundaries are decimal-exact. (A raw-double
    *    formulation would NOT agree at the boundary — see the
    *    RANGE_W_CENTS note above; pairs form and oracle use the same
    *    cents domain.)
    *
    * Count differences are exact longs; balance differences are exact
    * DECIMAL(28,2) partials, cast to double once — bit-identical to
    * dsum over the materialized pairs, which RangeJoinSpec pins by
    * equating this form with the pair join row-for-row. Cost at
    * any corpus size: one scan + one domain-bounded shuffle + constant
    * domain work — the sf10 slope drops from 89.5 to scan-linear. */
  def rangeJoinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val cents = floor(col("c_acctbal") * 100.0 + lit(0.5)).cast("long")
    val perCent = customer(spark, dir)
      .groupBy(cents.as("cents"))
      .agg(count(lit(1)).as("cnt"), sum(col("c_acctbal").cast(dec)).as("bal"))
    val supp = supplier(spark, dir).select(
      col("s_suppkey"),
      (floor(col("s_acctbal") * 100.0 + lit(0.5)).cast("long") -
        RANGE_W_CENTS).as("lo_c"),
      (floor(col("s_acctbal") * 100.0 + lit(0.5)).cast("long") +
        RANGE_W_CENTS).as("hi_c"))
    // SPARSE grid (round 14): prefix sums only need rows at OCCUPIED
    // cells plus the supplier LOOKUP points (hi_c and lo_c−1, weighted
    // zero) — F is a step function, so its running sum at a lookup row
    // over this set equals the dense-domain cumulative at that cent
    // exactly. The former dense `sequence(gmin, gmax)` exploded the
    // whole ~1.1 M-cent value domain FROM ONE ROW — a single-task
    // generate stage (an inherent straggler at any scale) feeding
    // window work proportional to the DOMAIN even when the corpus
    // occupies a sliver of it. Sparse rows = |occupied cents| +
    // 2·|suppliers| — corpus-bounded, fully parallel, same two-level
    // prefix-sum shape (RangeJoinSpec pins output equality with the
    // materialized pair join).
    val pts = supp.select(col("hi_c").as("cents"))
      .unionByName(supp.select((col("lo_c") - 1).as("cents")))
      .distinct()
    val grid = perCent
      .unionByName(pts.select(col("cents"), lit(0L).as("cnt"),
        lit(0).cast(dec).as("bal")))
      .groupBy(col("cents"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("bal")).as("bal"))
      .select(col("cents"), (col("cents") / PFX_BUCKET).cast("long").as("bkt"),
        col("cnt"), col("bal"))
    val within = Window.partitionBy(col("bkt")).orderBy(col("cents").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fine = grid
      .withColumn("w_cnt", sum(col("cnt")).over(within))
      .withColumn("w_bal", sum(col("bal")).over(within))
    // cumulative bucket totals over the ~130-row domain-bounded bucket
    // aggregate (constant-band class, see PlanGuardSpec exemption)
    val overBkts = Window.orderBy(col("bkt").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bktCum = grid.groupBy(col("bkt"))
      .agg(sum(col("cnt")).as("t_cnt"), sum(col("bal")).as("t_bal"))
      .withColumn("c_cnt", sum(col("t_cnt")).over(overBkts))
      .withColumn("c_bal", sum(col("t_bal")).over(overBkts))
      .select(col("bkt"), (col("c_cnt") - col("t_cnt")).as("p_cnt"),
        (col("c_bal") - col("t_bal")).as("p_bal"))
    // no broadcast() hint: the ~130-row bucket relation is far under the
    // auto-broadcast threshold, and the hint checker can't see through
    // the Window-over-Aggregate shape to prove it bounded
    val f = fine.join(bktCum, "bkt")
      .select(col("cents"),
        (col("w_cnt") + col("p_cnt")).as("f_cnt"),
        (col("w_bal") + col("p_bal")).as("f_bal"))
    val fHi = f.select(col("cents").as("hi_c"),
      col("f_cnt").as("hi_cnt"), col("f_bal").as("hi_bal"))
    val fLo = f.select((col("cents") + 1).as("lo_c"),
      col("f_cnt").as("lo_cnt"), col("f_bal").as("lo_bal"))
    supp.join(fHi, "hi_c").join(fLo, "lo_c")
      .select(col("s_suppkey"),
        (col("hi_cnt") - col("lo_cnt")).as("n_matches"),
        (col("hi_bal") - col("lo_bal")).cast(DoubleType).as("matched_bal"))
      .filter(col("n_matches") > 0)
      .orderBy("s_suppkey")
  }

  val rangeJoinBucketedSql: String =
    s"""SELECT s_suppkey, count(*) AS n_matches,
       |       ${sqlDsum("c_acctbal")} AS matched_bal
       |FROM (SELECT s_suppkey,
       |             CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT) AS s_cents
       |      FROM supplier) s
       |JOIN (SELECT c_acctbal,
       |             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS c_cents
       |      FROM customer) c
       |  ON c.c_cents BETWEEN s.s_cents - $RANGE_W_CENTS
       |                   AND s.s_cents + $RANGE_W_CENTS
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ join-key skew report
  /** Hot keys reported. */
  private val SKEW_TOPN = 10

  /** Join-key skew diagnostics for the events.user_id key — the
    * MEASUREMENT that decides when [[skewSaltedJoin]]'s hot/cold split
    * or AQE skew handling is worth enabling: per hot key its row count,
    * share of all rows, and skew factor (count / mean-per-key). One
    * (key) count shuffle, a 1-row (N, K) totals broadcast, and a
    * distributed TakeOrderedAndProject for the top-N — the detection
    * pass costs one aggregate, never a sort of the key space. */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    val perKey = events(spark, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val tot = perKey.agg(sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"))
    perKey
      .orderBy(col("cnt").desc, col("user_id").asc)
      .limit(SKEW_TOPN)
      .crossJoin(broadcast(tot))
      .select(col("user_id"), col("cnt"),
        (col("cnt").cast("double") / col("n_rows").cast("double")).as("share"),
        (col("cnt").cast("double") * col("n_keys").cast("double") /
          col("n_rows").cast("double")).as("skew_factor"))
      .orderBy(col("cnt").desc, col("user_id").asc)
  }

  val skewReportSql: String =
    s"""WITH pk AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
       |            FROM events GROUP BY 1),
       |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
       |             CAST(count(*) AS BIGINT) AS n_keys FROM pk),
       |h AS (SELECT * FROM pk ORDER BY cnt DESC, user_id ASC LIMIT $SKEW_TOPN)
       |SELECT user_id, cnt,
       |       CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share,
       |       CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
       |         AS skew_factor
       |FROM h, t ORDER BY cnt DESC, user_id ASC""".stripMargin

  // ------------------------------ mergeable histogram-sketch quantiles
  private val HIST_LO = 0L
  private val HIST_HI = 59999999L // cents domain for o_totalprice (< $600k)
  private val HIST_SPAN = HIST_HI - HIST_LO + 1
  private val HIST_BINS = 4096
  private val HIST_QS = Seq(25, 50, 75, 90, 99)

  /** Per-segment quantiles OFF the mergeable histogram sketch
    * ([[graft.functions.HistogramSketchAgg]]) — the swap-in that the
    * rank-based percentile operators (winsorize, MAD, PSI deciles)
    * document for 100 TB: no per-group sort, no row shuffle. Each map
    * task folds its slice into a fixed 4096-cell count array, the
    * shuffle moves ONE array per partition per segment, and each
    * quantile is read off the merged histogram with a ≤4096-row
    * cumulative scan. Rank error ≤ one bin width ($146 on the $600k
    * cents domain) — measured against exact quantiles in
    * `SketchQuantileSpec`.
    *
    * Determinism/oracle: bin assignment and quantile extraction are
    * pure integer arithmetic (target rank = ⌈q·n⌉ as (n·q+99) DIV 100),
    * so DuckDB rebuilds the identical histogram relationally and the
    * estimates hash-match exactly. */
  def sketchQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val rev = orders(spark, dir)
      .join(broadcast(customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        floor(col("o_totalprice") * 100.0 + lit(0.5)).cast("long").as("cents"))
    val sk = rev.groupBy(col("c_mktsegment"))
      .agg(graft.functions.SketchAgg.histogram(
        col("cents"), HIST_LO, HIST_HI, HIST_BINS).as("hist"),
        count(lit(1)).as("n"))
    val cum = sk
      .select(col("c_mktsegment"), col("n"),
        posexplode(col("hist")).as(Seq("bin", "cnt")))
      .filter(col("cnt") > 0)
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("c_mktsegment")).orderBy(col("bin").asc)))
    val qdf = spark.range(1)
      .select(explode(array(HIST_QS.map(lit(_)): _*)).as("q_pct"))
    cum.crossJoin(broadcast(qdf))
      .filter(col("cum") >= expr("(n * q_pct + 99) DIV 100"))
      .groupBy(col("c_mktsegment"), col("q_pct"))
      .agg(min(col("bin")).as("bin"), min(col("n")).as("n_orders"))
      .select(col("c_mktsegment"), col("q_pct"), col("n_orders"),
        (expr(s"$HIST_LO + (bin * ${HIST_SPAN}L) DIV $HIST_BINS").cast("double") / 100.0)
          .as("est_value"))
      .orderBy("c_mktsegment", "q_pct")
  }

  val sketchQuantilesSql: String =
    s"""WITH rev AS (
       |  SELECT c_mktsegment,
       |         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |h AS (
       |  SELECT c_mktsegment,
       |         CASE WHEN cents < $HIST_LO THEN 0
       |              WHEN cents > $HIST_HI THEN ${HIST_BINS - 1}
       |              ELSE CAST(((cents - $HIST_LO) * $HIST_BINS) // $HIST_SPAN AS BIGINT)
       |         END AS bin
       |  FROM rev),
       |c AS (SELECT c_mktsegment, bin, CAST(count(*) AS BIGINT) AS cnt FROM h GROUP BY 1, 2),
       |nn AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n FROM rev GROUP BY 1),
       |cum AS (
       |  SELECT c_mktsegment, bin,
       |         CAST(sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY bin ASC) AS BIGINT) AS cum
       |  FROM c),
       |q AS (SELECT unnest([${HIST_QS.mkString(", ")}]) AS q_pct),
       |sel AS (
       |  SELECT cum.c_mktsegment, q_pct, min(bin) AS bin, min(n) AS n_orders
       |  FROM cum JOIN nn ON cum.c_mktsegment = nn.c_mktsegment, q
       |  WHERE cum >= (n * q_pct + 99) // 100
       |  GROUP BY 1, 2)
       |SELECT c_mktsegment, q_pct, n_orders,
       |       CAST($HIST_LO + (bin * $HIST_SPAN) // $HIST_BINS AS DOUBLE) / 100.0 AS est_value
       |FROM sel ORDER BY c_mktsegment, q_pct""".stripMargin

  // ------------------------------------------------ KMV distinct sketch
  /** KMV hash multiplier: P is prime, so u ↦ (u mod P)·C mod P is a
    * bijection on [0, P) — distinct users map to distinct hash points,
    * uniformly spread for the estimator. Precondition user_id < P holds
    * by orders of magnitude (TestdataSchemaSpec's id ranges). */
  private[graft] val KMV_C = 2654435761L % graft.functions.TextHash.P
  private[graft] val KMV_K = 64
  private[graft] val KMV_P = graft.functions.TextHash.P

  /** K-minimum-values distinct-count sketch per event type — the
    * third mergeable sketch next to the CMS heavy hitters and the
    * histogram quantiles, and the ORACLE-VERIFIABLE form of
    * `q_approx_distinct` (whose built-in HLL is engine-private state,
    * rows-only forever): the KMV estimate (k−1)·M/h₍k₎ depends only on
    * the k smallest hash values under an engine-neutral hash, so DuckDB
    * reproduces it bit-for-bit. At 100 TB the sketch state is k longs
    * per group (mergeable: union the sets, keep the k smallest) instead
    * of a distinct-set shuffle; here the k-smallest-per-group runs as a
    * rank window that Spark executes with WindowGroupLimit pushdown —
    * partial top-k per partition, never a full per-group sort. Exact
    * distinct (cheap at audit SF) and the micro-unit relative error
    * ride along, making this the calibration the sketch swap-in is
    * judged by. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    // TWO aggregate legs joined on event_type (round 12 — the same
    // split-plan contract as q_approx_distinct/_prod): fusing the
    // sketch with the countDistinct in one `agg` makes Spark's
    // one-distinct plan group its first partial stage by
    // (event_type, h) and carry the KmvMinsAgg buffer (≤ k longs,
    // ~0.5 KB) PER DISTINCT HASH — the "KB per partition" claim only
    // holds when the sketch leg aggregates alone. Split, the sketch
    // leg shuffles ≤ k longs per partition (no pre-distinct, no
    // ranking window) and the exact leg's distinct exchange carries
    // only the (event_type, h) pairs; the exact side exists because
    // the query REPORTS the sketch's error against truth — at 100 TB
    // only the sketch leg remains. "k smallest distinct values" is
    // partition-order-independent, so this stays bit-equal to the
    // ranking-window formulation the DuckDB oracle uses (SketchAggSpec
    // pins the equality).
    val hashed = events(spark, dir)
      .select(col("event_type"),
        (pmod(col("user_id"), lit(KMV_P)) * KMV_C % KMV_P).as("h"))
    val sketch = hashed
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.SketchAgg.kmvMins(col("h"), KMV_K).as("mins"))
    val exact = hashed
      .groupBy(col("event_type"))
      .agg(countDistinct(col("h")).as("exact_distinct"))
    val agg = sketch.join(exact, Seq("event_type"), "inner")
      .withColumn("k_used", size(col("mins")).cast("long"))
      .withColumn("kth", element_at(col("mins"), size(col("mins"))))
    val est = when(col("k_used") < KMV_K, col("exact_distinct").cast("double"))
      .otherwise(lit((KMV_K - 1) * KMV_P).cast("double") / col("kth"))
    agg.select(col("event_type"), col("n_rows"), col("exact_distinct"),
        col("k_used"), est.as("est_distinct"),
        floor(abs(est / col("exact_distinct") - 1.0) * 1000000.0 + lit(0.5))
          .cast("long").as("err_mu"))
      .orderBy("event_type")
  }

  val kmvDistinctSql: String =
    s"""WITH hd AS (SELECT DISTINCT event_type,
       |              ((user_id % $KMV_P) * $KMV_C) % $KMV_P AS h FROM events),
       |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
       |       FROM hd GROUP BY 1),
       |nr AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
       |       FROM events GROUP BY 1),
       |kk AS (SELECT event_type, max(h) AS kth, CAST(count(*) AS BIGINT) AS k_used
       |       FROM (SELECT event_type, h,
       |               row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rk
       |             FROM hd)
       |       WHERE rk <= $KMV_K GROUP BY 1),
       |e AS (SELECT nr.event_type, n_rows, exact_distinct, k_used,
       |        CASE WHEN k_used < $KMV_K THEN CAST(exact_distinct AS DOUBLE)
       |             ELSE CAST(${(KMV_K - 1) * KMV_P} AS DOUBLE) / kth END AS est_distinct
       |      FROM nr JOIN ex USING (event_type) JOIN kk USING (event_type))
       |SELECT event_type, n_rows, exact_distinct, k_used, est_distinct,
       |       CAST(floor(abs(est_distinct / exact_distinct - 1) * 1000000.0 + 0.5) AS BIGINT) AS err_mu
       |FROM e ORDER BY event_type""".stripMargin

  // ------------------------------------------- KMV set-op estimation
  /** Sketch-based audience-overlap estimation — the set-OPERATION side
    * of the KMV sketch ([[kmvDistinct]] is the cardinality side): for
    * every event-type pair, the k smallest hashes of the UNION form a
    * uniform random sample of the union, so the fraction of them
    * present in both sets estimates Jaccard(A,B) — the classic KMV
    * set-op estimator (Beyer et al., SIGMOD'07). Emitted next to the
    * EXACT Jaccard with the estimation error in micro-units, so the
    * sketch's accuracy is part of the oracle-checked result, exactly
    * like the distinct-count query.
    *
    * At 100 TB the exact side disappears and only the sketches remain:
    * per-segment k-min sets are mergeable partial aggregates (KB per
    * segment), and any pairwise overlap matrix computes from sketches
    * alone — no re-scan of the fact table per pair. Hash membership is
    * deterministic modular arithmetic, so DuckDB reproduces every rank
    * and membership bit. */
  /** High-value audience threshold — makes the pairwise overlaps
    * genuinely partial on the synthetic users (unfiltered, every user
    * touches every event type and all Jaccards saturate at 1). */
  private val OVERLAP_MIN_VALUE = 150.0

  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    // ESTIMATOR: computed from the per-type KMV sketches ALONE — one
    // KmvMinsAgg pass over the fact table, then ≤64-element array math
    // per pair. This is sound, not approximate-on-approximate: any
    // element among the k smallest of A∪B that belongs to A is
    // necessarily among the k smallest of A (everything smaller in A is
    // also in the union), so union-mins and both-membership are exactly
    // recoverable from the two sketches — the estimator is bit-equal to
    // running it against the full sets, which is what the relational
    // DuckDB oracle does.
    val hd = events(spark, dir)
      .filter(col("value") > OVERLAP_MIN_VALUE)
      .select(col("event_type").as("et"),
        (pmod(col("user_id"), lit(KMV_P)) * KMV_C % KMV_P).as("h"))
    val sk = hd.groupBy(col("et"))
      .agg(graft.functions.SketchAgg.kmvMins(col("h"), KMV_K).as("mins"))
    val pairs = sk.as("sa").join(sk.as("sb"), col("sa.et") < col("sb.et"))
      .select(col("sa.et").as("a"), col("sb.et").as("b"),
        col("sa.mins").as("ma"), col("sb.mins").as("mb"))
      .withColumn("u", array_sort(array_union(col("ma"), col("mb"))))
      .withColumn("k_used", least(size(col("u")), lit(KMV_K)).cast("long"))
      .withColumn("umins", slice(col("u"), 1, KMV_K))
      .withColumn("n_both",
        size(array_intersect(col("umins"),
          array_intersect(col("ma"), col("mb")))).cast("long"))
    // EXACT side (reported for the error column; absent at 100 TB):
    // true intersection / union cardinalities from the distinct sets
    val hdd = hd.distinct()
    val exact = hdd.select(col("et").as("a"), col("h"))
      .join(hdd.select(col("et").as("b"), col("h")), Seq("h"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    val sizes = hdd.groupBy(col("et")).agg(count(lit(1)).as("n"))
    val estJ = col("n_both").cast("double") / col("k_used").cast("double")
    val exJ = col("inter").cast("double") / col("u_cnt").cast("double")
    // LEFT join + coalesce: a pair with EMPTY true intersection must
    // still appear — those rows are exactly where the estimator's
    // disjoint-set false positives show up, the thing this audit exists
    // to measure; an inner join would silently exclude them
    pairs.join(exact, Seq("a", "b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(sizes.select(col("et").as("a"), col("n").as("n_a")), Seq("a"))
      .join(sizes.select(col("et").as("b"), col("n").as("n_b")), Seq("b"))
      .withColumn("u_cnt", col("n_a") + col("n_b") - col("inter"))
      .select(col("a").as("type_a"), col("b").as("type_b"),
        col("inter"), col("u_cnt"), col("k_used"),
        floor(exJ * 1000000.0).cast("long").as("exact_j_ppm"),
        floor(estJ * 1000000.0).cast("long").as("est_j_ppm"),
        floor(abs(estJ - exJ) * 1000000.0 + lit(0.5)).cast("long").as("err_mu"))
      .orderBy("type_a", "type_b")
  }

  val kmvOverlapSql: String =
    s"""WITH hd AS (SELECT DISTINCT event_type AS et,
       |              ((user_id % $KMV_P) * $KMV_C) % $KMV_P AS h
       |       FROM events WHERE value > $OVERLAP_MIN_VALUE),
       |tt AS (SELECT ta.et AS a, tb.et AS b
       |       FROM (SELECT DISTINCT et FROM hd) ta
       |       JOIN (SELECT DISTINCT et FROM hd) tb ON ta.et < tb.et),
       |un AS (SELECT DISTINCT a, b, h
       |       FROM tt JOIN hd ON et = a OR et = b),
       |mins AS (SELECT a, b, h FROM (
       |    SELECT a, b, h, row_number() OVER (PARTITION BY a, b ORDER BY h ASC) AS rk
       |    FROM un) WHERE rk <= $KMV_K),
       |fl AS (SELECT mins.a, mins.b, CAST(count(*) AS BIGINT) AS k_used,
       |         CAST(sum(CASE WHEN ia.h IS NOT NULL AND ib.h IS NOT NULL
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_both
       |       FROM mins
       |       LEFT JOIN hd ia ON ia.et = mins.a AND ia.h = mins.h
       |       LEFT JOIN hd ib ON ib.et = mins.b AND ib.h = mins.h
       |       GROUP BY 1, 2),
       |exr AS (SELECT tt.a, tt.b, CAST(count(*) AS BIGINT) AS inter
       |       FROM tt JOIN hd x ON x.et = tt.a JOIN hd y ON y.et = tt.b AND y.h = x.h
       |       GROUP BY 1, 2),
       |ex AS (SELECT tt.a, tt.b, CAST(coalesce(inter, 0) AS BIGINT) AS inter
       |       FROM tt LEFT JOIN exr ON tt.a = exr.a AND tt.b = exr.b),
       |uc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS u_cnt FROM un GROUP BY 1, 2)
       |SELECT fl.a AS type_a, fl.b AS type_b, inter, u_cnt, k_used,
       |  CAST(floor(CAST(inter AS DOUBLE) / CAST(u_cnt AS DOUBLE) * 1000000.0) AS BIGINT) AS exact_j_ppm,
       |  CAST(floor(CAST(n_both AS DOUBLE) / CAST(k_used AS DOUBLE) * 1000000.0) AS BIGINT) AS est_j_ppm,
       |  CAST(floor(abs(CAST(n_both AS DOUBLE) / CAST(k_used AS DOUBLE)
       |                 - CAST(inter AS DOUBLE) / CAST(u_cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS err_mu
       |FROM fl JOIN ex ON fl.a = ex.a AND fl.b = ex.b
       |JOIN uc ON fl.a = uc.a AND fl.b = uc.b
       |ORDER BY type_a, type_b""".stripMargin

  // ------------------------------------------------ MERGE-shaped upsert
  /** Cutoff splitting the event log into a "base" dimension build and a
    * "delta" batch for the upsert demo. */
  private val UPSERT_CUTOFF = "2024-01-16 00:00:00"

  /** SCD1 MERGE/upsert as a relational plan — the dimension-maintenance
    * step (MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT MATCHED
    * INSERT) that plain Spark SQL lacks without a table format: base =
    * each user's latest state from events before the cutoff, delta =
    * the same from the new batch; one full-outer join on the entity key
    * classifies every key as inserted / updated / unchanged and yields
    * the post-merge table, here summarized to its audit row (counts +
    * exact value checksum) so the oracle is compact. Latest-state
    * extraction is an argmax window with (ts, event_id) total order.
    *
    * Scale: both sides shuffle once on user_id and the join reuses that
    * partitioning; at 100 TB the base side would be a bucketed table so
    * only the delta shuffles — the plan shape is unchanged. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = to_timestamp(lit(UPSERT_CUTOFF))
    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      df.select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).drop("rk")
    }
    // cohort filters make all three MERGE classes non-empty on the
    // uniformly-active synthetic users: the base dimension predates the
    // user_id%5==0 cohort (→ inserts), the delta batch misses the
    // user_id%3==0 cohort (→ unchanged)
    val base = latest(events(spark, dir)
        .filter(col("ts") < cutoff && col("user_id") % 5 =!= 0))
      .select(col("user_id"), col("ts").as("b_ts"), col("value").as("b_value"))
    val delta = latest(events(spark, dir)
        .filter(col("ts") >= cutoff && col("user_id") % 3 =!= 0))
      .select(col("user_id"), col("ts").as("d_ts"), col("value").as("d_value"))
    val merged = base.join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(col("b_ts").isNull, lit("insert"))
          .when(col("d_ts").isNull, lit("unchanged"))
          .otherwise(lit("update")).as("action"),
        coalesce(col("d_value"), col("b_value")).as("value"))
    merged.groupBy(col("action"))
      .agg(count(lit(1)).as("n_keys"),
        sum(floor(col("value") * 100.0 + lit(0.5)).cast("long")).as("value_cents"))
      .orderBy("action")
  }

  val mergeUpsertSql: String =
    s"""WITH base AS (
       |  SELECT user_id, ts AS b_ts, value AS b_value
       |  FROM (SELECT user_id, ts, value, row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts DESC, event_id DESC) AS rk
       |        FROM events WHERE ts < TIMESTAMP '$UPSERT_CUTOFF' AND user_id % 5 != 0)
       |  WHERE rk = 1),
       |delta AS (
       |  SELECT user_id, ts AS d_ts, value AS d_value
       |  FROM (SELECT user_id, ts, value, row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts DESC, event_id DESC) AS rk
       |        FROM events WHERE ts >= TIMESTAMP '$UPSERT_CUTOFF' AND user_id % 3 != 0)
       |  WHERE rk = 1),
       |merged AS (
       |  SELECT coalesce(base.user_id, delta.user_id) AS user_id,
       |    CASE WHEN b_ts IS NULL THEN 'insert'
       |         WHEN d_ts IS NULL THEN 'unchanged'
       |         ELSE 'update' END AS action,
       |    coalesce(d_value, b_value) AS value
       |  FROM base FULL OUTER JOIN delta ON base.user_id = delta.user_id)
       |SELECT action, CAST(count(*) AS BIGINT) AS n_keys,
       |       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
       |FROM merged GROUP BY action ORDER BY action""".stripMargin

  // ------------------------------------------- explicit runtime bloom
  /** Bloom false-positive rate; the post-probe exact join removes the
    * FPs, so the filter only affects scan volume, never the result. */
  private val BLOOM_FPP = 0.01

  /** Revenue by ship-month for urgent orders, with the lineitem scan
    * pre-pruned by an EXPLICIT runtime Bloom filter built over the
    * filtered dimension keys — the manual form of Spark's
    * InjectRuntimeFilter (which only fires when its own size/selectivity
    * thresholds hold; building it by hand keeps the 100 TB scan-pruning
    * guarantee unconditional and lets the build side be any computed
    * key set). The bloom builds distributed (per-partition partials
    * merged — `DataFrameStatFunctions.bloomFilter` is a mergeable-sketch
    * aggregate), ships to executors as a ~KB binary literal, and probes
    * through Catalyst's codegen'd `BloomFilterMightContain` — no UDF,
    * the probe stays inside whole-stage codegen and above the parquet
    * scan, so the join shuffle carries only ~sel·|fact| rows. FPs
    * (≤ 1%) are removed by the exact equi-join that follows; the result
    * is bit-identical to the unfiltered join, which the oracle checks.
    *
    * Reference scope: the reference joins its MySQL tables unfiltered
    * (`comparision.sql:5-79`); this is the scan-economy version its
    * batch-vs-stream reconciliation would need at scale. */
  def bloomPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // distributed build; expected-items from a cheap count (chain-of-jobs
    // scalar — the same pattern as the iterative operators' convergence
    // counts, NOT a data collect)
    val nKeys = dim.count()
    // insert xxhash64(key) rather than the raw key so the build side and
    // the BloomFilterMightContain probe agree by construction (the same
    // convention InjectRuntimeFilter uses)
    val bloom = dim.select(xxhash64(col("o_orderkey")).as("h"))
      .stat.bloomFilter("h", math.max(nKeys, 1L), BLOOM_FPP)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val mightContain = Bridge.column(BloomFilterMightContain(
      Bridge.expression(lit(bytes)),
      Bridge.expression(xxhash64(col("l_orderkey")))))
    lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .filter(mightContain)                    // codegen'd pre-shuffle prune
      .join(orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))  // exact: kills bloom FPs
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0
          + lit(0.5)).cast("long")).as("revenue_cents"))
      .orderBy("ship_month")
  }

  val bloomPrunedJoinSql: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |       CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
      |                           + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY ship_month""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kmv_overlap" -> kmvOverlap _,
    "q_merge_upsert" -> mergeUpsert _,
    "q_bloom_prune" -> bloomPrunedJoin _,
    "q_kmv_distinct" -> kmvDistinct _,
    "q_sketch_quantiles" -> sketchQuantiles _,
    "q_skew_report" -> skewReport _,
    "q_asof_join"   -> asofEventOrder _,
    "q_salted_agg"  -> saltedTypeStats _,
    "q_skew_join"   -> skewSaltedJoin _,
    "q_range_join"  -> rangeJoinBucketed _)

  val oracles: Map[String, String] = Map(
    "q_kmv_overlap" -> kmvOverlapSql,
    "q_merge_upsert" -> mergeUpsertSql,
    "q_bloom_prune" -> bloomPrunedJoinSql,
    "q_kmv_distinct" -> kmvDistinctSql,
    "q_sketch_quantiles" -> sketchQuantilesSql,
    "q_skew_report" -> skewReportSql,
    "q_asof_join"   -> asofEventOrderSql,
    "q_salted_agg"  -> saltedTypeStatsSql,
    "q_skew_join"   -> skewSaltedJoinSql,
    "q_range_join"  -> rangeJoinBucketedSql)
}
