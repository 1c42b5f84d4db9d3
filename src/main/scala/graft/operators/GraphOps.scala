package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materializer
import graft.Tables._

/** Graph analytics over the event click-graph — PageRank by distributed
  * power iteration.
  *
  * The reference corpus has no graph operator, but a training-data
  * pipeline at scale does: page/domain authority from a link or
  * transition graph is a standard quality prior (e.g. harvesting
  * high-rank domains first), and the iterative join-aggregate shape is
  * the template for every propagation pass (label propagation is the
  * min-aggregate sibling in [[Dedup.dedupClusters]]).
  *
  * Graph: nodes are the `k` page ids decoded from `events.props`
  * (the same JSON decode as q_json_decode); an edge (src→dst, weight w)
  * counts how often a user's consecutive events moved from page src to
  * page dst (self-transitions dropped). Rank is the damped weighted
  * PageRank, iterated a fixed [[PR_ITERS]] rounds from a uniform init.
  *
  * Determinism: ranks live in integer MICRO-UNITS. Each edge's
  * contribution is `(85 * r_mu * w) div (100 * wtot)` — exact long
  * division — so per-round sums are integer and identical under any
  * partitioning/engine; floats appear only in the final display column.
  * (Dropped remainder mass ≈ |E| micro-units/round is part of the
  * operator's definition, mirrored exactly by the oracle.)
  *
  * Scale shape (100 TB): each round is ONE equi-join (edges ⋈ ranks on
  * src) + ONE aggregate (sum by dst) — both plain hash shuffles on the
  * node id, the classic Pregel-as-relational-ops form. Per-round results
  * are materialized so lineage stays flat (a real cluster would
  * checkpoint the same way). Nothing is ever collected to the driver.
  * Dangling mass (nodes with no out-edges) is dropped, the common
  * web-graph simplification. Overflow: the DAMP·r_mu·w product runs in
  * DECIMAL(38,0)/HUGEINT (see [[prContrib]]) — no headroom ceiling; the
  * post-DIV terms and their sums stay long-bounded by mass conservation.
  */
object GraphOps {

  private val DAMP_PCT = 85      // damping factor 0.85, as integer percent
  private val JUMP_MU = 150000L  // (1 - 0.85) in micro-units
  private val INIT_MU = 1000000L // uniform initial rank = 1.0
  private val PR_ITERS = 3

  /** (src, dst, w): user page-transition counts. One partitioned lag
    * window (never global) + one (src,dst) count shuffle. */
  private def transitionEdges(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        from_json(col("props"), lit("k INT")).getField("k").as("page"))
      .withColumn("prev", lag(col("page"), 1).over(byUser))
      .filter(col("prev").isNotNull && col("prev") =!= col("page"))
      .groupBy(col("prev").as("src"), col("page").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** One edge's damped rank contribution, DAMP·r·w DIV (100·wtot).
    * The product runs in DECIMAL(38,0) (oracle: HUGEINT): at
    * 10¹²-transition scale a hot edge's 85·r_mu·w passes 2⁶³ (the r10
    * overflow class; pinned by OverflowSweepSpec); DIV brings each term
    * back to a long whose per-node sum is bounded by the conserved
    * rank mass. */
  private[graft] def prContrib(rMuExpr: String): Column =
    expr(s"($DAMP_PCT * CAST($rMuExpr AS DECIMAL(38,0)) * w) DIV (100 * wtot)")

  /** (page, r_mu, rank) after PR_ITERS damped power-iteration rounds. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    // Annotated edge list materialized in ONE pass (round 15): wtot is
    // a per-src window sum over the freshly aggregated edge list — one
    // exchange on src — where the old two-step (materialize edges, then
    // materialize edges ⋈ groupBy(src).sum) paid a full write+read
    // round trip plus a two-sided join for the same rows. Node set and
    // every iteration round read the one materialized relation.
    val ann = Materializer.materialize(
      transitionEdges(spark, dir).withColumn("wtot",
        sum(col("w")).over(Window.partitionBy(col("src")))))
    val nodes = ann.select(col("src").as("node"))
      .unionByName(ann.select(col("dst").as("node"))).distinct()
    // round 1 folded: from the uniform init every source holds exactly
    // INIT_MU, so the first round's contribution is a constant formula
    // over the edge list — no rank join and no materialized r0
    var ranks = Materializer.materialize(
      nodes.join(
        ann.select(col("dst"), prContrib(INIT_MU.toString).as("c"))
          .groupBy(col("dst").as("node")).agg(sum(col("c")).as("cin")),
        Seq("node"), "left")
        .select(col("node"),
          (lit(JUMP_MU) + coalesce(col("cin"), lit(0L))).as("r_mu")))
    for (i <- 2 to PR_ITERS) {
      val contrib = ann.join(ranks, ann("src") === ranks("node"))
        .select(col("dst"),
          prContrib("r_mu").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("cin"))
      ranks = Materializer.materialize(
        nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(JUMP_MU) + coalesce(col("cin"), lit(0L))).as("r_mu")))
    }
    ranks
      .select(col("node").as("page"), col("r_mu"),
        (col("r_mu").cast("double") / 1000000.0).as("rank"))
      .orderBy(col("page"))
  }

  val pageRankSql: String = {
    def round(i: Int): String =
      s"""r$i AS (SELECT n.node,
         |  CAST($JUMP_MU + coalesce(sum(($DAMP_PCT * CAST(r.r_mu AS HUGEINT) * a.w) // (100 * a.wtot)), 0)
         |       AS BIGINT) AS r_mu
         |  FROM nodes n
         |  LEFT JOIN ann a ON a.dst = n.node
         |  LEFT JOIN r${i - 1} r ON r.node = a.src
         |  GROUP BY 1)""".stripMargin
    val rounds = (1 to PR_ITERS).map(round).mkString(",\n")
    s"""WITH ev AS (SELECT user_id, ts, event_id,
       |  CAST(json_extract(props, '$$.k') AS INT) AS page FROM events),
       |sq AS (SELECT page, lag(page) OVER (
       |         PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev FROM ev),
       |edges AS (SELECT prev AS src, page AS dst, CAST(count(*) AS BIGINT) AS w
       |          FROM sq WHERE prev IS NOT NULL AND prev <> page GROUP BY 1, 2),
       |ann AS (SELECT e.src, e.dst, e.w, o.wtot FROM edges e
       |        JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS wtot
       |              FROM edges GROUP BY 1) o ON e.src = o.src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst AS node FROM edges),
       |r0 AS (SELECT node, CAST($INIT_MU AS BIGINT) AS r_mu FROM nodes),
       |$rounds
       |SELECT node AS page, r_mu, CAST(r_mu AS DOUBLE) / 1000000.0 AS rank
       |FROM r$PR_ITERS ORDER BY 1""".stripMargin
  }

  private val PATH_TOPK = 15

  /** Most-travelled 3-step page paths: per user, consecutive page
    * triples in (ts, event_id) order (the navigation-pattern statistic
    * next to [[pageRank]]'s stationary view). One partitioned lag
    * window + one (p1,p2,p3) count shuffle + a distributed
    * TakeOrderedAndProject — never a global window. Self-transitions
    * are kept: a triple is a raw navigation observation here, not a
    * deduplicated edge. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        from_json(col("props"), lit("k INT")).getField("k").as("p3"))
      .withColumn("p2", lag(col("p3"), 1).over(byUser))
      .withColumn("p1", lag(col("p3"), 2).over(byUser))
      .filter(col("p1").isNotNull)
      .groupBy(col("p1"), col("p2"), col("p3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("p1").asc, col("p2").asc, col("p3").asc)
      .limit(PATH_TOPK)
  }

  val sessionPathsSql: String =
    s"""WITH ev AS (SELECT user_id, ts, event_id,
       |  CAST(json_extract(props, '$$.k') AS INT) AS p3 FROM events),
       |sq AS (SELECT p3,
       |         lag(p3, 1) OVER w AS p2, lag(p3, 2) OVER w AS p1
       |       FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
       |SELECT p1, p2, p3, CAST(count(*) AS BIGINT) AS cnt
       |FROM sq WHERE p1 IS NOT NULL GROUP BY 1, 2, 3
       |ORDER BY cnt DESC, p1 ASC, p2 ASC, p3 ASC LIMIT $PATH_TOPK""".stripMargin

  /** Per-page degree audit over the transition graph: weighted
    * in/out degrees, distinct neighbor counts, and the reciprocity
    * flagged ratio (how much of the out-weight returns on reverse
    * edges) — the structural companion to [[pageRank]]'s authority
    * scores. Shapes: two aggregates of the materialized edge list +
    * one full-outer id join + one self-join on reversed edges for the
    * reciprocated weight — all key-hashed, linear in |E|. */
  def graphDegrees(spark: SparkSession, dir: String): DataFrame = {
    val edges = Materializer.materialize(transitionEdges(spark, dir))
    val out = edges.groupBy(col("src").as("node"))
      .agg(sum(col("w")).as("out_w"), count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(sum(col("w")).as("in_w"), count(lit(1)).as("in_deg"))
    val recip = edges.as("e").join(
        edges.select(col("src").as("rsrc"), col("dst").as("rdst"),
          col("w").as("rw")),
        col("e.src") === col("rdst") && col("e.dst") === col("rsrc"))
      .groupBy(col("e.src").as("node"))
      .agg(sum(least(col("w"), col("rw"))).as("recip_w"))
    out.join(in, Seq("node"), "full_outer")
      .join(recip, Seq("node"), "left")
      .select(col("node").as("page"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_w"), lit(0L)).as("in_w"),
        when(coalesce(col("out_w"), lit(0L)) > 0,
          coalesce(col("recip_w"), lit(0L)).cast("double") / col("out_w"))
          .otherwise(lit(0.0)).as("reciprocity"))
      .orderBy("page")
  }

  val graphDegreesSql: String =
    s"""WITH ev AS (SELECT user_id, ts, event_id,
       |  CAST(json_extract(props, '$$.k') AS INT) AS page FROM events),
       |sq AS (SELECT page, lag(page) OVER (
       |         PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev FROM ev),
       |edges AS (SELECT prev AS src, page AS dst, CAST(count(*) AS BIGINT) AS w
       |          FROM sq WHERE prev IS NOT NULL AND prev <> page GROUP BY 1, 2),
       |o AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS out_w,
       |             CAST(count(*) AS BIGINT) AS out_deg FROM edges GROUP BY 1),
       |i AS (SELECT dst AS node, CAST(sum(w) AS BIGINT) AS in_w,
       |             CAST(count(*) AS BIGINT) AS in_deg FROM edges GROUP BY 1),
       |rc AS (SELECT e.src AS node, CAST(sum(least(e.w, r.w)) AS BIGINT) AS recip_w
       |       FROM edges e JOIN edges r ON e.src = r.dst AND e.dst = r.src
       |       GROUP BY 1)
       |SELECT coalesce(o.node, i.node) AS page,
       |       coalesce(out_deg, 0) AS out_deg, coalesce(in_deg, 0) AS in_deg,
       |       coalesce(out_w, 0) AS out_w, coalesce(in_w, 0) AS in_w,
       |       CASE WHEN coalesce(out_w, 0) > 0
       |            THEN CAST(coalesce(recip_w, 0) AS DOUBLE) / out_w
       |            ELSE CAST(0.0 AS DOUBLE) END AS reciprocity
       |FROM o FULL OUTER JOIN i ON o.node = i.node
       |LEFT JOIN rc ON coalesce(o.node, i.node) = rc.node
       |ORDER BY 1""".stripMargin

  /** Triangle count + local clustering coefficient per page over the
    * UNDIRECTED transition graph — the cohesion metric next to
    * [[graphDegrees]]' volume metrics. Classic oriented enumeration:
    * edges deduped to a < b pairs, each triangle found exactly once via
    * two equi-joins (wedge a−b−c closed by the (a,c) edge), per-node
    * counts by exploding the 3 corners, coefficient = 2T / d(d−1).
    * Shapes: equi-joins keyed on node ids, linear in Σ wedge counts; at
    * web scale the standard refinement is degree-ordered orientation
    * (orient each edge low-degree → high-degree) so hub wedges don't
    * dominate — id orientation is kept here because the oracle must
    * mirror the exact pair set. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    // the directed edge list is referenced ONCE here (unlike pageRank /
    // graphDegrees), so it folds straight into the undirected-dedup
    // materialization — one write+read round trip instead of two (r15)
    val und = Materializer.materialize(
      transitionEdges(spark, dir)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct())
    val tri = und.as("e1")
      .join(und.as("e2"), col("e2.a") === col("e1.b"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("page"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          coalesce(col("n_triangles"), lit(0L)).cast("double") * 2.0 /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering_coef"))
      .orderBy("page")
  }

  val triangleCountSql: String =
    s"""WITH ev AS (SELECT user_id, ts, event_id,
       |  CAST(json_extract(props, '$$.k') AS INT) AS page FROM events),
       |sq AS (SELECT page, lag(page) OVER (
       |         PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev FROM ev),
       |und AS (SELECT DISTINCT least(prev, page) AS a, greatest(prev, page) AS b
       |        FROM sq WHERE prev IS NOT NULL AND prev <> page),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |        FROM und e1 JOIN und e2 ON e2.a = e1.b
       |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
       |       FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY 1),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
       |          (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
       |        GROUP BY 1)
       |SELECT CAST(deg.node AS INT) AS page, degree,
       |       coalesce(n_triangles, 0) AS n_triangles,
       |       CASE WHEN degree >= 2
       |            THEN CAST(coalesce(n_triangles, 0) AS DOUBLE) * 2.0 /
       |                 CAST(degree * (degree - 1) AS DOUBLE)
       |            ELSE CAST(0.0 AS DOUBLE) END AS clustering_coef
       |FROM deg LEFT JOIN pn ON deg.node = pn.node
       |ORDER BY 1""".stripMargin

  // -------------------------------------- outgoing-transition entropy
  /** Per-page Shannon entropy of the OUTGOING transition distribution —
    * the navigational-predictability audit (H ≈ 0: every visitor goes
    * the same place next, a funnel; H ≈ ln(out_degree): a hub whose next
    * hop is unpredictable). Evenness normalizes by the degree ceiling.
    *
    * One (src,dst) count shuffle (the shared `predges` materialization)
    * + one src rollup — linear in |E| at any scale. Determinism:
    * H = ln W − (Σ w·ln w)/W over integer counts, so every ln argument
    * is an integer: Σ w·lnMu(w) is exact, accumulated in DECIMAL(38,0)
    * (oracle: HUGEINT) since a 10¹¹-count hot edge puts w·lnMu(w) past
    * 2⁶³, where BIGINT would wrap; the division is one fixed IEEE chain,
    * and the final H_mu is an exact long per page. */
  def transitionEntropy(spark: SparkSession, dir: String): DataFrame =
    entropyFromEdges(Materializer.materialize(transitionEdges(spark, dir)))

  /** Entropy rollup over a prebuilt (src, dst, w) edge relation — split
    * out so the overflow sweep can drive it with 10¹¹-count hot edges. */
  private[graft] def entropyFromEdges(edges: DataFrame): DataFrame = {
    val hMu = lnMu(col("wtot")) -
      floor(col("swl").cast("double") / col("wtot").cast("double") + lit(0.5)).cast("long")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    edges.groupBy(col("src").as("page"))
      .agg(count(lit(1)).as("out_degree"), sum(col("w")).as("wtot"),
        sum(col("w").cast(dec38) * lnMu(col("w")).cast(dec38)).as("swl"))
      .select(col("page"), col("out_degree"), col("wtot").as("n_transitions"),
        hMu.as("h_mu"),
        when(col("out_degree") > 1,
          hMu.cast("double") / lnMu(col("out_degree")).cast("double"))
          .otherwise(lit(0.0)).as("evenness"))
      .select(col("page"), col("out_degree"), col("n_transitions"),
        (col("h_mu").cast("double") / 1000000.0).as("entropy_nats"), col("evenness"))
      .orderBy("page")
  }

  val transitionEntropySql: String = {
    s"""WITH ev AS (SELECT user_id, ts, event_id,
       |  CAST(json_extract(props, '$$.k') AS INT) AS page FROM events),
       |sq AS (SELECT page, lag(page) OVER (
       |         PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev FROM ev),
       |edges AS (SELECT prev AS src, page AS dst, CAST(count(*) AS BIGINT) AS w
       |          FROM sq WHERE prev IS NOT NULL AND prev <> page GROUP BY 1, 2),
       |per AS (
       |  SELECT src AS page, CAST(count(*) AS BIGINT) AS out_degree,
       |         CAST(sum(w) AS BIGINT) AS wtot,
       |         CAST(sum(CAST(w AS HUGEINT) * ${sqlLnMu("w")}) AS HUGEINT) AS swl
       |  FROM edges GROUP BY 1),
       |h AS (
       |  SELECT page, out_degree, wtot,
       |         ${sqlLnMu("wtot")}
       |           - CAST(floor(CAST(swl AS DOUBLE) / CAST(wtot AS DOUBLE) + 0.5) AS BIGINT)
       |           AS h_mu
       |  FROM per)
       |SELECT page, out_degree, wtot AS n_transitions,
       |       CAST(h_mu AS DOUBLE) / 1000000.0 AS entropy_nats,
       |       CASE WHEN out_degree > 1
       |            THEN CAST(h_mu AS DOUBLE) / CAST(${sqlLnMu("out_degree")} AS DOUBLE)
       |            ELSE 0.0 END AS evenness
       |FROM h ORDER BY page""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank"       -> (pageRank _),
    "q_session_paths"  -> (sessionPaths _),
    "q_graph_degrees"  -> (graphDegrees _),
    "q_triangle_count" -> (triangleCount _),
    "q_transition_entropy" -> (transitionEntropy _))

  val oracles: Map[String, String] = Map(
    "q_pagerank"       -> pageRankSql,
    "q_session_paths"  -> sessionPathsSql,
    "q_graph_degrees"  -> graphDegreesSql,
    "q_triangle_count" -> triangleCountSql,
    "q_transition_entropy" -> transitionEntropySql)
}
