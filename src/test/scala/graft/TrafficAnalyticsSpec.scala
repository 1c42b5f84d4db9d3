package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrafficAnalytics

/** The suite's one session: the engine configuration every main runs
  * under ([[GraftSession.builder]]), pinned to 4 cores so results and
  * plan shapes don't depend on the host. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.builder(4)
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .getOrCreate()
  val sf = "/root/testdata/sf0.001"
}

class TrafficAnalyticsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every registered traffic query runs and returns rows") {
    TrafficAnalytics.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
  }

  test("funnel matches a plain-Scala ordered-chain recount") {
    val evs = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = evs.groupBy(_._1)
    val c0 = byUser.size.toLong
    def chain(u: Seq[(Long, String, Long)]): Int = {
      val mv = u.filter(_._2 == "view").map(_._3).sorted.headOption
      val mc = mv.flatMap(v => u.filter(e => e._2 == "click" && e._3 > v)
        .map(_._3).sorted.headOption)
      val mp = mc.flatMap(c => u.filter(e => e._2 == "purchase" && e._3 > c)
        .map(_._3).sorted.headOption)
      if (mp.isDefined) 3 else if (mc.isDefined) 2 else if (mv.isDefined) 1 else 0
    }
    val depths = byUser.values.map(v => chain(v.toSeq)).toSeq
    val (c1, c2, c3) = (depths.count(_ >= 1).toLong,
      depths.count(_ >= 2).toLong, depths.count(_ >= 3).toLong)
    val expected = Seq(
      (0, "any", c0, 1.0),
      (1, "view", c1, c1.toDouble / c0),
      (2, "click_after_view", c2, if (c1 > 0) c2.toDouble / c1 else 0.0),
      (3, "purchase_after_click", c3, if (c2 > 0) c3.toDouble / c2 else 0.0))
    val got = TrafficAnalytics.funnel(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected, s"funnel mismatch: got=$got exp=$expected")
    assert(c3 > 0, "no user completes the funnel at test SF — thresholds drifted")
  }

  test("attribution is consistent with the interval-join pair space") {
    val attributed = TrafficAnalytics.attribution(spark, sf)
      .filter(col("attributed") === 1)
      .select(col("user_id"), col("attributed_click_ts"), col("purchase_ts"))
    assert(attributed.count() > 0, "no attributed purchases at test SF")
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    // every attributed (click_ts, purchase_ts) must be a real click of
    // that user satisfying the interval-join horizon condition …
    val orphan = attributed.join(clicks,
      col("user_id") === col("cu") &&
        col("attributed_click_ts") === col("cts") &&
        col("cts") <= col("purchase_ts") &&
        col("purchase_ts") <= col("cts") + expr("INTERVAL 10 MINUTES"),
      "left_anti")
    assert(orphan.isEmpty, "attributed click not in the interval-join pair space")
    // … and no attributed click may be earlier than another in-horizon
    // click of the same user (last-touch = max qualifying)
    val later = attributed.join(clicks,
      col("user_id") === col("cu") &&
        col("cts") > col("attributed_click_ts") &&
        col("cts") <= col("purchase_ts"))
    assert(later.isEmpty, "a later in-horizon click was not attributed")
  }

  test("cohort retention matches a plain-Scala cohort recount") {
    val act = Tables.events(spark, sf)
      .selectExpr("user_id", "CAST(to_date(ts) AS STRING) AS day").collect()
      .map(r => (r.getLong(0), java.time.LocalDate.parse(r.getString(1)))).distinct
    val first = act.groupBy(_._1).view.mapValues(_.map(_._2).minBy(_.toEpochDay)).toMap
    val cells = act.map { case (u, d) =>
      val c = first(u); ((c, (d.toEpochDay - c.toEpochDay).toInt), 1L)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val size = cells.collect { case ((c, 0), n) => c -> n }.toMap
    val expected = cells.toSeq.map { case ((c, off), n) =>
      (c.toString, off, n, size(c), n.toDouble / size(c)) }
      .sortBy(e => (e._1, e._2))
    val got = TrafficAnalytics.cohortRetention(spark, sf).collect()
      .map(r => (r.getTimestamp(0).toLocalDateTime.toLocalDate.toString,
        r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(got == expected, s"retention mismatch: got=${got.take(3)}… exp=${expected.take(3)}…")
    // every cohort retains 100% of itself at offset 0
    got.filter(_._2 == 0).foreach { e => assert(e._5 == 1.0, s"offset-0 retention != 1: $e") }
  }

  test("percentages per window sum to ~100 (W1 invariant)") {
    val bad = TrafficAnalytics.pageViewsDistribution(spark, sf)
      .groupBy("window_start").agg(sum("percentage").as("p"))
      .filter(abs(col("p") - 100.0) > 1e-6)
    assert(bad.isEmpty)
  }

  test("session categories cover all rows (A2 invariant)") {
    val total = Tables.events(spark, sf).count()
    val catTotal = TrafficAnalytics.sessionCategories(spark, sf)
      .agg(sum("cnt")).first().getLong(0)
    assert(catTotal == total)
  }

  test("engagement min <= avg <= max per window (A3 invariant)") {
    val bad = TrafficAnalytics.engagementWindowed(spark, sf)
      .filter(col("min_score") > col("avg_score") + 1e-9 ||
        col("avg_score") > col("max_score") + 1e-9)
    assert(bad.isEmpty)
  }

  test("3-way shard/rejoin is lossless (J1 invariant)") {
    val n = Tables.events(spark, sf).count()
    assert(TrafficAnalytics.threewayJoin(spark, sf).count() == n)
  }

  test("bounce + non-bounce = 100 (A7 invariant)") {
    val rate = TrafficAnalytics.bounceRate(spark, sf).first().getDouble(0)
    assert(rate >= 0.0 && rate <= 100.0)
  }

  test("comparison accuracy is a percentage (A9)") {
    val row = TrafficAnalytics.comparisonAccuracy(spark, sf).first()
    val acc = row.getAs[Double]("accuracy_percentage")
    assert(acc >= 0.0 && acc <= 100.0)
    assert(row.getAs[Long]("total_records") >= row.getAs[Long]("matching_records"))
  }

  test("mismatch extraction lists only diverging rows (P7, comparision.sql:5-63)") {
    // every extracted row must actually diverge (null-safe: a side that
    // never saw the window/key counts as divergence), and the snapshot
    // side can never exceed batch truth on counts
    val m = TrafficAnalytics.sessionCatMismatch(spark, sf)
    import org.apache.spark.sql.functions.col
    assert(m.count() > 0)
    assert(m.filter(col("stream_count") <=> col("batch_count") &&
      col("stream_percentage") <=> col("batch_percentage")).count() == 0)
    assert(m.filter(col("stream_count") > col("batch_count")).count() == 0)
  }

  test("each hopping window aggregates exactly its two tumbling halves") {
    import org.apache.spark.sql.functions.{col, expr}
    val hop = TrafficAnalytics.slidingEngagement(spark, sf)
      .select(col("window_start"), col("event_type"), col("n_events"))
    // tumbling 5-min counts per type, assigned to BOTH hopping windows
    // that contain the bucket: [bucket-5min, bucket]
    val tumb = Tables.events(spark, sf)
      .select(expr("window(ts, '5 minutes').start").as("b"), col("event_type"))
      .groupBy(col("b"), col("event_type")).count()
    val rebuilt = tumb.select(col("b").as("window_start"), col("event_type"), col("count"))
      .unionAll(tumb.select(expr("b - INTERVAL 5 minutes").as("window_start"),
        col("event_type"), col("count")))
      .groupBy(col("window_start"), col("event_type"))
      .agg(org.apache.spark.sql.functions.sum(col("count")).as("n_events"))
    assert(hop.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(hop).isEmpty,
      "hopping windows disagree with their tumbling decomposition")
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SQL-string surface is interchangeable with the DataFrame twins") {
    // the reference's batch interface is literal SQL; a user's SQL text
    // and our DataFrame builders must be two spellings of the same
    // engine — bit-identical results on the same input
    import graft.operators.SqlSurface
    val pairs = Seq(
      (SqlSurface.sqlEngagement _, TrafficAnalytics.engagementWindowed _),
      (SqlSurface.sqlSessionCategories _, TrafficAnalytics.sessionCategories _),
      (SqlSurface.sqlHourlyPatterns _, TrafficAnalytics.hourlyPatterns _),
      (SqlSurface.sqlQuarterlyTrend _, TrafficAnalytics.quarterlyTrend _),
      (SqlSurface.sqlBounceRate _, TrafficAnalytics.bounceRate _),
      (SqlSurface.sqlConversionRate _, TrafficAnalytics.conversionRate _),
      (SqlSurface.sqlComparisonAccuracy _, TrafficAnalytics.comparisonAccuracy _))
    try for ((sqlFn, dfFn) <- pairs) {
      val viaSql = sqlFn(spark, sf).collect().toSeq
      val viaDf = dfFn(spark, sf).collect().toSeq
      assert(viaSql == viaDf, s"SQL and DataFrame paths disagree: " +
        s"sql=${viaSql.take(3)}… df=${viaDf.take(3)}…")
    } finally Materializer.clear() // sqlComparisonAccuracy materializes partials
  }

  test("SqlSurface views are per-dir unique and dropped after build (no race, no leak)") {
    // ADVICE r7: a session-global `events` view raced two concurrent
    // SqlSurface queries over different dirs — views now embed md5(dir).
    // ADVICE r8: per-dir views accumulated without bound — views are now
    // dropped as soon as the query is built (eager analysis makes the
    // returned DataFrame independent of the catalog entry).
    import graft.operators.SqlSurface
    val sfOther = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sfOther/events.parquet").exists(),
      s"optional fixture $sfOther absent")
    val a = SqlSurface.sqlHourlyPatterns(spark, sf).collect().toSeq
    val b = SqlSurface.sqlHourlyPatterns(spark, sfOther).collect().toSeq
    // re-running dir A AFTER dir B must still serve dir A's data
    val a2 = SqlSurface.sqlHourlyPatterns(spark, sf).collect().toSeq
    assert(a == a2, "re-registration for the same dir changed the result")
    assert(a != b, "two dirs produced identical results (views collided)")
    val views = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("events_"))
    assert(views.isEmpty, s"events views leaked past query build: ${views.toSeq}")
  }

  test("every registered query has a DuckDB oracle (rows-only class extinct)") {
    // Round 7 oracled the last two rows-only queries (q_media_features
    // via the stub codec's SQL-expressible byte math, q_approx_distinct
    // via its bound-check readout) — the exemption set is gone, so a
    // future query can only register WITH an oracle or fail here.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    // and no orphan oracles for unregistered queries
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }
}
