package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Materializer
import graft.Tables._
import graft.streaming.StreamingAnalytics
import graft.streaming.StreamingAnalytics.{pageViewsCounts, sessionCategoryCounts, withPercentage}

/** Reference-parity web-traffic analytics, re-expressed over the testbed
  * `events` table (`value` = metric, `event_type` = category, `ts` = event
  * time, `event_id` = record id — mapping per SURVEY.md §7.0).
  *
  * Covers SURVEY.md §2 rows: A1-A9, W1/W2, T2/T3, P3/P6/P9, J1-J3, O1/O2.
  * Reference behavior: spark_streaming_new.py:142-252, batch_stream.sql,
  * comparision.sql (Maitri-Shekhda/Dbt-project). The batch-SQL formula
  * variant is adopted as the single spec (SURVEY.md §1.3 unit-ambiguity
  * resolution); windows are epoch-aligned tumbling (T3 ≡ T2 identity).
  *
  * Scale notes: every query is a single hash-aggregate over a
  * low-cardinality key set (window × small enum) → one shuffle, map-side
  * partial aggregation, no driver materialization. The percentage
  * window-function partitions by the same key the aggregate grouped on, so
  * AQE coalesces rather than reshuffles. At 100 TB these all stay
  * embarrassingly parallel; only q_threeway_join carries a wide shuffle
  * (3-way equi-join on (event_id, ts)) which co-partitions all sides on the
  * join key — no broadcast (all sides same size).
  */
object TrafficAnalytics {

  /** 5-min tumbling window; category thresholds mapped to the events value
    * range (reference: Short<5/Medium 5-15/Long — batch_stream.sql:42-46).
    * Non-private: SqlSurface interpolates the SAME constants into its SQL
    * text so the two surfaces can never silently diverge on thresholds. */
  val SHORT_MAX  = 50.0
  val MEDIUM_MAX = 150.0

  // A3 engagement avg/min/max per 5-min window
  // (spark_streaming_new.py:198-212 / batch_stream.sql:57-74); the
  // streaming transform is the one formulation, sorted for presentation
  def engagementWindowed(spark: SparkSession, dir: String): DataFrame =
    StreamingAnalytics.engagementWindowed(events(spark, dir)).orderBy("window_start")

  val engagementWindowedSql: String =
    s"""SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
       |       time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
       |       ${sqlDavg("value")} AS avg_score,
       |       min(value) AS min_score,
       |       max(value) AS max_score
       |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Hopping (sliding) window aggregation — 10-minute windows every
    * 5 minutes: the overlap form every other windowed query here lacks
    * (tumbling = the slide==duration special case). Spark assigns each
    * event to its duration/slide = 2 windows via one Expand (constant
    * 2× row multiplier, combined map-side); the oracle replicates the
    * assignment with an explicit 2-row offset cross join. Decimal-exact
    * mean ([[graft.Tables.davg]]) keeps the hash stable across
    * partitionings. */
  def slidingEngagement(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), davg(col("value")).as("avg_score"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("avg_score"))
      .orderBy("window_start", "event_type")

  val slidingEngagementSql: String =
    s"""SELECT time_bucket(INTERVAL '5 minutes', ts) - k * INTERVAL '5 minutes' AS window_start,
       |       event_type, CAST(count(*) AS BIGINT) AS n_events,
       |       ${sqlDavg("value")} AS avg_score
       |FROM events, (VALUES (0), (1)) AS off(k)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // A1+W1 page-views distribution per window with percentage-of-partition
  // (spark_streaming_new.py:142-153 / batch_stream.sql:6-21)
  def pageViewsDistribution(spark: SparkSession, dir: String): DataFrame =
    withPercentage(pageViewsCounts(events(spark, dir))).orderBy("window_start", "page_views")

  val pageViewsDistributionSql: String =
    """WITH b AS (
      |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws,
      |         CAST(floor(value / 10) AS INT) AS page_views
      |  FROM events)
      |SELECT ws AS window_start, ws + INTERVAL '5 minutes' AS window_end,
      |       page_views, count(*) AS cnt,
      |       count(*) * 100.0 / sum(count(*)) OVER (PARTITION BY ws) AS percentage
      |FROM b GROUP BY ws, page_views ORDER BY 1, 3""".stripMargin

  /** P6 category expression — shared by the batch query below and the
    * streaming fan-out (StreamingAnalytics.sessionCategoryCounts). */
  def sessionCategory(value: Column): Column =
    when(value < SHORT_MAX, "Short")
      .when(value <= MEDIUM_MAX, "Medium")
      .otherwise("Long")

  // P6+A2+W1 session categorization per window
  // (spark_streaming_new.py:168-183 / batch_stream.sql:27-50)
  def sessionCategories(spark: SparkSession, dir: String): DataFrame =
    withPercentage(sessionCategoryCounts(events(spark, dir)))
      .orderBy("window_start", "session_category")

  val sessionCategoriesSql: String =
    s"""WITH b AS (
       |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws,
       |         CASE WHEN value < $SHORT_MAX THEN 'Short'
       |              WHEN value <= $MEDIUM_MAX THEN 'Medium'
       |              ELSE 'Long' END AS session_category
       |  FROM events)
       |SELECT ws AS window_start, ws + INTERVAL '5 minutes' AS window_end,
       |       session_category, count(*) AS cnt,
       |       count(*) * 100.0 / sum(count(*)) OVER (PARTITION BY ws) AS percentage
       |FROM b GROUP BY ws, session_category ORDER BY 1, 3""".stripMargin

  /** Day-of-week × hour-of-day seasonality grid — [[hourlyPatterns]]
    * collapses the week; the full grid is what capacity planning and
    * anomaly baselining actually consume. Each cell carries its
    * observed count and the ratio to the INDEPENDENCE expectation
    * (row_total·col_total/N) in exact ppm — a cell far from 1e6 marks
    * structural seasonality (weekend nights, Monday-morning spikes)
    * rather than volume. ISO weekday (1 = Monday) keeps both engines'
    * calendars aligned (Spark's dayofweek() and DuckDB's dayofweek()
    * disagree on Sunday's index; weekday()+1 ≡ isodow()). One scan,
    * one 168-cell aggregate, two broadcast marginals. */
  def seasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    val cells = events(spark, dir)
      .groupBy((weekday(col("ts")) + 1).as("iso_dow"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n_events"))
    val rowT = cells.groupBy(col("iso_dow")).agg(sum(col("n_events")).as("row_n"))
    val colT = cells.groupBy(col("hod")).agg(sum(col("n_events")).as("col_n"))
    val tot = cells.agg(sum(col("n_events")).as("n"))
    cells.join(broadcast(rowT), "iso_dow").join(broadcast(colT), "hod")
      .crossJoin(broadcast(tot))
      .select(col("iso_dow").cast("int").as("iso_dow"),
        col("hod").cast("int").as("hod"), col("n_events"),
        floor(col("n_events").cast("double") * col("n").cast("double") * 1000000.0 /
          (col("row_n").cast("double") * col("col_n").cast("double")))
          .cast("long").as("ratio_ppm"))
      .orderBy("iso_dow", "hod")
  }

  val seasonalProfileSql: String =
    """WITH cells AS (
      |  SELECT isodow(ts) AS iso_dow, hour(ts) AS hod,
      |         CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2),
      |rt AS (SELECT iso_dow, CAST(sum(n_events) AS BIGINT) AS row_n FROM cells GROUP BY 1),
      |ct AS (SELECT hod, CAST(sum(n_events) AS BIGINT) AS col_n FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS n FROM cells)
      |SELECT CAST(iso_dow AS INT) AS iso_dow, CAST(hod AS INT) AS hod, n_events,
      |  CAST(floor(CAST(n_events AS DOUBLE) * CAST(n AS DOUBLE) * 1000000.0
      |             / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE))) AS BIGINT) AS ratio_ppm
      |FROM cells JOIN rt USING (iso_dow) JOIN ct USING (hod), tot
      |ORDER BY iso_dow, hod""".stripMargin

  // A4 hourly traffic rollup (spark_streaming_new.py:227-239)
  def hourlyPatterns(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(hour(col("ts")).as("hour_of_day"))
      .agg(
        count(lit(1)).as("visit_count"),
        davg(col("value")).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        countDistinct(col("user_id")).as("unique_users"))
      .orderBy("hour_of_day")

  val hourlyPatternsSql: String =
    s"""SELECT CAST(hour(ts) AS INT) AS hour_of_day,
       |       count(*) AS visit_count,
       |       ${sqlDavg("value")} AS avg_value,
       |       min(value) AS min_value,
       |       max(value) AS max_value,
       |       count(DISTINCT user_id) AS unique_users
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // A6 quarterly (15-min) trend with formatted bucket label
  // (batch_stream.sql:80-91; DATE_FORMAT token translation per SURVEY §2.9)
  def quarterlyTrend(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "15 minutes").as("w"))
      .agg(
        count(lit(1)).as("total_sessions"),
        dsum(col("value")).as("total_value"),
        davg(col("value")).as("avg_value_per_session"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:00").as("quarter_window"),
        col("total_sessions"), col("total_value"), col("avg_value_per_session"))
      .orderBy("quarter_window")

  val quarterlyTrendSql: String =
    s"""SELECT strftime(time_bucket(INTERVAL '15 minutes', ts), '%Y-%m-%d %H:%M:00') AS quarter_window,
       |       count(*) AS total_sessions,
       |       ${sqlDsum("value")} AS total_value,
       |       ${sqlDavg("value")} AS avg_value_per_session
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // A7 bounce rate: global conditional-ratio aggregate (batch_stream.sql:95-101)
  def bounceRate(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).agg(
      (sum(when(col("value") < 1, 1).otherwise(0)) * 100.0 / count(lit(1)))
        .as("bounce_rate_percentage"))

  val bounceRateSql: String =
    """SELECT sum(CASE WHEN value < 1 THEN 1 ELSE 0 END) * 100.0 / count(*)
      |       AS bounce_rate_percentage
      |FROM events""".stripMargin

  // A8 conversion rate: conjunctive-predicate ratio (batch_stream.sql:107-113)
  def conversionRate(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).agg(
      (sum(when(col("event_type") === "purchase" && col("value") > 100, 1)
        .otherwise(0)) * 100.0 / count(lit(1))).as("conversion_rate_percentage"))

  val conversionRateSql: String =
    """SELECT sum(CASE WHEN event_type = 'purchase' AND value > 100 THEN 1 ELSE 0 END)
      |       * 100.0 / count(*) AS conversion_rate_percentage
      |FROM events""".stripMargin

  // J1 (batch form): 3-way shard/rejoin on (event_id, ts) + engagement expr
  // (spark_streaming_new.py:89-103). Proves the shard→rejoin is lossless;
  // all three sides co-partition on the same join key → single exchange each.
  def threewayJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val pv = ev.select(col("event_id"), col("ts"),
      floor(col("value") / 10).cast("int").as("page_views"))
    val sd = ev.select(col("event_id"), col("ts"), col("value").as("session_duration"))
    val tp = ev.select(col("event_id"), col("ts"),
      (col("value") * 0.5).as("time_on_page"))
    pv.join(sd, Seq("event_id", "ts"), "inner")
      .join(tp, Seq("event_id", "ts"), "inner")
      .select(
        col("event_id"), col("ts"), col("page_views"),
        col("session_duration"), col("time_on_page"),
        (col("page_views") * 0.4 + col("session_duration") * 0.3 +
          col("time_on_page") * 0.3).as("engagement_score"))
      .orderBy("event_id")
  }

  val threewayJoinSql: String =
    """WITH pv AS (SELECT event_id, ts, CAST(floor(value / 10) AS INT) AS page_views FROM events),
      |     sd AS (SELECT event_id, ts, value AS session_duration FROM events),
      |     tp AS (SELECT event_id, ts, value * 0.5 AS time_on_page FROM events)
      |SELECT pv.event_id, pv.ts, pv.page_views, sd.session_duration, tp.time_on_page,
      |       pv.page_views * CAST(0.4 AS DOUBLE) + sd.session_duration * CAST(0.3 AS DOUBLE)
      |         + tp.time_on_page * CAST(0.3 AS DOUBLE) AS engagement_score
      |FROM pv
      |JOIN sd ON pv.event_id = sd.event_id AND pv.ts = sd.ts
      |JOIN tp ON pv.event_id = tp.event_id AND pv.ts = tp.ts
      |ORDER BY pv.event_id""".stripMargin

  // J2/J3 + A9 + P7: per-analytic mismatch-row extraction + accuracy
  // rollup (comparision.sql:5-79). The reference materializes three
  // *_comparison tables listing the rows where the continuously-updated
  // stream state diverges from batch truth, then rolls accuracy up over
  // the session-categories one (:65-79). The deterministic stand-in for
  // "stream state": a snapshot that has processed every synthetic
  // micro-batch (event_id blocks of 500) EXCEPT the in-flight last one —
  // so the diverging rows are exactly the windows the last batch touches.
  // Joins are FULL OUTER with null-safe inequality: a window/key present
  // on one side only IS a divergence worth listing (and it is what makes
  // the reference's COALESCE in the accuracy rollup live code rather
  // than decoration over an inner join).
  //
  // Scale shape: two hash-aggregates over (window × small key) + a 1-row
  // broadcast aggregate (max batch id) + a full-outer join on the
  // aggregated (already tiny) sides — no base-data NLJ, one wide shuffle
  // per side.

  /** Events with window start, a comparison key, and the synthetic
    * micro-batch id. */
  private def evKeyed(spark: SparkSession, dir: String,
                      keyName: String, keyExpr: Column): DataFrame =
    events(spark, dir).select(
      window(col("ts"), "5 minutes")("start").as("ws"),
      keyExpr.as(keyName),
      floor(col("event_id") / 500).as("batch_id"))

  /** Restrict to the snapshot: every micro-batch but the in-flight last.
    * `df` is expected to be ALREADY AGGREGATED per batch_id, so the
    * 1-row max-batch bound and the filter both run over partials, never
    * base data. */
  private def dropLastBatch(df: DataFrame): DataFrame = {
    val lastBatch = df.agg(max(col("batch_id")).as("max_b"))
    df.crossJoin(broadcast(lastBatch)).filter(col("batch_id") < col("max_b"))
  }

  /** Combine per-batch count partials into (window × key) counts with
    * percentage-of-window — the shape of the reference's
    * session_categories / page_views_distribution tables. */
  private def keyedCounts(partials: DataFrame, keyName: String,
                          cnt: String, pct: String): DataFrame = {
    val byW = Window.partitionBy(col("ws"))
    partials.groupBy(col("ws"), col(keyName)).agg(sum(col("c")).as(cnt))
      .withColumn(pct, col(cnt) * 100.0 / sum(col(cnt)).over(byW))
  }

  /** Mismatch rows for a keyed count analytic (comparision.sql:5-41).
    *
    * Single-scan shape: ONE pass over events produces
    * (ws × key × batch_id) count partials — the only wide shuffle — and
    * the stream side, batch side, and max-batch bound all derive from
    * those partials (map-side combine; everything downstream is
    * re-aggregation of already-tiny rows). The alternative — separate
    * stream/batch aggregations — scans the fact table twice, which is
    * the difference that matters at 100 TB. */
  private def keyedMismatch(spark: SparkSession, dir: String,
                            keyName: String, keyExpr: Column): DataFrame = {
    // materialized: the partials are referenced 3× (stream side, batch
    // side, max-batch bound) and Spark re-computes an un-materialized
    // subtree per reference — 3 fact-table scans instead of 1
    val partials = Materializer.materialize(
      evKeyed(spark, dir, keyName, keyExpr)
        .groupBy(col("ws"), col(keyName), col("batch_id"))
        .agg(count(lit(1)).as("c")))
    val s = keyedCounts(dropLastBatch(partials), keyName, "stream_count", "stream_percentage")
    val b = keyedCounts(partials, keyName, "batch_count", "batch_percentage")
    s.join(b, Seq("ws", keyName), "full_outer")
      .filter(!(col("stream_count") <=> col("batch_count")) ||
        !(col("stream_percentage") <=> col("batch_percentage")))
      .select(
        col("ws").as("window_start"),
        (col("ws") + expr("INTERVAL 5 MINUTES")).as("window_end"),
        col(keyName), col("stream_count"), col("batch_count"),
        col("stream_percentage"), col("batch_percentage"),
        lit("comparison.sql").as("source_file"))
      .orderBy("window_start", keyName)
  }

  // session_categories_comparison (comparision.sql:5-21)
  def sessionCatMismatch(spark: SparkSession, dir: String): DataFrame =
    keyedMismatch(spark, dir, "session_category", sessionCategory(col("value")))

  // page_views_distribution_comparison (comparision.sql:25-41)
  def pageViewsMismatch(spark: SparkSession, dir: String): DataFrame =
    keyedMismatch(spark, dir, "page_views", floor(col("value") / 10).cast("int"))

  // engagement_scores_comparison (comparision.sql:45-63): window-keyed
  // avg/min/max divergence between the snapshot and batch truth. Same
  // single-scan shape as keyedMismatch: one pass builds decimal-exact
  // (sum, count, min, max) partials per (ws × batch_id); both sides are
  // partial combines (associative, so the combined avg is bit-identical
  // to the direct davg).
  def engagementMismatch(spark: SparkSession, dir: String): DataFrame = {
    val partials = Materializer.materialize(
      evKeyed(spark, dir, "value", col("value"))
        .groupBy(col("ws"), col("batch_id"))
        .agg(
          sum(col("value").cast(DecimalType(18, 2))).as("psum"),
          count(col("value")).as("pn"),
          min(col("value")).as("pmin"),
          max(col("value")).as("pmax")))
    def stats(df: DataFrame, p: String): DataFrame =
      df.groupBy(col("ws")).agg(
        (sum(col("psum")).cast(DoubleType) / sum(col("pn"))).as(s"${p}_avg"),
        min(col("pmin")).as(s"${p}_min"),
        max(col("pmax")).as(s"${p}_max"))
    stats(dropLastBatch(partials), "stream").join(stats(partials, "batch"), Seq("ws"), "full_outer")
      .filter(!(col("stream_avg") <=> col("batch_avg")) ||
        !(col("stream_min") <=> col("batch_min")) ||
        !(col("stream_max") <=> col("batch_max")))
      .select(
        col("ws").as("window_start"),
        (col("ws") + expr("INTERVAL 5 MINUTES")).as("window_end"),
        col("stream_avg"), col("batch_avg"),
        col("stream_min"), col("batch_min"),
        col("stream_max"), col("batch_max"),
        lit("comparison.sql").as("source_file"))
      .orderBy("window_start")
  }

  // accuracy_comparison (comparision.sql:65-79): ±10 tolerance rollup
  // OVER the session-categories mismatch table. The COALESCEs are live:
  // full-outer mismatch rows carry a null count on the side that never
  // saw the window/category.
  def comparisonAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val matches = when(
      abs(coalesce(col("stream_count"), lit(0L)) - coalesce(col("batch_count"), lit(0L))) <= 10,
      1).otherwise(0)
    sessionCatMismatch(spark, dir)
      .agg(
        count(lit(1)).as("total_records"),
        sum(matches).as("matching_records"),
        (sum(matches) * 100.0 / count(lit(1))).as("accuracy_percentage"))
      .select(
        lit("session_categories_comparison").as("table_name"),
        col("total_records"), col("matching_records"), col("accuracy_percentage"))
  }

  /** Shared oracle CTE chain: keyed stream/batch counts + full-outer
    * mismatch rows, mirroring [[keyedMismatch]] exactly (same snapshot
    * device, same percentage formula, null-safe IS DISTINCT FROM). */
  private def sqlKeyedMismatch(keyName: String, keySqlExpr: String): String =
    s"""WITH ev AS (
       |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws,
       |         $keySqlExpr AS $keyName,
       |         CAST(floor(event_id / 500) AS BIGINT) AS batch_id
       |  FROM events),
       |mb AS (SELECT max(batch_id) AS max_b FROM ev),
       |s0 AS (SELECT ws, $keyName, count(*) AS stream_count
       |       FROM ev, mb WHERE batch_id < max_b GROUP BY 1, 2),
       |s AS (SELECT ws, $keyName, stream_count,
       |             stream_count * 100.0 / sum(stream_count) OVER (PARTITION BY ws) AS stream_percentage
       |      FROM s0),
       |b0 AS (SELECT ws, $keyName, count(*) AS batch_count FROM ev GROUP BY 1, 2),
       |b AS (SELECT ws, $keyName, batch_count,
       |             batch_count * 100.0 / sum(batch_count) OVER (PARTITION BY ws) AS batch_percentage
       |      FROM b0),
       |mism AS (
       |  SELECT coalesce(s.ws, b.ws) AS window_start,
       |         coalesce(s.ws, b.ws) + INTERVAL '5 minutes' AS window_end,
       |         coalesce(s.$keyName, b.$keyName) AS $keyName,
       |         stream_count, batch_count, stream_percentage, batch_percentage,
       |         'comparison.sql' AS source_file
       |  FROM s FULL JOIN b ON s.ws = b.ws AND s.$keyName = b.$keyName
       |  WHERE stream_count IS DISTINCT FROM batch_count
       |     OR stream_percentage IS DISTINCT FROM batch_percentage)""".stripMargin

  private val sqlSessionCatKey: String =
    s"""CASE WHEN value < $SHORT_MAX THEN 'Short'
       |              WHEN value <= $MEDIUM_MAX THEN 'Medium'
       |              ELSE 'Long' END""".stripMargin

  val sessionCatMismatchSql: String =
    s"""${sqlKeyedMismatch("session_category", sqlSessionCatKey)}
       |SELECT * FROM mism ORDER BY window_start, session_category""".stripMargin

  val pageViewsMismatchSql: String =
    s"""${sqlKeyedMismatch("page_views", "CAST(floor(value / 10) AS INT)")}
       |SELECT * FROM mism ORDER BY window_start, page_views""".stripMargin

  val engagementMismatchSql: String =
    s"""WITH ev AS (
       |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, value,
       |         CAST(floor(event_id / 500) AS BIGINT) AS batch_id
       |  FROM events),
       |mb AS (SELECT max(batch_id) AS max_b FROM ev),
       |s AS (SELECT ws, ${sqlDavg("value")} AS stream_avg,
       |             min(value) AS stream_min, max(value) AS stream_max
       |      FROM ev, mb WHERE batch_id < max_b GROUP BY ws),
       |b AS (SELECT ws, ${sqlDavg("value")} AS batch_avg,
       |             min(value) AS batch_min, max(value) AS batch_max
       |      FROM ev GROUP BY ws)
       |SELECT coalesce(s.ws, b.ws) AS window_start,
       |       coalesce(s.ws, b.ws) + INTERVAL '5 minutes' AS window_end,
       |       stream_avg, batch_avg, stream_min, batch_min, stream_max, batch_max,
       |       'comparison.sql' AS source_file
       |FROM s FULL JOIN b ON s.ws = b.ws
       |WHERE stream_avg IS DISTINCT FROM batch_avg
       |   OR stream_min IS DISTINCT FROM batch_min
       |   OR stream_max IS DISTINCT FROM batch_max
       |ORDER BY 1""".stripMargin

  val comparisonAccuracySql: String =
    s"""${sqlKeyedMismatch("session_category", sqlSessionCatKey)}
       |SELECT 'session_categories_comparison' AS table_name,
       |       count(*) AS total_records,
       |       CAST(sum(CASE WHEN abs(coalesce(stream_count, 0) - coalesce(batch_count, 0)) <= 10
       |                THEN 1 ELSE 0 END) AS BIGINT) AS matching_records,
       |       sum(CASE WHEN abs(coalesce(stream_count, 0) - coalesce(batch_count, 0)) <= 10
       |                THEN 1 ELSE 0 END) * 100.0 / count(*) AS accuracy_percentage
       |FROM mism""".stripMargin

  // S2: JSON decode of an in-flight string column (reference decodes the
  // Kafka value with from_json + explicit schema — spark_streaming_new
  // .py:47-49; here the events.props JSON plays that role).
  def jsonDecode(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        from_json(col("props"), lit("k INT")).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        dsum(col("k")).as("sum_k"),
        davg(col("k")).as("avg_k"))
      .orderBy("event_type")

  val jsonDecodeSql: String =
    s"""WITH t AS (SELECT event_type, CAST(json_extract(props, '$$.k') AS INT) AS k FROM events)
       |SELECT event_type, count(*) AS n, ${sqlDsum("k")} AS sum_k, ${sqlDavg("k")} AS avg_k
       |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------- ordered funnel
  /** Ordered conversion funnel view → click → purchase: a user reaches
    * step k only via events in strictly increasing time order (first
    * view, a click strictly after it, a purchase strictly after that
    * click) — the windowFunnel-style statistic, computed relationally.
    *
    * Per step: one filter + one user-keyed equi-join against the
    * previous step's first-qualifying timestamp + one min aggregate —
    * linear in events, no pair space, three user-keyed shuffles total
    * (at scale they all hash on the same key, so AQE reuses the
    * exchange). The 4-row depth summary is a union of 1-row counts with
    * step-over-step conversion rates from a 1-row broadcast. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    val users = ev.agg(countDistinct(col("user_id")).as("c0"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("mv"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts") > col("mv"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("mc"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts") > col("mc"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("mp"))
    val counts = users
      .crossJoin(broadcast(s1.agg(count(lit(1)).as("c1"))))
      .crossJoin(broadcast(s2.agg(count(lit(1)).as("c2"))))
      .crossJoin(broadcast(s3.agg(count(lit(1)).as("c3"))))
    // ONE pass over the single counts row: a union of per-depth selects
    // would recompute the whole step pipeline once per branch (Catalyst
    // does not share the unioned subtree) — explode a literal 4-struct
    // array instead
    def step(depth: Int, label: String, n: Column, prev: Column) =
      struct(lit(depth).as("depth"), lit(label).as("step"),
        n.as("n_reached"),
        when(prev > 0, n.cast("double") / prev.cast("double"))
          .otherwise(lit(0.0)).as("conv_from_prev"))
    counts
      .select(explode(array(
        step(0, "any", col("c0"), col("c0")),
        step(1, "view", col("c1"), col("c0")),
        step(2, "click_after_view", col("c2"), col("c1")),
        step(3, "purchase_after_click", col("c3"), col("c2")))).as("r"))
      .select(col("r.depth").as("depth"), col("r.step").as("step"),
        col("r.n_reached").as("n_reached"),
        col("r.conv_from_prev").as("conv_from_prev"))
      .orderBy("depth")
  }

  val funnelSql: String =
    s"""WITH ev AS (SELECT user_id, event_type, ts FROM events),
       |u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS c0 FROM ev),
       |s1 AS (SELECT user_id, min(ts) AS mv FROM ev WHERE event_type = 'view' GROUP BY 1),
       |s2 AS (SELECT e.user_id, min(e.ts) AS mc FROM ev e JOIN s1 USING (user_id)
       |       WHERE e.event_type = 'click' AND e.ts > s1.mv GROUP BY 1),
       |s3 AS (SELECT e.user_id, min(e.ts) AS mp FROM ev e JOIN s2 USING (user_id)
       |       WHERE e.event_type = 'purchase' AND e.ts > s2.mc GROUP BY 1),
       |c AS (SELECT c0, (SELECT CAST(count(*) AS BIGINT) FROM s1) AS c1,
       |             (SELECT CAST(count(*) AS BIGINT) FROM s2) AS c2,
       |             (SELECT CAST(count(*) AS BIGINT) FROM s3) AS c3 FROM u)
       |SELECT 0 AS depth, 'any' AS step, c0 AS n_reached,
       |       CASE WHEN c0 > 0 THEN CAST(c0 AS DOUBLE) / c0 ELSE CAST(0.0 AS DOUBLE) END AS conv_from_prev FROM c
       |UNION ALL SELECT 1, 'view', c1,
       |       CASE WHEN c0 > 0 THEN CAST(c1 AS DOUBLE) / c0 ELSE CAST(0.0 AS DOUBLE) END FROM c
       |UNION ALL SELECT 2, 'click_after_view', c2,
       |       CASE WHEN c1 > 0 THEN CAST(c2 AS DOUBLE) / c1 ELSE CAST(0.0 AS DOUBLE) END FROM c
       |UNION ALL SELECT 3, 'purchase_after_click', c3,
       |       CASE WHEN c2 > 0 THEN CAST(c3 AS DOUBLE) / c2 ELSE CAST(0.0 AS DOUBLE) END FROM c
       |ORDER BY depth""".stripMargin

  // ------------------------------------------------ cohort retention
  /** Day-granularity cohort retention matrix: users grouped by
    * first-seen day (the cohort), each later active day counted at its
    * offset from that first day — the (cohort × offset) → users/
    * retention-rate table behind every retention curve.
    *
    * Shape: one distinct (user, day) shuffle, a min-day aggregate per
    * user, one user-keyed join back, one (cohort, offset) count (rows
    * are already user-distinct per day, so plain count(*) IS the
    * distinct-user count), and a cohort-keyed join to the offset-0
    * size for the rate — all linear, no windows.
    *
    * Determinism: counts are integers; the rate is one long/long IEEE
    * division. Cohort day is emitted as a midnight timestamp (same
    * datetime64 round-trip note as q_anomaly_days). */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val act = events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val first = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    val cells = act.join(first, "user_id")
      .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
    val size = cells.filter(col("offset_days") === 0)
      .select(col("cohort").as("c0"), col("n_users").as("cohort_size"))
    cells.join(broadcast(size), col("cohort") === col("c0"))
      .select(col("cohort").cast("timestamp").as("cohort"),
        col("offset_days"), col("n_users"), col("cohort_size"),
        (col("n_users").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
      .orderBy("cohort", "offset_days")
  }

  val cohortRetentionSql: String =
    s"""WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       |f AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY 1),
       |cells AS (SELECT f.cohort,
       |                 CAST(date_diff('day', f.cohort, act.day) AS INT) AS offset_days,
       |                 CAST(count(*) AS BIGINT) AS n_users
       |          FROM act JOIN f USING (user_id) GROUP BY 1, 2),
       |sz AS (SELECT cohort AS c0, n_users AS cohort_size FROM cells WHERE offset_days = 0)
       |SELECT CAST(cells.cohort AS TIMESTAMP) AS cohort, offset_days, n_users, cohort_size,
       |       CAST(n_users AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
       |FROM cells JOIN sz ON cells.cohort = sz.c0
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------- last-touch attribution
  /** Attribution horizon, minutes. */
  private val ATTRIB_MIN = 10

  /** Batch last-touch attribution — each purchase attributed to the
    * same user's latest click at-or-before it, within [[ATTRIB_MIN]]
    * minutes; the ORACLED batch twin of the streaming interval join
    * (`StreamingAnalytics.attributionJoin`'s state-retention contract
    * is exactly this horizon). Shape: the as-of tagged-union trick
    * (q_asof_join) — one user-keyed carry-forward window instead of a
    * pair join, then a scan-local horizon filter. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("t"), lit(0).as("src"),
        col("event_id").as("click_id"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("t"), lit(1).as("src"),
        col("event_id").as("click_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t").asc, col("src").asc, col("click_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    clicks.unionByName(buys)
      .withColumn("last_click_ts",
        last(when(col("src") === 0, col("t")), ignoreNulls = true).over(w))
      .filter(col("src") === 1)
      .select(col("click_id").as("purchase_id"), col("user_id"),
        col("t").as("purchase_ts"),
        when(col("last_click_ts") >=
          col("t") - expr(s"INTERVAL $ATTRIB_MIN MINUTES"), col("last_click_ts"))
          .as("attributed_click_ts"))
      .withColumn("attributed",
        col("attributed_click_ts").isNotNull.cast("int"))
      .orderBy("purchase_id")
  }

  val attributionSql: String =
    s"""WITH u AS (
       |  SELECT user_id, ts AS t, 0 AS src, event_id AS click_id
       |  FROM events WHERE event_type = 'click'
       |  UNION ALL
       |  SELECT user_id, ts, 1, event_id FROM events WHERE event_type = 'purchase'),
       |c AS (SELECT *,
       |        last_value(CASE WHEN src = 0 THEN t END IGNORE NULLS) OVER (
       |          PARTITION BY user_id ORDER BY t ASC, src ASC, click_id ASC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
       |      FROM u)
       |SELECT click_id AS purchase_id, user_id, t AS purchase_ts,
       |       CASE WHEN last_click_ts >= t - INTERVAL $ATTRIB_MIN MINUTES
       |            THEN last_click_ts END AS attributed_click_ts,
       |       CAST(CASE WHEN last_click_ts >= t - INTERVAL $ATTRIB_MIN MINUTES
       |            THEN last_click_ts END IS NOT NULL AS INT) AS attributed
       |FROM c WHERE src = 1 ORDER BY purchase_id""".stripMargin

  /** Multi-touch LINEAR attribution — every click of the user inside
    * the [[ATTRIB_MIN]]-minute window before a purchase shares the
    * credit equally (credit = 1/n_touches): the fairness-model
    * complement of [[attribution]]'s last-touch (which hands 100% to
    * the final click and systematically starves upper-funnel
    * touchpoints). Purchases with no in-window click don't appear —
    * the last-touch query's `attributed` flag already reports those.
    *
    * Shape: a user-keyed equi-join with the time-range as a post-join
    * filter (the batch form of the streaming interval join
    * `StreamingAnalytics.attributionJoin` — same horizon, same state
    * contract); fan-out is bounded by the user's click rate × horizon,
    * never a cross-user pair space. The per-purchase touch count is a
    * purchase-keyed window over that bounded fan-out. */
  def multitouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("ct"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pt"))
    val w = Window.partitionBy(col("purchase_id"))
    buys.join(clicks, Seq("user_id"))
      .filter(col("ct") <= col("pt") &&
        col("ct") >= col("pt") - expr(s"INTERVAL $ATTRIB_MIN MINUTES"))
      .withColumn("n_touches", count(lit(1)).over(w))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("n_touches"),
        (lit(1.0) / col("n_touches")).as("credit"))
      .orderBy("purchase_id", "click_id")
  }

  val multitouchAttributionSql: String =
    s"""WITH c AS (SELECT user_id, event_id AS click_id, ts AS ct
       |           FROM events WHERE event_type = 'click'),
       |b AS (SELECT user_id, event_id AS purchase_id, ts AS pt
       |      FROM events WHERE event_type = 'purchase'),
       |j AS (SELECT purchase_id, b.user_id, click_id,
       |             CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touches
       |      FROM b JOIN c ON b.user_id = c.user_id
       |       AND ct <= pt AND ct >= pt - INTERVAL $ATTRIB_MIN MINUTES)
       |SELECT purchase_id, user_id, click_id, n_touches,
       |       CAST(1.0 AS DOUBLE) / n_touches AS credit
       |FROM j ORDER BY purchase_id, click_id""".stripMargin

  // ---------------------------------------- streaming-metrics rollup
  /** Oracled batch form of
    * [[graft.streaming.StreamingAnalytics.latencyQuantiles]] — the SLO
    * readout over the reference's `streaming_metrics` sink (per-record
    * latency_sec, spark_streaming_new.py:117-118), previously
    * spec-tested only. The sink fixture is a DETERMINISTIC replay:
    * epoch_id is the synthetic micro-batch id (event_id blocks of 500,
    * the same snapshot device as the mismatch family) and latency_sec
    * an affine-hash stand-in for wall-clock latency (the real
    * current_timestamp() derivation can never oracle-match) — so the
    * EXACT rollup code the streaming path runs is hash-checked
    * end-to-end in DuckDB. Scale shape is the rollup's own: one
    * fact-sized pass down to (epoch × integer-second) cells, cumulative
    * window over those bounded cells only. */
  def latencyQuantilesBatch(spark: SparkSession, dir: String): DataFrame = {
    val metrics = events(spark, dir).select(
      floor(col("event_id") / 500).as("epoch_id"),
      pmod(col("event_id") * 131 + 17, lit(37)).cast("int").as("latency_sec"))
    graft.streaming.StreamingAnalytics.latencyQuantiles(metrics)
  }

  val latencyQuantilesBatchSql: String =
    """WITH m AS (SELECT CAST(floor(event_id / 500) AS BIGINT) AS epoch_id,
      |                  CAST((event_id * 131 + 17) % 37 AS INT) AS latency_sec
      |           FROM events),
      |cells AS (SELECT epoch_id, latency_sec, CAST(count(*) AS BIGINT) AS c
      |          FROM m GROUP BY 1, 2),
      |r AS (SELECT epoch_id, latency_sec, c,
      |             sum(c) OVER (PARTITION BY epoch_id ORDER BY latency_sec ASC
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |             sum(c) OVER (PARTITION BY epoch_id) AS n
      |      FROM cells)
      |SELECT epoch_id, CAST(max(n) AS BIGINT) AS n_records,
      |       min(latency_sec) AS min_sec,
      |       min(CASE WHEN cum >= ceil(n * 0.5) THEN latency_sec END) AS p50_sec,
      |       min(CASE WHEN cum >= ceil(n * 0.9) THEN latency_sec END) AS p90_sec,
      |       min(CASE WHEN cum >= ceil(n * 0.99) THEN latency_sec END) AS p99_sec,
      |       max(latency_sec) AS max_sec
      |FROM r GROUP BY epoch_id ORDER BY epoch_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_latency_quantiles"       -> latencyQuantilesBatch _,
    "q_multitouch_attribution"  -> multitouchAttribution _,
    "q_attribution"             -> attribution _,
    "q_cohort_retention"        -> cohortRetention _,
    "q_funnel"                  -> funnel _,
    "q_json_decode"             -> jsonDecode _,
    "q_engagement_windowed"     -> engagementWindowed _,
    "q_sliding_engagement"      -> slidingEngagement _,
    "q_page_views_distribution" -> pageViewsDistribution _,
    "q_session_categories"      -> sessionCategories _,
    "q_hourly_patterns"         -> hourlyPatterns _,
    "q_seasonal_profile"        -> seasonalProfile _,
    "q_quarterly_trend"         -> quarterlyTrend _,
    "q_bounce_rate"             -> bounceRate _,
    "q_conversion_rate"         -> conversionRate _,
    "q_threeway_join"           -> threewayJoin _,
    "q_session_cat_mismatch"    -> sessionCatMismatch _,
    "q_page_views_mismatch"     -> pageViewsMismatch _,
    "q_engagement_mismatch"     -> engagementMismatch _,
    "q_comparison_accuracy"     -> comparisonAccuracy _)

  val oracles: Map[String, String] = Map(
    "q_latency_quantiles"       -> latencyQuantilesBatchSql,
    "q_multitouch_attribution"  -> multitouchAttributionSql,
    "q_attribution"             -> attributionSql,
    "q_cohort_retention"        -> cohortRetentionSql,
    "q_funnel"                  -> funnelSql,
    "q_json_decode"             -> jsonDecodeSql,
    "q_engagement_windowed"     -> engagementWindowedSql,
    "q_sliding_engagement"      -> slidingEngagementSql,
    "q_page_views_distribution" -> pageViewsDistributionSql,
    "q_session_categories"      -> sessionCategoriesSql,
    "q_hourly_patterns"         -> hourlyPatternsSql,
    "q_seasonal_profile"        -> seasonalProfileSql,
    "q_quarterly_trend"         -> quarterlyTrendSql,
    "q_bounce_rate"             -> bounceRateSql,
    "q_conversion_rate"         -> conversionRateSql,
    "q_threeway_join"           -> threewayJoinSql,
    "q_session_cat_mismatch"    -> sessionCatMismatchSql,
    "q_page_views_mismatch"     -> pageViewsMismatchSql,
    "q_engagement_mismatch"     -> engagementMismatchSql,
    "q_comparison_accuracy"     -> comparisonAccuracySql)
}
