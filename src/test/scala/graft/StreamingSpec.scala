package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingAnalytics

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class Doc(doc_id: Long, ts: Timestamp, text: String)
case class LDoc(doc_id: Long, ts: Timestamp, lang: String, text: String)
case class Pv(event_id: Long, ts: Timestamp, page_views: Int)
case class Sd(event_id: Long, ts: Timestamp, session_duration: Double)
case class Tp(event_id: Long, ts: Timestamp, time_on_page: Double)

/** Stream-vs-batch differential suite (SURVEY.md §5.2): the same analytic
  * run through Structured Streaming must equal the batch computation —
  * exactly for the stateful mode, as a partial-sum identity for the
  * reference-faithful multi-sink foreachBatch mode. */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def mkEvents(n: Int): Seq[Ev] =
    (0 until n).map { i =>
      Ev(i.toLong, Timestamp.valueOf(f"2025-04-08 00:${i / 60}%02d:${i % 60}%02d"),
        (i % 7).toLong, if (i % 3 == 0) "view" else "click", (i % 40) * 0.7)
    }

  test("stateful windowed aggregation equals the batch computation exactly") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val rows = mkEvents(600) // 10 minutes → two 5-min windows
    // two micro-batches to prove cross-batch window state merging
    stream.addData(rows.take(250))
    val q = StreamingAnalytics.engagementWindowed(stream.toDF())
      .writeStream.outputMode("complete").format("memory")
      .queryName("stateful_agg").start()
    try {
      q.processAllAvailable()
      stream.addData(rows.drop(250))
      q.processAllAvailable()
      val streamed = spark.table("stateful_agg")
      val batch = StreamingAnalytics.engagementWindowed(rows.toDF())
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("multi-sink foreachBatch writes all four reference outputs from one persisted batch") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val work = Files.createTempDirectory("graft_multisink").toString
    val rows = mkEvents(600)
    val q = graft.streaming.StreamingAnalytics
      .runMultiSink(stream.toDF(), s"$work/out", s"$work/ckpt")
    try {
      stream.addData(rows.take(300)); q.processAllAvailable()
      stream.addData(rows.drop(300)); q.processAllAvailable()
    } finally q.stop()
    // streaming_metrics: every input row once, with a non-negative latency
    val metrics = spark.read.parquet(s"$work/out/streaming_metrics")
    assert(metrics.count() == 600)
    assert(metrics.filter(col("latency_sec") < 0).isEmpty)
    // distribution + categories: per-epoch partials sum to the batch truth
    // (comparision.sql identity); one window × page_views bucket may
    // appear once per micro-batch with partial counts
    val distRows = spark.read.parquet(s"$work/out/page_views_distribution")
    assert(distRows.select(countDistinct(col("epoch_id"))).first().getLong(0) >= 2)
    val dist = distRows
      .groupBy("window_start", "window_end", "page_views").agg(sum("cnt").as("cnt"))
    val distBatch = StreamingAnalytics.pageViewsCounts(rows.toDF())
    assert(dist.exceptAll(distBatch).isEmpty && distBatch.exceptAll(dist).isEmpty)
    val cats = spark.read.parquet(s"$work/out/session_categories")
      .groupBy("window_start", "window_end", "session_category").agg(sum("cnt").as("cnt"))
    val catsBatch = StreamingAnalytics.sessionCategoryCounts(rows.toDF())
    assert(cats.exceptAll(catsBatch).isEmpty && catsBatch.exceptAll(cats).isEmpty)
    // engagement scores present per epoch
    assert(spark.read.parquet(s"$work/out/engagement_scores").count() > 0)
    // latency-quantiles rollup (VERDICT r6 #8): one row per epoch,
    // ordered quantiles, counts reconciling with the raw metrics, and
    // every quantile verified against a driver-side exact recount
    val lat = StreamingAnalytics.latencyQuantiles(metrics).collect()
    assert(lat.length == metrics.select(countDistinct(col("epoch_id"))).first().getLong(0))
    assert(lat.map(_.getAs[Long]("n_records")).sum == 600L)
    val raw = metrics.select("epoch_id", "latency_sec").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    lat.foreach { r =>
      val vs = raw(r.getAs[Long]("epoch_id")).map(_._2).sorted
      def exactQ(q: Double) = vs(math.ceil(vs.length * q).toInt - 1)
      assert(r.getAs[Long]("min_sec") == vs.head && r.getAs[Long]("max_sec") == vs.last)
      assert(r.getAs[Long]("p50_sec") == exactQ(0.5), "p50 mismatch")
      assert(r.getAs[Long]("p90_sec") == exactQ(0.9), "p90 mismatch")
      assert(r.getAs[Long]("p99_sec") == exactQ(0.99), "p99 mismatch")
      assert(r.getAs[Long]("min_sec") <= r.getAs[Long]("p50_sec") &&
        r.getAs[Long]("p50_sec") <= r.getAs[Long]("p90_sec") &&
        r.getAs[Long]("p90_sec") <= r.getAs[Long]("p99_sec") &&
        r.getAs[Long]("p99_sec") <= r.getAs[Long]("max_sec"))
    }
  }

  test("multi-sink runs the 3-way stateful join once per data batch") {
    // foreachBatch hands over a plan on the incremental execution's RDD:
    // an emptiness check before persist() ran the join (loading and
    // committing its state stores) and the first write ran it again.
    // A counter above the join sees every row the join emits, each time
    // it is computed, so it must equal the rows joined, batch by batch.
    val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val work = Files.createTempDirectory("graft_join_once").toString
    val emitted = spark.sparkContext.longAccumulator("join rows emitted")
    val tally = udf { (id: Long) => emitted.add(1L); id }.asNondeterministic()
    val ev = stream.toDF()
    val joined = StreamingAnalytics.threewayJoin(
        ev.select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          floor(col("value") / 10).cast("int").as("page_views")),
        ev.select(col("event_id"), col("ts"), col("value").as("session_duration")),
        ev.select(col("event_id"), col("ts"), (col("value") * 0.5).as("time_on_page")))
      .select(tally(col("event_id")).as("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("session_duration").as("value"))
    val q = StreamingAnalytics.runMultiSink(joined, s"$work/out", s"$work/ckpt")
    val rows = mkEvents(600)
    try {
      rows.grouped(200).zipWithIndex.foreach { case (b, i) =>
        stream.addData(b); q.processAllAvailable()
        assert(emitted.value == 200L * (i + 1), s"join rows computed after batch $i")
      }
    } finally q.stop()
    assert(spark.read.parquet(s"$work/out/streaming_metrics").count() == 600)
  }

  test("restart from checkpoint resumes exactly where the stopped query left off (K7)") {
    val work = Files.createTempDirectory("graft_ckpt_rec").toString
    val incoming = s"$work/incoming"
    val rows = mkEvents(600)
    rows.take(300).toDF().select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(incoming)
    def runOnce(): Unit = {
      val q = graft.streaming.StreamingAnalytics.runMultiSink(
        StreamingAnalytics.eventsFileStream(spark, incoming),
        s"$work/out", s"$work/ckpt",
        Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      try q.awaitTermination() finally q.stop()
    }
    runOnce() // processes the first 300 rows, commits, terminates
    rows.drop(300).toDF().select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(incoming)
    runOnce() // same checkpoint: must pick up ONLY the new files
    val metrics = spark.read.parquet(s"$work/out/streaming_metrics")
    // exactly-once across the restart: 600 rows, no event replayed
    assert(metrics.count() == 600)
    assert(metrics.select("event_id").distinct().count() == 600)
    // the second run continued the epoch sequence instead of restarting it
    assert(metrics.select(countDistinct(col("epoch_id"))).first().getLong(0) >= 2)
  }

  test("checkpoint restart under schema evolution: added input column resumes; " +
      "changed state schema fails loudly (r7 #8)") {
    val work = Files.createTempDirectory("graft_ckpt_evo").toString
    val rows = mkEvents(600)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")

    // Part A — INPUT evolution, compatible: the source declares an
    // explicit schema (eventsFileStream), so files that GAIN a column
    // after the checkpoint was laid down read back fine (parquet with an
    // explicit schema projects the declared columns and ignores extras).
    // The restart must keep exactly-once semantics across the evolution.
    val incoming = s"$work/incoming"
    rows.take(300).toDF().select(cols.map(col): _*)
      .write.mode("append").parquet(incoming)
    def runSink(): Unit = {
      val q = StreamingAnalytics.runMultiSink(
        StreamingAnalytics.eventsFileStream(spark, incoming),
        s"$work/out", s"$work/ckpt",
        Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      try q.awaitTermination() finally q.stop()
    }
    runSink()
    rows.drop(300).toDF().select(cols.map(col): _*)
      .withColumn("schema_v2_extra", lit("added-after-checkpoint"))
      .write.mode("append").parquet(incoming)
    runSink() // same checkpoint, evolved files
    val metrics = spark.read.parquet(s"$work/out/streaming_metrics")
    assert(metrics.count() == 600, "restart under added input column lost/replayed rows")
    assert(metrics.select("event_id").distinct().count() == 600)

    // Part B — STATE evolution, incompatible: restarting a stateful
    // windowed aggregation from a checkpoint with an ADDED aggregate
    // changes the state-store value schema (avg keeps (sum,count); the
    // new sum adds a field). Spark's StateSchemaCompatibilityChecker
    // must reject this LOUDLY at restart — a silent resume over
    // misaligned state rows would corrupt every open window. We pin the
    // loud-failure contract, not a message string.
    val incoming2 = s"$work/incoming2"
    rows.take(300).toDF().select(cols.map(col): _*)
      .write.mode("append").parquet(incoming2)
    def runAgg(addSum: Boolean): Unit = {
      val src = StreamingAnalytics.eventsFileStream(spark, incoming2)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "5 minutes").as("w"))
      val agg = if (addSum)
        src.agg(avg("value").as("a"), sum("value").as("s"))
      else src.agg(avg("value").as("a"))
      val q = agg.select(col("w.start").as("window_start"), col("*"))
        .drop("w")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/ckpt2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$work/out2").start()
      try q.awaitTermination() finally q.stop()
    }
    runAgg(addSum = false)
    rows.drop(300).toDF().select(cols.map(col): _*)
      .write.mode("append").parquet(incoming2)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runAgg(addSum = true)
    }
    val msg = (e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")).toLowerCase
    assert(msg.contains("schema"),
      s"expected a state-schema incompatibility error, got: ${e.getMessage}")
  }

  test("late data: beyond-watermark rows are dropped, inside-watermark rows are merged (T1)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val q = StreamingAnalytics.engagementWindowed(
        stream.toDF().withWatermark("ts", "1 minute"))
      .writeStream.outputMode("append").format("memory")
      .queryName("late_data").start()
    try {
      // batch 1: window0 = [00:00, 00:05); max event time 00:02:00 →
      // watermark after the batch is 00:01:00
      stream.addData((0 until 10).map(i =>
        Ev(i.toLong, Timestamp.valueOf("2025-04-08 00:02:00"), (i % 7).toLong, "view", 10.0 + i)))
      q.processAllAvailable()
      // batch 2: a late row at 00:01:30 — INSIDE the 00:01:00 watermark,
      // so it must merge into window0's open state (reference semantics:
      // spark_streaming_new.py:79-81) — plus a row at 00:20 whose event
      // time advances the watermark to 00:19:00, past window0's end
      stream.addData(Seq(
        Ev(100L, Timestamp.valueOf("2025-04-08 00:01:30"), 1L, "view", 100.0),
        Ev(101L, Timestamp.valueOf("2025-04-08 00:20:00"), 1L, "view", 1.0)))
      q.processAllAvailable()
      // batch 3: a row for window0 at 00:02:00 — BEYOND the 00:19:00
      // watermark now, so append mode must drop it entirely
      stream.addData(Seq(
        Ev(102L, Timestamp.valueOf("2025-04-08 00:02:00"), 2L, "view", 999.0)))
      q.processAllAvailable()
      val w0 = spark.table("late_data")
        .filter(col("window_start") === "2025-04-08 00:00:00")
      // emitted exactly once (closed by the watermark, never re-opened)
      assert(w0.count() == 1)
      val row = w0.first()
      // the inside-watermark row was merged before the window closed...
      assert(row.getAs[Double]("max_score") == 100.0)
      assert(row.getAs[Double]("min_score") == 10.0)
      // ...and the beyond-watermark row (999.0) was dropped, not merged
      assert(row.getAs[Double]("avg_score") ==
        ((0 until 10).map(10.0 + _).sum + 100.0) / 11)
    } finally q.stop()
  }

  test("native session_window equals the custom sessionizer and the batch truth") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    def ev(id: Long, u: Long, t: String, v: Double) =
      Ev(id, Timestamp.valueOf(t), u, "view", v)
    val rows = Seq(
      ev(0, 1, "2025-04-08 00:00:00", 10.0),
      ev(1, 1, "2025-04-08 00:10:00", 20.0),
      ev(2, 1, "2025-04-08 00:40:00", 7.125), // EXACTLY GAP later → extends (inclusive boundary)
      ev(3, 2, "2025-04-08 00:05:00", 5.5),
      ev(4, 2, "2025-04-08 00:20:00", 6.25),
      ev(5, 1, "2025-04-08 01:30:00", 30.0), // > GAP after 00:40 → new session
      ev(6, 1, "2025-04-08 01:35:00", 40.0))
    val q = streaming.Sessionize.sessionsNative(
        stream.toDF().withWatermark("ts", "1 minute"))
      .writeStream.outputMode("append").format("memory")
      .queryName("native_sessions").start()
    try {
      // batch split at id 5: a session already CLOSED by the watermark
      // (emitted, append mode) cannot absorb an admitted-but-late event —
      // the same no-retraction caveat the custom sessionizer documents —
      // so the split must not strand half of u2's session behind the
      // batch-1 watermark
      stream.addData(rows.take(5)); q.processAllAvailable()
      stream.addData(rows.drop(5)); q.processAllAvailable()
      // watermark advancers close the open session windows
      stream.addData(Seq(ev(100, 99, "2025-04-08 09:00:00", 0.0)))
      q.processAllAvailable()
      stream.addData(Seq(ev(101, 99, "2025-04-08 10:00:00", 0.0)))
      q.processAllAvailable()
      val got = spark.table("native_sessions").filter(col("user_id") < 99)
      assert(got.count() == 3) // u1 ×2 (the 00:40 event merged), u2 ×1
      // inclusive-boundary session spans 00:00–00:40 with all 3 events
      val s1 = got.filter(col("user_id") === 1 &&
        col("session_start") === Timestamp.valueOf("2025-04-08 00:00:00")).collect()
      assert(s1.length == 1 && s1.head.getAs[Long]("n_events") == 3)
      assert(s1.head.getAs[Timestamp]("session_end") ==
        Timestamp.valueOf("2025-04-08 00:40:00"))
      assert(s1.head.getAs[Double]("session_value") == 37.13) // 7.125 → 7.13 half-up
      // three-way agreement: streamed native == batch native == batch lag/cumsum
      val batchNative = streaming.Sessionize.sessionsNative(rows.toDF())
      assert(got.exceptAll(batchNative).isEmpty && batchNative.exceptAll(got).isEmpty)
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc)
      val lagBatch = rows.toDF()
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_s", when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > streaming.Sessionize.GAP_MS, 1)
          .otherwise(0))
        .withColumn("seq", sum(col("new_s")).over(
          byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("seq"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"), Tables.dsum(col("value")).as("session_value"))
        .drop("seq")
      assert(got.exceptAll(lagBatch).isEmpty && lagBatch.exceptAll(got).isEmpty)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization matches the batch lag/cumsum sessions") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    // two users, a 30-min+ inactivity gap inside user 1's history
    def ev(id: Long, u: Long, t: String, v: Double) =
      Ev(id, Timestamp.valueOf(t), u, "view", v)
    val rows = Seq(
      ev(0, 1, "2025-04-08 00:00:00", 10.0),
      ev(1, 1, "2025-04-08 00:10:00", 20.0),
      ev(2, 2, "2025-04-08 00:05:00", 5.5),
      ev(3, 2, "2025-04-08 00:20:00", 6.25),
      ev(4, 1, "2025-04-08 01:00:00", 30.0), // > 30 min after 00:10 → new session
      ev(5, 1, "2025-04-08 01:05:00", 40.0))
    val q = streaming.Sessionize.sessions(
        stream.toDF().withWatermark("ts", "1 minute"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions").start()
    try {
      stream.addData(rows.take(3)); q.processAllAvailable()
      stream.addData(rows.drop(3)); q.processAllAvailable()
      // watermark advancers: push event time far past every session's
      // end + gap so EventTimeTimeout closes the open sessions (two
      // batches — the timeout fires in the batch AFTER the watermark
      // update that arms it)
      stream.addData(Seq(ev(100, 99, "2025-04-08 09:00:00", 0.0)))
      q.processAllAvailable()
      stream.addData(Seq(ev(101, 99, "2025-04-08 10:00:00", 0.0)))
      q.processAllAvailable()
      val got = spark.table("sessions").filter(col("user_id") < 99)
      // batch truth: same gap/cents semantics via lag + cumulative sum
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc)
      val batch = rows.toDF()
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_s", when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > streaming.Sessionize.GAP_MS, 1)
          .otherwise(0))
        .withColumn("seq", sum(col("new_s")).over(
          byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("seq"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          (sum(round(col("value") * 100)) / 100.0).as("session_value"))
        .drop("seq")
      assert(got.count() == 3) // (1: two sessions) + (2: one session)
      assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
    } finally q.stop()
  }

  test("stream-static enrichment joins every micro-batch row to the dim") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val dim = (0L until 7L).map(u => (u, if (u % 2 == 0) "even" else "odd"))
      .toDF("user_id", "tier")
    val q = StreamingAnalytics.enrichWithDim(stream.toDF(), dim, Seq("user_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("enriched").start()
    try {
      val rows = mkEvents(100)
      stream.addData(rows.take(50)); q.processAllAvailable()
      stream.addData(rows.drop(50)); q.processAllAvailable()
      val out = spark.table("enriched")
      assert(out.count() == 100) // left join: every stream row survives
      assert(out.filter(col("tier").isNull).isEmpty) // all users covered
      assert(out.filter(col("tier") === "even")
        .filter(col("user_id") % 2 =!= 0).isEmpty)
    } finally q.stop()
  }

  test("sessionize absorbs within-lateness out-of-order events without rewinding") {
    import graft.streaming.{SessionState, Sessionize, UserState}
    def ts(s: String) = Timestamp.valueOf(s)
    // open session [10:00, 10:00]; a later batch delivers an event 30s
    // EARLIER (admitted by the watermark) — must extend start, not
    // rewind end
    val (closed1, open1) = Sessionize.foldBatch(1L,
      Seq((ts("2025-04-08 09:59:30"), 2.0)),
      Some(UserState(SessionState(ts("2025-04-08 10:00:00"), ts("2025-04-08 10:00:00"), 1L, 100L))))
    assert(closed1.isEmpty)
    assert(open1.get.open.start == ts("2025-04-08 09:59:30"))
    assert(open1.get.open.end == ts("2025-04-08 10:00:00")) // end NOT rewound
    // a following gap-exceeding event closes a WELL-FORMED session
    val (closed2, open2) = Sessionize.foldBatch(1L,
      Seq((ts("2025-04-08 10:31:00"), 1.0)), open1)
    assert(closed2.size == 1)
    val s = closed2.head
    assert(!s.session_end.before(s.session_start) && s.n_events == 2)
    assert(open2.get.open.n == 1)
    // a straggler > GAP before the open start becomes the PENDING
    // session carried in state; the open session is untouched and
    // nothing closes yet
    val (closed3, open3) = Sessionize.foldBatch(1L,
      Seq((ts("2025-04-08 09:00:00"), 5.0)), open2)
    assert(closed3.isEmpty)
    assert(open3.get.open == open2.get.open)
    assert(open3.get.pending ==
      Some(SessionState(ts("2025-04-08 09:00:00"), ts("2025-04-08 09:00:00"), 1L, 500L)))
    // a NEXT batch's straggler within GAP of the carried pending MERGES
    // into it (the cross-batch carry), instead of emitting separately
    val (closed3b, open3b) = Sessionize.foldBatch(1L,
      Seq((ts("2025-04-08 09:20:00"), 1.0)), open3)
    assert(closed3b.isEmpty)
    assert(open3b.get.pending ==
      Some(SessionState(ts("2025-04-08 09:00:00"), ts("2025-04-08 09:20:00"), 2L, 600L)))
    // ...and a straggler > GAP past the pending closes it as ONE
    // two-event session and becomes the new pending
    val (closed3c, open3c) = Sessionize.foldBatch(1L,
      Seq((ts("2025-04-08 09:55:00"), 2.0)), open3b)
    assert(closed3c == Seq(graft.streaming.SessionRow(1L,
      ts("2025-04-08 09:00:00"), ts("2025-04-08 09:20:00"), 2L, 6.0)))
    assert(open3c.get.pending.get.start == ts("2025-04-08 09:55:00"))
    // TWO stragglers within GAP of each other form ONE session (batch
    // semantics); a third > GAP past them closes the pair, and the
    // third is carried as pending
    val (closed4, open4) = Sessionize.foldBatch(1L,
      Seq((ts("2025-04-08 08:00:00"), 1.0), (ts("2025-04-08 08:10:00"), 2.0),
        (ts("2025-04-08 09:00:00"), 4.0)), open2)
    assert(closed4 == Seq(
      graft.streaming.SessionRow(1L,
        ts("2025-04-08 08:00:00"), ts("2025-04-08 08:10:00"), 2L, 3.0)))
    assert(open4.get.open == open2.get.open)
    assert(open4.get.pending ==
      Some(SessionState(ts("2025-04-08 09:00:00"), ts("2025-04-08 09:00:00"), 1L, 400L)))
  }

  test("streaming near-dup suppression equals batch first-occurrence on the same replay") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Doc](Encoders.product[Doc], spark.sqlContext)
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val docs = Seq(
      Doc(1L, Timestamp.valueOf("2025-04-08 00:00:10"), base),
      // batch 2: exact near-dup of doc 1 (all 4 band sigs collide) + a
      // genuinely novel doc + a no-shingle doc (2 tokens, no signature)
      Doc(2L, Timestamp.valueOf("2025-04-08 00:00:40"), base),
      Doc(3L, Timestamp.valueOf("2025-04-08 00:00:50"),
        "completely different words describing an unrelated subject matter entirely now"),
      Doc(4L, Timestamp.valueOf("2025-04-08 00:00:55"), "too short"))
    val q = streaming.Sessionize.nearDupDedupStream(stream.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_dedup").start()
    try {
      stream.addData(docs.take(1)); q.processAllAvailable()
      stream.addData(docs.drop(1)); q.processAllAvailable()
      val out = spark.table("neardup_dedup")
        .select("doc_id", "band", "sig").as[(Long, Int, Long)].collect().toSet
      // batch reference: first occurrence of each (band, sig) over the
      // SAME replay order (docs 2-4 arrive after doc 1)
      val sigs = docs.toDF()
        .select(col("doc_id"), explode(operators.Dedup.bandSigs(
          functions.TextHash.shingleHashesFast(col("text")))).as("bs"))
        .select(col("doc_id"), col("bs.band"), col("bs.sig"))
        .as[(Long, Int, Long)].collect()
      val expected = sigs.groupBy(t => (t._2, t._3))
        .map { case (_, hits) => hits.minBy(_._1) }.toSet
      assert(out == expected, s"stream kept $out, batch first-occurrence is $expected")
      // semantics: doc 2 fully suppressed (near-dup), doc 3 fully kept,
      // doc 4 absent (no signature)
      assert(!out.exists(_._1 == 2L))
      assert(out.count(_._1 == 3L) == 4)
      assert(!out.exists(_._1 == 4L))
    } finally q.stop()
  }

  test("streaming quality gate equals the batch quality filter on the same docs") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Doc](Encoders.product[Doc], spark.sqlContext)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").as[(Long, String)]
      .collect().take(50)
      .map { case (id, t) => Doc(id, Timestamp.valueOf("2025-04-08 00:00:10"), t) }
    val q = streaming.Sessionize.qualityGateStream(stream.toDF(), 0.5)
      .writeStream.outputMode("append").format("memory")
      .queryName("quality_gate").start()
    try {
      stream.addData(docs.toSeq); q.processAllAvailable()
      val streamed = spark.table("quality_gate")
        .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
      val batch = operators.TextOps.qualityScore(spark, sf)
        .filter(col("quality_score") >= 0.5)
        .filter(col("doc_id").isin(docs.map(_.doc_id): _*))
        .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
      assert(streamed == batch) // identical doc set AND bit-identical scores
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming curation totals equal the batch gate+dedup on the same docs") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[LDoc](Encoders.product[LDoc], spark.sqlContext)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text").as[(Long, String, String)]
      .collect().take(120)
      .map { case (id, l, t) => LDoc(id, Timestamp.valueOf("2025-04-08 00:01:00"), l, t) }
    val q = streaming.Sessionize.curationStream(stream.toDF(), 0.5)
      .writeStream.outputMode("append").format("memory")
      .queryName("curation_stream").start()
    try {
      stream.addData(docs.toSeq); q.processAllAvailable()
      // advance the watermark past the window so the windowed agg emits
      stream.addData(LDoc(-1L, Timestamp.valueOf("2025-04-08 01:00:00"), "en",
        "the of and to is a the of and")); q.processAllAvailable()
      val streamed = spark.table("curation_stream")
        .filter(col("window_start") === Timestamp.valueOf("2025-04-08 00:00:00"))
        .agg(sum("n_docs"), sum("total_tokens")).head()
      // batch reference: same gate + exact-dedup (any survivor per hash
      // — dup texts have identical token counts, so totals agree no
      // matter which copy the streaming dedup kept)
      val batch = Tables.documents(spark, sf)
        .filter(col("doc_id").isin(docs.map(_.doc_id): _*))
        .filter(operators.TextOps.qualityScoreOf(col("text")) >= 0.5)
        .dropDuplicates("text")
        .agg(count(lit(1)), sum(functions.TextHash.tokenCountFast(col("text")))).head()
      assert(streamed.getLong(0) == batch.getLong(0), "doc counts differ")
      assert(streamed.getLong(1) == batch.getLong(1), "token totals differ")
      assert(batch.getLong(0) > 0)
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark duplicates with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val a = Ev(1L, Timestamp.valueOf("2025-04-08 00:00:10"), 1L, "view", 1.0)
    val b = Ev(2L, Timestamp.valueOf("2025-04-08 00:00:20"), 2L, "view", 2.0)
    val q = streaming.Sessionize.dedupStream(stream.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_dedup").start()
    try {
      stream.addData(Seq(a, b, a)); q.processAllAvailable() // intra-batch dup
      stream.addData(Seq(a)); q.processAllAvailable()       // cross-batch dup
      assert(spark.table("stream_dedup").count() == 2)
      assert(spark.table("stream_dedup").select("event_id").distinct().count() == 2)
    } finally q.stop()
  }

  test("streaming CMS merge is bit-identical to the batch sketch") {
    val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val base = mkEvents(150)
    val ckpt = Files.createTempDirectory("graft_cms_ckpt").toString
    val (q, sketch) = StreamingAnalytics.runCmsAccumulation(
      stream.toDF(), "user_id", ckpt)
    try {
      // three uneven micro-batches — merge must be boundary-invariant
      stream.addData(base.take(40)); q.processAllAvailable()
      stream.addData(base.slice(40, 90)); q.processAllAvailable()
      stream.addData(base.drop(90)); q.processAllAvailable()
      val streamed = sketch()
      val batchSketch = base.toDF()
        .agg(graft.functions.SketchAgg.cms(col("user_id")).as("s"))
        .head().getSeq[Long](0).toArray
      assert(streamed.sameElements(batchSketch),
        "streamed CMS differs from the batch sketch")
      assert(streamed.sum > 0, "degenerate sketch")
    } finally q.stop()
  }

  test("streaming KMV merge is bit-identical to the batch sketch") {
    import org.apache.spark.sql.functions._
    val P = operators.ScalePatterns.KMV_P
    val C = operators.ScalePatterns.KMV_C
    val k = 4 // small k so the sketch saturates (mkEvents has ~7 distinct users)
    val base = mkEvents(150)
    def run(batches: Seq[Seq[Ev]]): Map[String, Seq[Long]] = {
      val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
      val ckpt = Files.createTempDirectory("graft_kmv_ckpt").toString
      val (q, sketch) = streaming.StreamingAnalytics.runKmvAccumulation(
        stream.toDF(), "event_type", "user_id", ckpt, k)
      try {
        batches.foreach { b => stream.addData(b); q.processAllAvailable() }
        sketch()
      } finally q.stop()
    }
    // uneven boundaries vs one batch — the merge must be boundary-invariant
    val streamed = run(Seq(base.take(40), base.slice(40, 90), base.drop(90)))
    val oneShot = run(Seq(base))
    assert(streamed == oneShot, "KMV sketch depends on batch boundaries")
    // and both must equal the batch k-minimum set per key
    val batchSketch = base.toDF()
      .select(col("event_type").as("k"),
        (pmod(col("user_id"), lit(P)) * C % P).as("h"))
      .distinct().collect()
      .groupBy(_.getString(0))
      .map { case (kk, rs) => kk -> rs.map(_.getLong(1)).distinct.sorted.take(k).toSeq }
    assert(streamed == batchSketch, "streamed KMV differs from the batch sketch")
    assert(streamed.nonEmpty && streamed.values.forall(_.size == k),
      "sketch did not saturate — test data too small for chosen k")
  }

  test("streaming top-k merge is bit-identical to the batch kernel") {
    import org.apache.spark.sql.functions._
    val k = 3 // small k so groups saturate and the merge path prunes
    val base = mkEvents(150)
    def run(batches: Seq[Seq[Ev]]): Map[String, Seq[(Long, Double)]] = {
      val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
      val ckpt = Files.createTempDirectory("graft_topk_ckpt").toString
      val (q, topk) = streaming.StreamingAnalytics.runTopKAccumulation(
        stream.toDF(), "event_type", "event_id", "value", k, ckpt)
      try {
        batches.foreach { b => stream.addData(b); q.processAllAvailable() }
        topk()
      } finally q.stop()
    }
    // uneven boundaries vs one batch — the merge must be boundary-invariant
    val streamed = run(Seq(base.take(40), base.slice(40, 90), base.drop(90)))
    val oneShot = run(Seq(base))
    assert(streamed == oneShot, "top-k depends on batch boundaries")
    // and both must equal the batch kernel over the same rows — entries
    // AND order (rank), the full selection contract
    val batchTopk = base.toDF()
      .groupBy(col("event_type").cast("string").as("g"))
      .agg(graft.functions.TopK.topKByScore(
        col("event_id").cast("long"), col("value").cast("double"), k).as("tk"))
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getLong(0), e.getDouble(1))))
      .toMap
    assert(streamed == batchTopk, "streamed top-k differs from the batch kernel")
    assert(streamed.nonEmpty && streamed.values.exists(_.size == k),
      "no group saturated — test data too small for chosen k")
  }

  test("top-k accumulation skips a replayed micro-batch (at-least-once idempotence)") {
    // foreachBatch replays a batch with the SAME batchId after a failed
    // checkpoint commit; re-merging its entries through a Buf would
    // insert duplicates that can evict legitimate distinct entries.
    // Drive the accumulations' shared merge step with the top-k merge;
    // the CMS and KMV accumulations take the same step.
    val acc = new java.util.concurrent.atomic.AtomicReference(
      Map.empty[String, Seq[(Long, Double)]])
    val last = new java.util.concurrent.atomic.AtomicLong(-1L)
    val b0 = Seq("g" -> Seq((1L, 5.0), (2L, 4.0)))
    val b1 = Seq("g" -> Seq((3L, 3.0)))
    def merge(batchId: Long, rows: Seq[(String, Seq[(Long, Double)])]): Unit =
      StreamingAnalytics.mergeBatch(acc, last, batchId)(rows)(StreamingAnalytics.mergeTopK(2))
    merge(0L, b0)
    val afterB0 = acc.get()
    assert(afterB0("g") == Seq((1L, 5.0), (2L, 4.0)))
    // replay of batch 0: must be a no-op — with the old behavior the
    // duplicate (1,5.0)/(2,4.0) inserts would evict nothing visible at
    // k=2 here, but the state would differ after the NEXT merge; assert
    // both the no-op and the downstream selection
    merge(0L, b0)
    assert(acc.get() == afterB0, "replayed batch was merged twice")
    merge(1L, b1)
    assert(acc.get()("g") == Seq((1L, 5.0), (2L, 4.0)),
      "selection after replay+new batch diverged from the exactly-once result")
    // an out-of-order OLD id (replay arriving after a newer merge) is
    // also skipped — the guard is monotone, not equality-based
    merge(0L, b0)
    assert(last.get() == 1L && acc.get()("g") == Seq((1L, 5.0), (2L, 4.0)))
  }

  test("awaitAllGracefully sleeps while a query outlives another") {
    // once one query has ended, awaitAnyTermination returns at once
    // until resetTerminated; without the reset the wait loop spins on a
    // core until the last query ends
    val first = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val second = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val q1 = first.toDF().writeStream.format("noop").start()
    val q2 = second.toDF().writeStream.format("noop").start()
    val stopper = new Thread(() => { Thread.sleep(2000); q2.stop() })
    try {
      q1.stop()
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
      val cpu0 = mx.getCurrentThreadCpuTime
      val wall0 = System.nanoTime()
      stopper.start()
      StreamingAnalytics.awaitAllGracefully(spark)
      val wallS = (System.nanoTime() - wall0) / 1e9
      val cpuS = (mx.getCurrentThreadCpuTime - cpu0) / 1e9
      assert(!q2.isActive && wallS >= 1.5, s"returned after $wallS s with a query active")
      assert(cpuS < 0.3, s"the waiting thread burned $cpuS CPU s in a $wallS s wait")
    } finally { stopper.join(); q1.stop(); q2.stop() }
  }

  test("awaitAllGracefully throws when a query's batch fails") {
    val ok = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val bad = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val qOk = ok.toDF().writeStream.format("noop").start()
    // the batch fails a second after it starts, so the call is already
    // waiting: it reports the queries that end while it waits, not those
    // that ended before it was called
    val qBad = bad.toDF().writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        Thread.sleep(1000)
        throw new IllegalStateException("batch failed on purpose")
      }.start()
    // if the failure were missed, stop the other query instead of hanging
    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
    val stopOk: Runnable = () => qOk.stop()
    watchdog.schedule(stopOk, 60, java.util.concurrent.TimeUnit.SECONDS)
    try {
      bad.addData(mkEvents(1))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamingAnalytics.awaitAllGracefully(spark)
      }
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("batch failed on purpose")))
      assert(qOk.isActive, "a failure must not wait for the other queries")
    } finally { watchdog.shutdownNow(); qOk.stop(); qBad.stop() }
  }

  test("stream-stream interval join equals the batch attribution join") {
    val clicks = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val buys = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val base = mkEvents(180)
    val cRows = base.filter(_.event_id % 2 == 0)  // clicks: even ids
    val pRows = base.filter(_.event_id % 3 == 0)  // purchases: every 3rd
    val q = StreamingAnalytics.attributionJoin(clicks.toDF(), buys.toDF(), 10)
      .writeStream.outputMode("append").format("memory")
      .queryName("attrib").start()
    try {
      clicks.addData(cRows)
      buys.addData(pRows)
      q.processAllAvailable()
      val got = spark.table("attrib")
      val cb = cRows.toDF().select(col("user_id"), col("ts").as("click_ts"))
      val pb = pRows.toDF().select(col("user_id").as("pu"),
        col("ts").as("purchase_ts"), col("value"))
      val expected = cb.join(pb,
        col("user_id") === col("pu") &&
          col("click_ts") <= col("purchase_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("user_id"), col("click_ts"), col("purchase_ts"), col("value"))
      assert(expected.count() > 0, "degenerate replay: no attributable pairs")
      assert(got.count() == expected.count() &&
        got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        s"stream=${got.count()} batch=${expected.count()}")
    } finally q.stop()
  }

  test("3-way stream-stream join is lossless and scores match the formula") {
    implicit val sqlCtx = spark.sqlContext
    val pv = MemoryStream[Pv](Encoders.product[Pv], spark.sqlContext)
    val sd = MemoryStream[Sd](Encoders.product[Sd], spark.sqlContext)
    val tp = MemoryStream[Tp](Encoders.product[Tp], spark.sqlContext)
    val base = mkEvents(120)
    val q = StreamingAnalytics.threewayJoin(pv.toDF(), sd.toDF(), tp.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("threeway").start()
    try {
      pv.addData(base.map(e => Pv(e.event_id, e.ts, (e.value / 10).toInt)))
      sd.addData(base.map(e => Sd(e.event_id, e.ts, e.value)))
      tp.addData(base.map(e => Tp(e.event_id, e.ts, e.value * 0.5)))
      q.processAllAvailable()
      val joined = spark.table("threeway")
      assert(joined.count() == base.size) // lossless: every shard rejoined
      val bad = joined.filter(
        abs(col("engagement_score") -
          (col("page_views") * 0.4 + col("session_duration") * 0.3 +
            col("time_on_page") * 0.3)) > 1e-12)
      assert(bad.isEmpty)
    } finally q.stop()
  }

  test("rate-paced 3-way join replay: configured rows/sec, lossless, latency quantiles") {
    // VERDICT r9 #8: the reference replays its CSV into Kafka at a fixed
    // rows/sec (kafka_producer.py:62, time.sleep(0.05) ≈ 20/s) and
    // persists per-record latency it never reports. Same demo on the
    // built-in `rate` source (the broker-free pacing twin): one paced
    // stream forked into the three metric shards, the watermarked 3-way
    // join, per-epoch processing latency through latencyQuantiles — the
    // end-to-end SLO readout the reference stops short of.
    // SLO gating: the throughput/p99 assertions measure
    // wall-clock behavior of a real-time source — on a loaded box they
    // can fail with no code defect. Sample ambient load at START; when
    // loud, keep the lossless/distinct-id INVARIANTS hard (they hold at
    // any speed) and downgrade the SLO thresholds to info().
    val load1m = try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }
    val quietBox = load1m >= 0 && load1m < 3.0
    val ratePerSec = 200
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", ratePerSec).load()
    val base = rate.select(col("value").as("event_id"), col("timestamp").as("ts"))
    val pv = base.withColumn("page_views", (col("event_id") % 50 + 1).cast("int"))
    val sd = base.withColumn("session_duration", (col("event_id") % 300).cast("double"))
    val tp = base.withColumn("time_on_page", (col("event_id") % 120).cast("double"))
    val metrics = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val joinedCount = new java.util.concurrent.atomic.AtomicLong(0)
    val distinctIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = StreamingAnalytics.threewayJoin(pv, sd, tp)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epoch: Long) =>
        val lat = StreamingAnalytics.withProcessingLatency(batch)
          .select(col("event_id"), col("latency_sec")).collect()
        metrics.synchronized {
          lat.foreach { r =>
            metrics += ((epoch, r.getLong(1)))
            distinctIds.add(r.getLong(0))
          }
        }
        joinedCount.addAndGet(lat.length)
        ()
      }.start()
    try {
      val deadline = System.nanoTime() + 20L * 1000000000L
      while (joinedCount.get() < ratePerSec * 2 && System.nanoTime() < deadline)
        Thread.sleep(250)
    } finally {
      // stop between triggers: an interrupt that lands mid-trigger can
      // reach the query wrapped in another exception, which Spark reports
      // as a query failure instead of a stop. The two-join formulation
      // hit this when planning copied a join node (each copy broadcast
      // the Hadoop conf from its constructor, so the interrupt came back
      // as an InvocationTargetException); waiting for an idle trigger
      // keeps the stop clean whatever the operators do while planning
      val idleBy = System.nanoTime() + 5L * 1000000000L
      while (q.status.isTriggerActive && System.nanoTime() < idleBy) Thread.sleep(1)
      q.stop(); q.awaitTermination()
    }
    val n = joinedCount.get()
    assert(n > 0, "paced replay produced no joined rows at all in 20 s")
    if (quietBox)
      assert(n >= ratePerSec * 2, s"paced replay produced only $n joined rows in 20 s")
    else
      info(s"loud box (loadavg $load1m): throughput SLO skipped, got $n rows")
    // lossless within the run: the three forks carry identical
    // (event_id, ts) keys, so every emitted row is a full 3-way match
    // and no event_id is emitted twice
    assert(distinctIds.size().toLong === n, "a paced event joined twice or split")
    // end-to-end latency through the reference's own quantile readout:
    // paced rows are stamped at wall clock, so seconds-scale p99 proves
    // the pipeline kept up with the configured rate
    val mdf = metrics.synchronized { metrics.toSeq }.toDF("epoch_id", "latency_sec")
    val quants = StreamingAnalytics.latencyQuantiles(mdf).collect()
    assert(quants.nonEmpty)
    val worstP99 = quants.map(r => r.getLong(r.fieldIndex("p99_sec"))).max
    val minLat = quants.map(r => r.getLong(r.fieldIndex("min_sec"))).min
    assert(minLat >= 0, s"negative latency $minLat — clock skew in the pacing")
    if (quietBox)
      assert(worstP99 <= 30, s"p99 latency $worstP99 s — the join fell behind a ${ratePerSec}/s pace")
    else
      info(s"loud box (loadavg $load1m): p99 SLO skipped, measured $worstP99 s")
  }
}
