package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.{ArrayBuffer, LinkedHashSet}

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming layer: the reference's streaming pipeline
  * (spark_streaming_new.py) re-expressed Spark-first.
  *
  * The reference runs three Kafka topics → 3-way stream join →
  * foreachBatch per-microbatch window aggregates appended to MySQL. Two
  * semantics are provided here (SURVEY.md §2.7 note):
  *
  *  - [[runStateful]] — the CORRECT streaming formulation: event-time
  *    watermark + stateful `groupBy(window).agg` (append mode). Each
  *    window is emitted exactly once, when the watermark passes it;
  *    late rows inside the watermark are merged into window state.
  *  - [[runMultiSink]] — the reference-faithful variant: one
  *    foreachBatch recomputes the window aggregates of each micro-batch
  *    and appends them to the reference's four tables, so one
  *    event-time window can appear multiple times with partial counts
  *    (what comparision.sql's ±10 tolerance exists to measure).
  *
  * Sources are pluggable DataFrames: tests use MemoryStream, production
  * would use `spark.readStream.format("kafka")` with the same topics as
  * the reference (`spark_streaming_new.py:40-71`) — the transforms below
  * never care. All analytics reuse the batch formulas so the
  * stream-vs-batch differential test can assert exact equality.
  *
  * Scale notes: the stateful aggregates keep one row of state per open
  * (window × key); the 1-minute watermark bounds join/agg state exactly
  * as in the reference (`spark_streaming_new.py:79-81`). The 3-way join
  * shuffles every side once on its key into ONE keyed assembly
  * (`flatMapGroupsWithState`, one state store per partition, one entry
  * per live key, evicted by the watermark), not two chained
  * `StreamingSymmetricHashJoinExec`s: the chain kept eight state stores
  * per partition, stored the first join's output again in the second,
  * and each planned copy of a join node broadcast a fresh Hadoop
  * configuration, about a fifth of a stream-replay micro-batch's CPU.
  * See [[threewayJoin]] for the equivalence contract.
  */
object StreamingAnalytics {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** File-stream source over an events-shaped parquet directory (the
    * offline stand-in for the reference's Kafka sources — SURVEY S1). */
  def eventsFileStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(path)

  // ------------------------------------------------ shared transforms
  // Same formulas as operators.TrafficAnalytics, minus the sort (sorts
  // are not allowed on unaggregated streams) — the batch layer adds
  // ordering at presentation time.

  /** A3: engagement avg/min/max per 5-minute tumbling window. */
  def engagementWindowed(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(
        (sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType) / count(col("value")))
          .as("avg_score"),
        min(col("value")).as("min_score"),
        max(col("value")).as("max_score"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("avg_score"), col("min_score"), col("max_score"))

  /** A1: per-window count by bucketed metric value. */
  def pageViewsCounts(ev: DataFrame): DataFrame =
    ev.select(window(col("ts"), "5 minutes").as("w"),
        floor(col("value") / 10).cast("int").as("page_views"))
      .groupBy(col("w"), col("page_views"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("page_views"), col("cnt"))

  /** W1 percentage-of-window — a batch post-step (window functions are
    * not supported on streaming DataFrames; the reference runs this
    * inside foreachBatch for the same reason). */
  def withPercentage(counts: DataFrame): DataFrame =
    counts.withColumn("percentage",
      col("cnt") * 100.0 / sum(col("cnt")).over(Window.partitionBy(col("window_start"))))

  /** A2: per-window count by session category (same thresholds as the
    * batch operator — TrafficAnalytics.sessionCategory). */
  def sessionCategoryCounts(ev: DataFrame): DataFrame =
    ev.select(window(col("ts"), "5 minutes").as("w"),
        graft.operators.TrafficAnalytics.sessionCategory(col("value"))
          .as("session_category"))
      .groupBy(col("w"), col("session_category"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("session_category"), col("cnt"))

  /** P4: per-record processing latency in seconds — the reference's
    * `streaming_metrics` derivation (unix_timestamp(processing_time) −
    * unix_timestamp(timestamp), spark_streaming_new.py:117-118). */
  def withProcessingLatency(batch: DataFrame): DataFrame =
    batch
      .withColumn("processing_time", current_timestamp())
      .withColumn("latency_sec",
        unix_timestamp(col("processing_time")) - unix_timestamp(col("ts")))

  /** Latency-quantiles rollup over the `streaming_metrics` sink — the
    * readout the reference persists latency FOR (per-record
    * latency_sec, spark_streaming_new.py:117-118) but never
    * distributes: per epoch, exact p50/p90/p99/min/max of processing
    * latency plus the record count — the table an SLO dashboard reads.
    *
    * Scale shape: latencies are INTEGER SECONDS, so per epoch the
    * distinct-value count is tiny (a healthy pipeline spans a few
    * seconds; even a sick one spans thousands, not millions). The
    * rollup aggregates to (epoch, latency_sec) cells first — the only
    * fact-sized pass — then runs the cumulative window over those
    * bounded cells, the same constant-band trick as q_quantiles_disc.
    * Exact quantiles, no per-record sort, no unbounded window frame. */
  def latencyQuantiles(metrics: DataFrame): DataFrame = {
    val cells = metrics.groupBy(col("epoch_id"), col("latency_sec"))
      .agg(count(lit(1)).as("c"))
    val cum = Window.partitionBy(col("epoch_id")).orderBy(col("latency_sec").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("epoch_id"))
    val ranked = cells
      .withColumn("cum", sum(col("c")).over(cum))
      .withColumn("n", sum(col("c")).over(tot))
    def qAt(q: Double, name: String) =
      min(when(col("cum") >= ceil(col("n") * q), col("latency_sec"))).as(name)
    ranked.groupBy(col("epoch_id"))
      .agg(max(col("n")).as("n_records"),
        min(col("latency_sec")).as("min_sec"),
        qAt(0.5, "p50_sec"), qAt(0.9, "p90_sec"), qAt(0.99, "p99_sec"),
        max(col("latency_sec")).as("max_sec"))
      .orderBy("epoch_id")
  }

  /** Stream-static dimension enrichment: a streaming fact left-joined to
    * a static (batch) dimension — stateless, no watermark needed, the
    * planner broadcasts the dim per micro-batch. The standard pattern
    * for attaching slowly-changing metadata to a stream; at scale the
    * dim re-resolves per batch, so an updated dim table is picked up
    * without restarting the query. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** J1: watermarked 3-way stream-stream inner equi-join on
    * (event_id, ts) + engagement score (spark_streaming_new.py:89-103),
    * run as one keyed assembly — the shape of the reference's own Kafka
    * consumer, which buffers a record's parts by key until all three
    * have arrived (kafka_consumer.py:43-56).
    *
    * The three watermarked sides are unioned into rows of (event_id, ts,
    * one nullable payload struct per side) and grouped by the key in one
    * `flatMapGroupsWithState` with `EventTimeTimeout`. A key's state
    * holds its rows from every side until the watermark passes `ts`.
    *
    * Contract: batch by batch, the output is the multiset the chained
    * inner joins `pv ⋈ sd ⋈ tp` USING (event_id, ts) emit, with the same
    * columns (names, types, nullability, order, and the watermark mark on
    * `ts`):
    *  - a batch emits every one-row-per-side combination of a key that
    *    includes at least one row new in this batch, so duplicate keys
    *    give the joins' cross products;
    *  - rows at or behind the previous batch's watermark are dropped, as
    *    the joins drop them, and a key's state goes once the watermark
    *    reaches its `ts`, as the joins evict theirs;
    *  - rows with a null key never match and are not kept.
    * ThreewayJoinSpec checks this against the two-join formulation with
    * seeded schedules.
    *
    * Why not the two joins: each `StreamingSymmetricHashJoinExec` keeps
    * four state stores per partition (two per side), so the chain kept
    * eight plus a second stored copy of the first join's output, and
    * every copy of the join node that planning makes broadcasts a fresh
    * Hadoop configuration (about 113 KB serialized). The assembly keeps
    * one store per partition, with one entry per live key, and shuffles
    * each side once on the same key.
    *
    * The state layout differs from the joins': a checkpoint written by
    * the two-join version of this method cannot be resumed. */
  def threewayJoin(pv: DataFrame, sd: DataFrame, tp: DataFrame): DataFrame = {
    val keys = Seq("event_id", "ts")
    val sides = Seq(pv, sd, tp).map(_.withWatermark("ts", "1 minute"))
    // the joins' output columns: the USING keys as the first side has
    // them, then each side's other columns in order
    val fields = keys.map(sides.head.schema(_)) ++
      sides.flatMap(_.schema.filterNot(f => keys.contains(f.name)))
    val payloads = sides.map(s => StructType(s.schema.filterNot(f => keys.contains(f.name))
      .map(_.copy(metadata = Metadata.empty))))
    val union = sides.zipWithIndex.map { case (s, i) =>
      s.filter(s("event_id").isNotNull && s("ts").isNotNull)
        .select(s("event_id") +: s("ts") +: payloads.indices.map { j =>
          (if (j == i) struct(payloads(i).fieldNames.toSeq.map(s(_)): _*) else lit(null))
            .cast(payloads(j)).as(s"side$j")
        }: _*)
    }.reduce(_ union _)
    val state = StructType(payloads.zipWithIndex.map { case (p, j) =>
      StructField(s"side$j", ArrayType(p, containsNull = false), nullable = false)
    })
    // positional names: the sides may share a column name, as in a join
    val flat = StructType(fields.zipWithIndex.map { case (f, i) =>
      StructField(s"c$i", f.dataType, f.nullable)
    })
    union.groupBy(col("event_id"), col("ts"))
      .as[Row, Row](Encoders.row(StructType(union.schema.take(2))), Encoders.row(union.schema))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        assembleKey(sides.size) _)(Encoders.row(state), Encoders.row(flat))
      .select(fields.zipWithIndex.map { case (f, i) => col(s"c$i").as(f.name, f.metadata) }: _*)
      .withColumn("engagement_score",
        col("page_views") * 0.4 + col("session_duration") * 0.3 +
          col("time_on_page") * 0.3)
  }

  /** One key's step in [[threewayJoin]]. `rows` are (event_id, ts,
    * side0, side1, …) with exactly one side set; the state holds the
    * key's earlier rows, one array per side. */
  private def assembleKey(nSides: Int)(key: Row, rows: Iterator[Row],
                                       state: GroupState[Row]): Iterator[Row] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val prior = state.getOption
      val held = Array.tabulate(nSides)(j =>
        prior.fold(IndexedSeq.empty[Row])(_.getSeq[Row](j).toIndexedSeq))
      val fresh = Array.fill(nSides)(ArrayBuffer.empty[Row])
      rows.foreach { r =>
        val j = (0 until nSides).indexWhere(j => !r.isNullAt(2 + j))
        fresh(j) += r.getStruct(2 + j)
      }
      val all = Array.tabulate(nSides)(j => held(j) ++ fresh(j))
      // the joins evict a key once ts <= watermark; the timeout fires
      // when timeout < watermark, so timeout = ceil(ts in ms) - 1
      // (at least 1: Spark rejects a timeout that is not positive)
      val tsMicros = key.get(1) match {
        case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
        case t: java.time.Instant => DateTimeUtils.instantToMicros(t)
        case t: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(t)
      }
      if (tsMicros <= state.getCurrentWatermarkMs() * 1000L) state.remove()
      else {
        state.update(Row.fromSeq(all.toSeq.map(_.toSeq)))
        state.setTimeoutTimestamp(math.max(1L, Math.floorDiv(tsMicros - 1, 1000L)))
      }
      // what the symmetric hash joins emit: new rows meet held and new
      // rows of the other sides, held rows meet only new ones
      def combos(j: Int, prefix: Seq[Any], anyFresh: Boolean): Iterator[Row] =
        if (j == nSides) {
          if (anyFresh) Iterator.single(Row.fromSeq(key.toSeq ++ prefix)) else Iterator.empty
        } else all(j).indices.iterator.flatMap(i =>
          combos(j + 1, prefix ++ all(j)(i).toSeq, anyFresh || i >= held(j).size))
      combos(0, Vector.empty, anyFresh = false)
    }

  /** Stream-stream INTERVAL join — last-touch attribution: each purchase
    * pairs with the same user's clicks in the preceding
    * `horizonMinutes`. Unlike [[threewayJoin]]'s equi-join on
    * (event_id, ts), the time-range predicate forces Spark to keep BOTH
    * sides' state until the watermark passes the interval bound — the
    * state-retention contract is `click.ts ∈ [purchase.ts − horizon,
    * purchase.ts]`, so clicks expire `horizon` past their event time and
    * purchases at the watermark. At scale state is keyed by user_id
    * (the equi-part of the condition), so the join shuffles both
    * streams once on the same key a batch attribution join would. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      horizonMinutes: Int = 10): DataFrame = {
    val c = clicks.withWatermark("ts", "1 minute")
      .select(col("user_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "1 minute")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value"))
    c.join(p,
      c("user_id") === p("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizonMinutes MINUTES"))
      .select(c("user_id"), col("click_ts"), col("purchase_ts"), col("value"))
  }

  // ------------------------------------------------------ accumulations

  /** Streaming heavy hitters with bounded state: each micro-batch
    * aggregates its own CountMinSketch (a fixed D×W counter array; the
    * distributed agg runs on the cluster and only the 8 KiB sketch
    * reaches the Spark driver), merged into the running sketch by element-wise
    * addition. CMS merge is exact-associative, so the streamed sketch is
    * bit-identical to the batch sketch over the same rows under any
    * batch boundaries, which StreamingSpec asserts. Per-key state grows
    * with distinct keys; the sketch never does. */
  def runCmsAccumulation(ev: DataFrame, key: String,
                         checkpointDir: String): (StreamingQuery, () => Array[Long]) = {
    val cells = graft.functions.CountMinSketchAgg.D * graft.functions.CountMinSketchAgg.W
    accumulate(ev, checkpointDir, new Array[Long](cells), "CMS", maxKeys = 1)(
      _.agg(graft.functions.SketchAgg.cms(col(key)).as("s"))) { (prev, rows) =>
      val sk = rows.head.getSeq[Long](0)
      Array.tabulate(prev.length)(i => prev(i) + sk(i))
    }
  }

  /** Streaming KMV distinct sketch, the distinct-count sibling of
    * [[runCmsAccumulation]]: each micro-batch contributes its k smallest
    * engine-neutral user-hashes per key (a distributed rank-window
    * aggregate), merged into the running sketch by union, then keep the
    * k smallest. That merge is exact-associative over sets
    * (k-min(A ∪ B) = k-min(k-min(A) ∪ k-min(B))), so the streamed sketch
    * is bit-identical to the batch sketch under any batch boundaries.
    * The estimate reads off the sketch as `q_kmv_distinct` does:
    * (k−1)·M/h₍k₎ once the sketch is full. */
  def runKmvAccumulation(ev: DataFrame, key: String, idCol: String,
                         checkpointDir: String,
                         k: Int = graft.operators.ScalePatterns.KMV_K,
                         maxKeys: Int = 1000)
      : (StreamingQuery, () => Map[String, Seq[Long]]) = {
    val P = graft.operators.ScalePatterns.KMV_P
    val C = graft.operators.ScalePatterns.KMV_C
    accumulate(ev, checkpointDir, Map.empty[String, Seq[Long]], "KMV", maxKeys) { batch =>
      batch
        .select(col(key).cast("string").as("k"),
          (pmod(col(idCol), lit(P)) * C % P).as("h"))
        .distinct()
        .withColumn("rk", row_number().over(Window.partitionBy(col("k")).orderBy(col("h").asc)))
        .filter(col("rk") <= k)
        .groupBy(col("k"))
        .agg(sort_array(collect_list(col("h"))).as("hs"))
        .orderBy(col("k"))
    } { (prev, rows) =>
      rows.foldLeft(prev) { (m, r) =>
        val kk = r.getString(0)
        m.updated(kk, (m.getOrElse(kk, Seq.empty) ++ r.getSeq[Long](1)).distinct.sorted.take(k))
      }
    }
  }

  /** Streaming per-group top-k, the ranking member of the family: each
    * micro-batch folds its rows into ≤k-entry selections with the
    * mergeable [[graft.functions.TopKByScoreAgg]] kernel, merged into the
    * running selection by [[mergeTopK]], which uses the batch kernel's
    * comparator. A multiset's top-k under a strict total order ((score
    * DESC, id ASC); NaN first, like both engines' sort) is unique, so the
    * merge is exact-associative and the streamed selection is
    * bit-identical to the batch top-k under any batch boundaries: the
    * mergeability the batch kernel's shuffle shape rests on. */
  def runTopKAccumulation(ev: DataFrame, group: String, idCol: String,
                          scoreCol: String, k: Int, checkpointDir: String,
                          maxKeys: Int = 1000)
      : (StreamingQuery, () => Map[String, Seq[(Long, Double)]]) =
    accumulate(ev, checkpointDir, Map.empty[String, Seq[(Long, Double)]], "top-k", maxKeys)(
      _.groupBy(col(group).cast("string").as("g"))
        .agg(graft.functions.TopK.topKByScore(
          col(idCol).cast("long"), col(scoreCol).cast("double"), k).as("tk"))
        .orderBy(col("g"))) { (prev, rows) =>
      mergeTopK(k)(prev, rows.toSeq.map(r =>
        r.getString(0) -> r.getSeq[Row](1).map(e => (e.getLong(0), e.getDouble(1)))))
    }

  /** Top-k's merge: each group's held entries and the batch's go through
    * a fresh kernel buffer (the published map is never mutated), so the
    * kept set is the one the batch kernel keeps. Inserting the same
    * entries twice would keep duplicates that can evict distinct ones,
    * which is why [[mergeBatch]] never merges a batch twice. */
  private[graft] def mergeTopK(k: Int)(m: Map[String, Seq[(Long, Double)]],
      rows: Seq[(String, Seq[(Long, Double)])]): Map[String, Seq[(Long, Double)]] =
    rows.foldLeft(m) { case (acc, (g, entries)) =>
      val buf = new graft.functions.TopKAgg.Buf(k)
      (acc.getOrElse(g, Seq.empty) ++ entries).foreach { case (i, s) => buf.insert(s, i) }
      acc.updated(g, (0 until buf.n).map(j => (buf.id(j), buf.score(j))))
    }

  /** Runs the accumulations above. Each micro-batch's `partial` is a
    * small aggregate: one row (CMS), or one row per key ordered by the
    * key, so its bounded collect plans as one top-N job. Its rows are
    * collected and `merge` folds them into a running value held in this
    * JVM. The returned accessor reads that value, stable once the query
    * has processed all available data.
    *
    * The collected state is bounded both ways: by the sketch or
    * selection per key, and by `maxKeys` keys per batch. The key bound
    * is enforced, not a truncation: a batch with more keys fails the
    * query, so no partial is ever dropped. High-cardinality keys belong
    * on a stateful operator instead. */
  private def accumulate[S](ev: DataFrame, checkpointDir: String, zero: S,
      what: String, maxKeys: Int)(partial: DataFrame => DataFrame)(
      merge: (S, Array[Row]) => S): (StreamingQuery, () => S) = {
    val acc = new AtomicReference(zero)
    val lastMerged = new AtomicLong(-1L)
    val q = ev.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(acc, lastMerged, batchId) {
          val rows = partial(batch).limit(maxKeys + 1).collect()
          require(rows.length <= maxKeys, s"$what accumulation saw more than $maxKeys " +
            "keys in one batch; use a stateful operator for high-cardinality keys")
          rows
        }(merge)
      }
      .start()
    (q, () => acc.get())
  }

  /** One micro-batch's step of [[accumulate]]. foreachBatch is
    * at-least-once: a batch whose checkpoint commit failed is replayed
    * with the same batchId, and an additive (CMS) or multiset (top-k)
    * merge would count it twice. So a batchId at or below the last
    * merged one is skipped before its partial runs, and a replay
    * launches no job. KMV's merge is idempotent, so for it the skip
    * changes no result. The partial is computed outside `updateAndGet`,
    * which may retry its function. In-JVM tracking is the right scope:
    * if the JVM dies, the running value dies with it. */
  private[graft] def mergeBatch[S, P](acc: AtomicReference[S], lastMerged: AtomicLong,
      batchId: Long)(partial: => P)(merge: (S, P) => S): Unit =
    if (batchId > lastMerged.get()) {
      val p = partial
      acc.updateAndGet(merge(_, p))
      lastMerged.set(batchId)
    }

  // ------------------------------------------------------------ runners

  /** Correct stateful mode: watermark + windowed agg, append to parquet.
    * Windows emit exactly once when the watermark closes them.
    * `trigger` Some(AvailableNow) drains the source and terminates. */
  def runStateful(ev: DataFrame, sinkDir: String, checkpointDir: String,
      trigger: Option[Trigger] = None): StreamingQuery = {
    val w = engagementWindowed(ev.withWatermark("ts", "1 minute"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", sinkDir)
    trigger.fold(w)(w.trigger).start()
  }

  /** T5 (graceful shutdown / multi-query await): block until any query
    * fails or all finish; on interrupt stop every active query cleanly
    * (reference: stopGracefullyOnShutdown + awaitAnyTermination,
    * spark_streaming_new.py:11,262-267).
    *
    * Once any query has ended, `awaitAnyTermination` returns at once
    * until `resetTerminated`, so every wait starts with a reset, or the
    * loop would spin on a core until the last query ends. The reset also
    * drops terminations from before the call: this waits for the queries
    * active when it is called or started while it waits. A failure that
    * ends one of them between a wait and the next reset is not lost: the
    * queries seen active are checked for an exception after each reset. */
  def awaitAllGracefully(spark: SparkSession): Unit = {
    val seen = LinkedHashSet.empty[StreamingQuery]
    try {
      var waiting = true
      while (waiting) {
        spark.streams.resetTerminated()
        val active = spark.streams.active
        seen ++= active
        seen.foreach(_.exception.foreach(e => throw e))
        waiting = active.nonEmpty
        if (waiting) spark.streams.awaitAnyTermination()
      }
    } catch {
      case _: InterruptedException =>
        spark.streams.active.foreach(_.stop())
    }
  }

  /** K1/K2 multi-sink orchestration, reference-shaped: ONE foreachBatch
    * writes the reference's four tables per micro-batch
    * (spark_streaming_new.py:109-224 — streaming_metrics with processing
    * latency, page-views distribution, session categories, engagement
    * scores). The micro-batch is persisted ONCE and fanned out — the
    * reference re-evaluated the 3-way joined stream for every writer
    * (~9× recompute); here each sink reads the cached batch.
    *
    * Sinks are parquet subdirectories of `outDir` (the offline stand-in
    * for the reference's four MySQL tables; swap the `.parquet(...)`
    * calls for `.format("jdbc").options(Connectors.jdbcSinkOptions(...))`
    * unchanged otherwise).
    *
    * An empty micro-batch writes nothing; the guard is `isEmpty`, not the
    * reference's `count()` (SURVEY §4 anti-pattern).
    *
    * `trigger` Some(AvailableNow) lets tests/backfills drain the source
    * and terminate — recovery tests restart from the same checkpoint. */
  def runMultiSink(ev: DataFrame, outDir: String, checkpointDir: String,
      trigger: Option[Trigger] = None): StreamingQuery = {
    val w0 = ev.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
    val w = trigger.fold(w0)(w0.trigger)
    w.foreachBatch { (batch: DataFrame, epochId: Long) =>
        // persist BEFORE the emptiness check: the batch is a plan over
        // the incremental execution's RDD, so an uncached isEmpty runs
        // the upstream (a stateful join loads and commits its state)
        // and the first write runs it again
        batch.persist()
        try {
          if (!batch.isEmpty) {
            val e = lit(epochId)
            withProcessingLatency(batch).withColumn("epoch_id", e)
              .write.mode("append").parquet(s"$outDir/streaming_metrics")
            withPercentage(pageViewsCounts(batch)).withColumn("epoch_id", e)
              .write.mode("append").parquet(s"$outDir/page_views_distribution")
            withPercentage(sessionCategoryCounts(batch)).withColumn("epoch_id", e)
              .write.mode("append").parquet(s"$outDir/session_categories")
            engagementWindowed(batch).withColumn("epoch_id", e)
              .write.mode("append").parquet(s"$outDir/engagement_scores")
          }
        } finally { batch.unpersist(); () }
        ()
      }
      .start()
  }
}
