package graft.streaming

import scala.collection.mutable.ArrayBuffer

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
  *  - [[runForeachBatchStyle]] — the reference-faithful variant: window
  *    aggregates recomputed per micro-batch and appended, so one
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

  /** Streaming heavy hitters with BOUNDED state: each micro-batch
    * aggregates its own CountMinSketch (fixed D×W counter array — the
    * distributed agg runs on the cluster, only the 8 KiB sketch reaches
    * the driver), which merges into a running sketch by element-wise
    * addition. CMS merge is exact-associative, so the streamed sketch is
    * BIT-IDENTICAL to the batch sketch over the same rows regardless of
    * batch boundaries — the property StreamingSpec asserts. This is the
    * unbounded-cardinality face of streaming top-k: per-key state grows
    * with distinct keys, the sketch never does.
    *
    * Returns the started query and an accessor for the running sketch
    * (stable once the query has processed all available data). */
  def runCmsAccumulation(ev: DataFrame, key: String,
                         checkpointDir: String): (StreamingQuery, () => Array[Long]) = {
    val acc = new java.util.concurrent.atomic.AtomicReference(
      new Array[Long](graft.functions.CountMinSketchAgg.D *
        graft.functions.CountMinSketchAgg.W))
    // CMS merge is ADDITIVE, so an at-least-once foreachBatch replay
    // (same batchId after a failed checkpoint commit) would double-count
    // the batch — skip already-applied ids, same posture as
    // [[runTopKAccumulation]] (ADVICE r13; KMV's set-union merge is the
    // one accumulation here that is replay-idempotent by construction).
    val lastMergedBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val q = ev.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId <= lastMergedBatch.get()) ()
        else {
          val sk = batch.agg(graft.functions.SketchAgg.cms(col(key)).as("s"))
            .head().getSeq[Long](0).toArray
          acc.updateAndGet { prev =>
            val out = new Array[Long](prev.length)
            var i = 0
            while (i < out.length) { out(i) = prev(i) + sk(i); i += 1 }
            out
          }
          lastMergedBatch.set(batchId)
        }
        ()
      }
      .start()
    (q, () => acc.get())
  }

  /** Streaming KMV distinct sketch — bounded-state approx-distinct per
    * key on a stream, the distinct-count sibling of
    * [[runCmsAccumulation]]: each micro-batch contributes its k
    * smallest engine-neutral user-hashes per key (a distributed
    * rank-window aggregate; only ≤ k longs per key reach the driver),
    * merged into the running sketch by union-then-keep-k-smallest —
    * the KMV merge. Like the CMS merge it is exact-associative over
    * SETS (k-min(A ∪ B) = k-min(k-min(A) ∪ k-min(B))), so the streamed
    * sketch is BIT-IDENTICAL to the batch sketch over the same rows
    * under any batch boundaries, and state never grows with
    * cardinality. The estimate reads off the sketch exactly as
    * `q_kmv_distinct` does: (k−1)·M/h₍k₎ once the sketch is full.
    *
    * Replay safety: unlike the CMS/top-k accumulations, the KMV merge
    * (union → distinct → keep k smallest) is IDEMPOTENT — re-merging a
    * replayed micro-batch's sketches changes nothing — so it needs no
    * batch-id skip under foreachBatch's at-least-once semantics.
    *
    * The driver-side merge is bounded BOTH ways: ≤ k longs per key
    * (the sketch) AND ≤ `maxKeys` distinct keys per batch — an
    * unbounded KEY cardinality would otherwise grow the collect and
    * the accumulator without limit. The key bound is ENFORCED, not a
    * truncation: a batch exceeding `maxKeys` keys fails the query
    * loudly (no sketch is ever silently dropped). Callers tracking
    * genuinely high-cardinality keys should use the stateful
    * `transformWithState` path instead of this driver-merged demo. */
  def runKmvAccumulation(ev: DataFrame, key: String, idCol: String,
                         checkpointDir: String,
                         k: Int = graft.operators.ScalePatterns.KMV_K,
                         maxKeys: Int = 1000)
      : (StreamingQuery, () => Map[String, Seq[Long]]) = {
    val P = graft.operators.ScalePatterns.KMV_P
    val C = graft.operators.ScalePatterns.KMV_C
    val acc = new java.util.concurrent.atomic.AtomicReference(
      Map.empty[String, Seq[Long]])
    val q = ev.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = Window.partitionBy(col("k")).orderBy(col("h").asc)
        val rows = batch
          .select(col(key).cast("string").as("k"),
            (pmod(col(idCol), lit(P)) * C % P).as("h"))
          .distinct()
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .groupBy(col("k"))
          .agg(sort_array(collect_list(col("h"))).as("hs"))
          .orderBy(col("k"))
          .limit(maxKeys + 1)
          .collect()
          .map(r => r.getString(0) -> r.getSeq[Long](1))
        require(rows.length <= maxKeys,
          s"KMV accumulation saw > $maxKeys keys in one batch — " +
            "use the stateful path for high-cardinality keys")
        acc.updateAndGet { prev =>
          rows.foldLeft(prev) { case (m, (kk, hs)) =>
            val merged = (m.getOrElse(kk, Seq.empty) ++ hs)
              .distinct.sorted.take(k)
            m.updated(kk, merged)
          }
        }
        ()
      }
      .start()
    (q, () => acc.get())
  }

  /** Streaming per-group top-k — the ranking face of the bounded-state
    * accumulation family ([[runCmsAccumulation]] /
    * [[runKmvAccumulation]]): each micro-batch folds its rows into
    * ≤k-entry selections via the mergeable
    * [[graft.functions.TopKByScoreAgg]] kernel (the distributed agg
    * runs on the cluster; only ≤k (id, score) entries per group reach
    * the driver), merged into the running selection by the SAME
    * comparator the batch kernel uses. A multiset's top-k under a
    * strict total order ((score DESC, id ASC); NaN first, like both
    * engines' sort) is unique, so the merge is exact-associative and
    * the streamed selection is BIT-IDENTICAL to the batch top-k over
    * the same rows under any batch boundaries — the mergeability claim
    * the batch kernel's shuffle shape rests on, proven end-to-end in a
    * micro-batch loop by StreamingSpec.
    *
    * Driver-side state is bounded both ways, like the KMV demo:
    * ≤k entries per group, and ≤ `maxKeys` distinct groups per batch —
    * ENFORCED loudly, never truncated. High-cardinality groups belong
    * on the stateful `transformWithState` path. */
  def runTopKAccumulation(ev: DataFrame, group: String, idCol: String,
                          scoreCol: String, k: Int, checkpointDir: String,
                          maxKeys: Int = 1000)
      : (StreamingQuery, () => Map[String, Seq[(Long, Double)]]) = {
    val acc = new java.util.concurrent.atomic.AtomicReference(
      Map.empty[String, Seq[(Long, Double)]])
    // foreachBatch is at-least-once: a micro-batch whose checkpoint
    // commit failed is REPLAYED with the same batchId. Top-k merge is
    // not idempotent — re-inserting the same (id, score) entries into a
    // Buf adds duplicates that can evict legitimate distinct entries
    // (ADVICE r13) — so already-applied batch ids are skipped. In-JVM
    // tracking is the correct scope: if the JVM died, acc died with it.
    val lastMergedBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val q = ev.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId <= lastMergedBatch.get()) ()
        else {
        val rows = batch
          .groupBy(col(group).cast("string").as("g"))
          .agg(graft.functions.TopK.topKByScore(
            col(idCol).cast("long"), col(scoreCol).cast("double"), k).as("tk"))
          .orderBy(col("g"))
          .limit(maxKeys + 1)
          .collect()
          .map(r => r.getString(0) ->
            r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getLong(0), e.getDouble(1))))
        require(rows.length <= maxKeys,
          s"top-k accumulation saw > $maxKeys groups in one batch — " +
            "use the stateful path for high-cardinality groups")
        mergeTopKBatch(acc, lastMergedBatch, batchId, rows.toSeq, k)
        }
        ()
      }
      .start()
    (q, () => acc.get())
  }

  /** The driver-side top-k merge step, factored out so StreamingSpec can
    * pin its replay idempotence directly: a batchId ≤ the last merged
    * one is an at-least-once REPLAY and must leave the accumulator
    * untouched (merging the same entries twice through a Buf inserts
    * duplicates that can evict legitimate distinct entries). */
  private[graft] def mergeTopKBatch(
      acc: java.util.concurrent.atomic.AtomicReference[Map[String, Seq[(Long, Double)]]],
      lastMergedBatch: java.util.concurrent.atomic.AtomicLong,
      batchId: Long, rows: Seq[(String, Seq[(Long, Double)])], k: Int): Unit = {
    if (batchId <= lastMergedBatch.get()) return
    acc.updateAndGet { prev =>
      rows.foldLeft(prev) { case (m, (g, entries)) =>
        // merge through a fresh kernel buffer (never mutate the
        // published map): same comparator, same kept set
        val buf = new graft.functions.TopKAgg.Buf(k)
        m.getOrElse(g, Seq.empty).foreach { case (i, s) => buf.insert(s, i) }
        entries.foreach { case (i, s) => buf.insert(s, i) }
        m.updated(g, (0 until buf.n).map(j => (buf.id(j), buf.score(j))))
      }
    }
    lastMergedBatch.set(batchId)
    ()
  }

  // ------------------------------------------------------------ runners

  /** Correct stateful mode: watermark + windowed agg, append to parquet.
    * Windows emit exactly once when the watermark closes them. */
  def runStateful(ev: DataFrame, sinkDir: String, checkpointDir: String): StreamingQuery =
    engagementWindowed(ev.withWatermark("ts", "1 minute"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", sinkDir)
      .start()

  /** T5 (graceful shutdown / multi-query await): block until any query
    * fails or all finish; on interrupt stop every active query cleanly
    * (reference: stopGracefullyOnShutdown + awaitAnyTermination,
    * spark_streaming_new.py:11,262-267). */
  def awaitAllGracefully(spark: SparkSession): Unit =
    try {
      while (spark.streams.active.nonEmpty) spark.streams.awaitAnyTermination()
    } catch {
      case _: InterruptedException =>
        spark.streams.active.foreach(_.stop())
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

  /** Reference-faithful mode: per-microbatch aggregates appended
    * (partial windows possible — K1/K2 semantics). The empty-batch guard
    * uses isEmpty, not count() (SURVEY §4 anti-pattern fix). */
  def runForeachBatchStyle(ev: DataFrame, sinkDir: String, checkpointDir: String): StreamingQuery =
    ev.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          withPercentage(pageViewsCounts(batch))
            .withColumn("epoch_id", lit(epochId))
            .write.mode("append").parquet(sinkDir)
        }
        ()
      }
      .start()
}
