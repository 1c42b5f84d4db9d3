package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.{GraftSession, Materializer, SparkEntry}
import graft.streaming.{Sessionize, StreamingAnalytics}

final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  def name: String
  /** Typical warm pass time on a 4-core machine; sizes a run from --seconds. */
  def nominalPassSeconds: Double
  /** Warm passes after the cold one that only settle the JVM and are not measured. */
  def warmupPasses: Int
  /** Untimed warm-up and input preparation, repeated by every set-up. */
  def setUp(spark: SparkSession): Unit
  def pass(spark: SparkSession, idx: Int, rec: Recorder): PassRec
  /** Untimed output checks, once per run after the timed passes. */
  def check(spark: SparkSession): Seq[Check]
  /** Expected outputs for `--capture 1`: query -> (rows, content hash). */
  def capture(spark: SparkSession): Map[String, (Long, String)] = Map.empty
  def cleanUp(): Unit = ()
}

object Workloads {
  /** The reference's batch and stream-vs-batch comparison analytics. */
  val trafficAnalytics: Seq[String] = Seq(
    "q_page_views_distribution", "q_session_categories", "q_engagement_windowed",
    "q_sql_bounce_rate", "q_sql_conversion_rate")

  /** Dedup / near-dup / ANN queries whose builders materialize eagerly. */
  val corpusDedup: Seq[String] = Seq(
    "q_dedup_savings", "q_cross_source_dups", "q_semantic_dedup")

  def byName(name: String, o: Opts): Workload = name match {
    case "traffic-analytics" =>
      new BatchWorkload(name, trafficAnalytics, Seq("events"), 3.0, o)
    case "corpus-dedup" =>
      new BatchWorkload(name, corpusDedup, Seq("documents", "embeddings"), 3.5, o)
    case "stream-replay" => new StreamReplay(o, batchRows = 1000)
    case other => sys.error(s"unknown workload $other")
  }

  /** Order-insensitive content hash: row count plus the sum and xor of
    * per-row xxhash64 over every column (doubles rounded to 6 decimals,
    * maps cast to strings). */
  def contentHash(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => bround(col(f.name).cast(DoubleType), 6)
        case _: MapType => col(f.name).cast(StringType)
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = d.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), bit_xor(col("h")))
      .head()
    val n = r.getLong(0)
    (n, f"$n:${if (r.isNullAt(1)) 0L else r.getLong(1)}%x:${if (r.isNullAt(2)) 0L else r.getLong(2)}%x")
  }

  /** Loads `query -> (rows, hash)` from the expected-outputs JSON. */
  def loadExpected(path: String): Map[String, (Long, String)] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else {
      val txt = Files.readString(Paths.get(path))
      val entry = """"(q_\w+)"\s*:\s*\{([^}]*)\}""".r
      val rows = """"rows"\s*:\s*(\d+)""".r
      val hash = """"hash"\s*:\s*"([^"]*)"""".r
      entry.findAllMatchIn(txt).map { m =>
        m.group(1) -> (rows.findFirstMatchIn(m.group(2)).map(_.group(1).toLong).getOrElse(-1L),
          hash.findFirstMatchIn(m.group(2)).map(_.group(1)).getOrElse(""))
      }.toMap
    }
}

/** A fixed set of registered queries run one at a time, each built,
  * planned and forced exactly as `graft.Bench` does, with
  * `Materializer.clear()` after every query. */
final class BatchWorkload(val name: String, queries: Seq[String], warmTables: Seq[String],
    val nominalPassSeconds: Double, o: Opts) extends Workload {
  val warmupPasses = 2
  private val fns = queries.map(q => q -> SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q")))
  private val expected = Workloads.loadExpected(o.expected)
  private val scratch = Paths.get(GraftSession.scratchRoot)
  private val preexisting = listMat()

  private def listMat(): Set[Path] = {
    val s = Files.list(scratch)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-mat-")).toSet
    } finally s.close()
  }

  /** Bytes under this JVM's Materializer root (created lazily on first use). */
  private def materializedBytes(): Long =
    (listMat() -- preexisting).toSeq.map(Main.treeBytes).sum

  def setUp(spark: SparkSession): Unit =
    warmTables.foreach(t => spark.read.parquet(s"${o.sfDir}/$t.parquet").count())

  def pass(spark: SparkSession, idx: Int, rec: Recorder): PassRec = {
    val t0 = rec.nowMs
    val order = new Random(o.seed * 7919L + idx).shuffle(fns)
    val ops = order.map { case (q, fn) =>
      val (res, qs) = rec.span("query", q) {
        try {
          val (df, b) = rec.span("operators", "build")(fn(spark, o.sfDir))
          val (_, p) = rec.span("catalyst", "plan")(df.queryExecution.executedPlan)
          val (rows, e) = rec.span("exec", "exec")(df.queryExecution.toRdd.count())
          Right((rows, Seq(("operators", b.start, b.end), ("catalyst", p.start, p.end),
            ("exec", e.start, e.end))))
        } catch { case t: Throwable => Left(t) }
      }
      val bytes = if (rec.traced) materializedBytes() else 0L
      Materializer.clear()
      res match {
        case Right((rows, phases)) =>
          val want = expected.get(q).map(_._1)
          val ok = want.contains(rows)
          OpRec(q, qs.start, qs.end, rows, ok,
            if (ok) "" else s"rows=$rows expected=${want.getOrElse("none")}", phases, bytes)
        case Left(t) =>
          OpRec(q, qs.start, qs.end, -1, ok = false, String.valueOf(t), Nil, bytes)
      }
    }
    PassRec(idx, t0, rec.nowMs, ops, Nil, Set.empty, 0L)
  }

  private def hashes(spark: SparkSession): Seq[(String, Either[Throwable, (Long, String)])] =
    fns.sortBy(_._1).map { case (q, fn) =>
      val r = try Right(Workloads.contentHash(fn(spark, o.sfDir)))
      catch { case t: Throwable => Left(t) }
      finally Materializer.clear()
      q -> r
    }

  def check(spark: SparkSession): Seq[Check] = hashes(spark).map {
    case (q, Right((n, h))) =>
      val want = expected.get(q)
      Check(s"content:$q", want.contains((n, h)),
        s"rows=$n hash=$h expected=${want.map(w => s"rows=${w._1} hash=${w._2}").getOrElse("none")}")
    case (q, Left(t)) => Check(s"content:$q", ok = false, String.valueOf(t))
  }

  /** Writes each output as parquet under `o.captureDir` (one directory per
    * query, plus the DuckDB oracle SQL, the layout `scripts/check.py`
    * reads) and hashes what was written. */
  override def capture(spark: SparkSession): Map[String, (Long, String)] = {
    val result = fns.sortBy(_._1).map { case (q, fn) =>
      val dir = s"${o.captureDir}/$q"
      try fn(spark, o.sfDir).coalesce(1).write.mode("overwrite").parquet(dir)
      finally Materializer.clear()
      q -> Workloads.contentHash(spark.read.parquet(dir))
    }
    val oracles = SparkEntry.oracleSql.filter { case (q, _) => fns.exists(_._1 == q) }
    Files.writeString(Paths.get(o.captureDir, "oracle_sql.json"),
      oracles.map { case (q, sql) => s"${Json.quote(q)}: ${Json.quote(sql)}" }.mkString("{", ", ", "}"))
    result.toMap
  }
}

final case class ReplayEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** sf events replayed in event-time order as fixed-size micro-batches
  * into three queries started once per run, each reading its own
  * MemoryStream (a MemoryStream drops the rows one query commits, so
  * queries cannot share one):
  *
  *  - the reference pipeline: three topic shards (projections of the one
  *    stream, so each micro-batch carries all three sides) joined by
  *    `StreamingAnalytics.threewayJoin` into the four-sink foreachBatch of
  *    `runMultiSink`;
  *  - `runStateful`, the watermarked windowed aggregate;
  *  - `Sessionize.sessions`, gap sessionization with custom state.
  *
  * A pass is one micro-batch: `addData` on every query's stream, then
  * wait until every query has processed it; pass 0 also starts the
  * queries. Checkpoints and sinks live in a fresh directory under the
  * engine's scratch root, removed at exit. */
final class StreamReplay(o: Opts, batchRows: Int) extends Workload {
  val name = "stream-replay"
  val nominalPassSeconds = 6.0
  val warmupPasses = 0
  private val dir = Paths.get(GraftSession.scratchRoot)
    .resolve(s"perfbench-stream-${ProcessHandle.current().pid()}")
  sys.addShutdownHook(Main.deleteTree(dir))
  private var events: IndexedSeq[ReplayEvent] = IndexedSeq.empty
  private var streams: Seq[MemoryStream[ReplayEvent]] = Nil
  private var queries: Seq[StreamingQuery] = Nil
  private var replayed = 0

  def setUp(spark: SparkSession): Unit = {
    import spark.implicits._
    events = graft.Tables.events(spark, o.sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("ts"), col("event_id"))
      .as[ReplayEvent].collect().toIndexedSeq
  }

  /** Micro-batch `i`: the i-th slice of events in event-time order, its
    * rows permuted by the seed (the seed never changes the data). */
  private def batch(i: Int): IndexedSeq[ReplayEvent] =
    new Random(o.seed * 31L + i).shuffle(events.slice(i * batchRows, (i + 1) * batchRows))

  private def start(spark: SparkSession): Seq[StreamingQuery] = {
    val Seq(ev, evStateful, evSessions) = streams.map(_.toDF())
    val pv = ev.select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
      floor(col("value") / 10).cast("int").as("page_views"))
    val sd = ev.select(col("event_id"), col("ts"), col("value").as("session_duration"))
    val tp = ev.select(col("event_id"), col("ts"), (col("value") * 0.5).as("time_on_page"))
    val joined = StreamingAnalytics.threewayJoin(pv, sd, tp)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("session_duration").as("value"))
    Seq(
      StreamingAnalytics.runMultiSink(joined, s"$dir/multisink", s"$dir/ckpt-multisink"),
      StreamingAnalytics.runStateful(evStateful, s"$dir/stateful", s"$dir/ckpt-stateful"),
      Sessionize.sessions(evSessions.withWatermark("ts", "1 minute"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$dir/sessions")
        .option("checkpointLocation", s"$dir/ckpt-sessions")
        .start())
  }

  def pass(spark: SparkSession, idx: Int, rec: Recorder): PassRec = {
    val t0 = rec.nowMs
    val phases = if (queries.nonEmpty) Nil else {
      val (_, s) = rec.span("operators", "start") {
        streams = Seq.fill(3)(MemoryStream(Encoders.product[ReplayEvent], spark))
        queries = start(spark)
      }
      Seq(("operators", s.start, s.end))
    }
    val b = batch(idx)
    val (res, s) = rec.span("micro-batch", s"batch$idx") {
      try {
        streams.foreach(_.addData(b))
        queries.foreach(_.processAllAvailable())
        None
      } catch { case t: Throwable => Some(t) }
    }
    replayed += 1
    val op = OpRec(s"batch$idx", s.start, s.end, b.size, res.isEmpty,
      res.map(String.valueOf).getOrElse(""), Seq(("micro-batch", s.start, s.end)), 0L)
    PassRec(idx, t0, rec.nowMs, Seq(op), phases, queries.map(_.runId.toString).toSet, b.size)
  }

  private def stop(): Unit = {
    queries.foreach { q => q.stop(); q.awaitTermination() }
  }

  /** Stream-vs-batch differential over everything replayed: summed
    * per-batch page-view buckets equal the batch formula over the same
    * events, and the stateful window sink equals the batch windows the
    * final watermark has closed. */
  def check(spark: SparkSession): Seq[Check] = {
    import spark.implicits._
    stop()
    val watermark = Option(queries(1).lastProgress).map(_.eventTime.get("watermark"))
    val replayedEvents = events.take(replayed * batchRows).toDF().cache()
    try {
      val streamed = spark.read.parquet(s"$dir/multisink/page_views_distribution")
        .groupBy("window_start", "window_end", "page_views").agg(sum("cnt").as("cnt"))
      val batch = StreamingAnalytics.pageViewsCounts(replayedEvents)
      val pvBad = streamed.join(batch, Seq("window_start", "window_end", "page_views"), "full_outer")
        .filter(!(streamed("cnt") <=> batch("cnt"))).count()
      val nBuckets = batch.count()

      val wm = watermark.map(s => Timestamp.from(java.time.Instant.parse(s)))
      val closed = StreamingAnalytics.engagementWindowed(replayedEvents)
        .filter(col("window_end") <= lit(wm.getOrElse(new Timestamp(0L))))
      val sunk = spark.read.parquet(s"$dir/stateful")
      val extra = sunk.exceptAll(closed).count()
      val missing = closed.exceptAll(sunk).count()
      val nClosed = closed.count()
      Seq(
        Check("page-views-vs-batch", pvBad == 0 && nBuckets > 0,
          s"mismatching buckets=$pvBad of $nBuckets"),
        Check("stateful-windows-vs-batch", extra == 0 && missing == 0 && nClosed > 0,
          s"closed windows=$nClosed extra=$extra missing=$missing " +
            s"watermark=${watermark.getOrElse("none")}"))
    } catch {
      case t: Throwable => Seq(Check("stream-vs-batch", ok = false, String.valueOf(t)))
    } finally replayedEvents.unpersist()
  }

  override def cleanUp(): Unit = Main.deleteTree(dir)
}
