package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingAnalytics

/** One part of a record on the 3-way join's input: `side` 0 is the
  * page-views topic, 1 session durations, 2 time on page. */
case class JoinPart(side: Int, event_id: Option[Long], ts: Timestamp, user_id: Long,
    event_type: String, page_views: Int, x: Double)

/** `StreamingAnalytics.threewayJoin` (one keyed `flatMapGroupsWithState`)
  * against the two chained stream-stream joins it replaced
  * ([[ThreewayJoinReference]]), and the state bound of the reference
  * pipeline built on it. */
class ThreewayJoinSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The three topic sides of one stream of tagged parts. One stream
    * keeps each `addData` atomic, so both queries see the same batches. */
  private def sides(parts: DataFrame): (DataFrame, DataFrame, DataFrame) = (
    parts.filter(col("side") === 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("page_views")),
    parts.filter(col("side") === 1)
      .select(col("event_id"), col("ts"), col("x").as("session_duration")),
    parts.filter(col("side") === 2)
      .select(col("event_id"), col("ts"), (col("x") * 0.5).as("time_on_page")))

  /** What a schedule exercises: keys whose sides arrive in different
    * batches, sides that carry a key twice, parts sent late, and keys
    * with a null event_id. */
  private final case class Schedule(batches: Seq[Seq[JoinPart]], split: Int, dups: Int, late: Int,
      nullIds: Int)

  /** A seeded replay of 144 keys, 12 per home batch, 5 s apart in event
    * time (one batch spans the 1-minute watermark delay). Each side of a
    * key has 0, 1 or 2 parts; a part arrives in its key's home batch,
    * 1 or 2 batches later, or 4-6 batches later (behind the watermark).
    * Some keys reuse the previous key's event_id at another ts, and some
    * have no event_id on any side (a record whose id was lost). */
  private def schedule(seed: Long): Schedule = {
    val rnd = new Random(seed)
    val t0 = Timestamp.valueOf("2025-04-08 00:00:00").getTime
    var split, dups, late, nullIds = 0
    val placed = (0 until 144).flatMap { k =>
      val w = rnd.nextDouble()
      val id = if (w < 0.05) { nullIds += 1; None } else if (k > 0 && w < 0.15) Some(k - 1L) else Some(k.toLong)
      val ts = new Timestamp(t0 + k * 5000L + rnd.nextInt(1000))
      ts.setNanos(ts.getNanos + rnd.nextInt(1000) * 1000) // sub-millisecond event time
      val home = k / 12
      val parts = (0 until 3).flatMap { side =>
        val u = rnd.nextDouble()
        val n = if (u < 0.1) 0 else if (u < 0.2) 2 else 1
        if (n == 2) dups += 1
        (0 until n).map { _ =>
          val v = rnd.nextDouble()
          val delay = if (v < 0.6) 0 else if (v < 0.8) 1 else if (v < 0.9) 2 else 4 + rnd.nextInt(3)
          if (delay >= 4) late += 1
          val p = JoinPart(side, id, ts, rnd.nextInt(7).toLong, if (rnd.nextBoolean()) "view" else "click",
            rnd.nextInt(50), math.rint(rnd.nextDouble() * 3000) / 10)
          (home + delay, p)
        }
      }
      if (parts.map(_._1).distinct.size > 1) split += 1
      parts
    }
    val batches = placed.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, ps) => rnd.shuffle(ps.map(_._2)) }
    Schedule(batches, split, dups, late, nullIds)
  }

  private def multiset(rows: Seq[Row]): Map[Row, Int] = rows.groupBy(identity).view.mapValues(_.size).toMap

  private def minus(a: Map[Row, Int], b: Map[Row, Int]): Map[Row, Int] =
    a.map { case (r, n) => r -> (n - b.getOrElse(r, 0)) }.filter(_._2 != 0)

  test("keyed assembly emits the two-join output batch by batch (seeded schedules)") {
    for (seed <- 1L to 4L) {
      val sched = schedule(seed)
      assert(sched.split > 0 && sched.dups > 0 && sched.late > 0 && sched.nullIds > 0,
        s"seed $seed: degenerate schedule")
      val streams = Seq.fill(2)(MemoryStream[JoinPart](Encoders.product[JoinPart], spark.sqlContext))
      val outs = Seq(ThreewayJoinReference.threewayJoin _, StreamingAnalytics.threewayJoin _)
        .zip(streams).map { case (join, s) => val (p, d, t) = sides(s.toDF()); join(p, d, t) }
      assert(outs(0).schema == outs(1).schema, "output schemas differ")
      val names = Seq(s"threeway_ref_$seed", s"threeway_new_$seed")
      val qs = outs.zip(names).map { case (o, n) =>
        o.writeStream.outputMode("append").format("memory").queryName(n).start()
      }
      try {
        var seen = Seq.fill(2)(Map.empty[Row, Int])
        var emitted = 0
        sched.batches.zipWithIndex.foreach { case (b, i) =>
          streams.foreach(_.addData(b))
          qs.foreach(_.processAllAvailable())
          val now = names.map(n => multiset(spark.table(n).collect().toSeq))
          val Seq(ref, got) = now.zip(seen).map { case (a, b) => minus(a, b) }
          assert(got == ref, s"seed $seed batch $i: reference emitted $ref, assembly $got")
          emitted += ref.values.sum
          seen = now
        }
        assert(emitted > 0, s"seed $seed: nothing joined")
        val dropped = qs(0).recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
        assert(dropped > 0, s"seed $seed: the reference dropped no late rows")
      } finally qs.foreach(_.stop())
    }
  }

  test("reference pipeline keeps one state operator, drained by the watermark") {
    val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val work = Files.createTempDirectory("graft_join_state").toString
    val ev = stream.toDF()
    val joined = StreamingAnalytics.threewayJoin(
        ev.select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          floor(col("value") / 10).cast("int").as("page_views")),
        ev.select(col("event_id"), col("ts"), col("value").as("session_duration")),
        ev.select(col("event_id"), col("ts"), (col("value") * 0.5).as("time_on_page")))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("session_duration").as("value"))
    val q = StreamingAnalytics.runMultiSink(joined, s"$work/out", s"$work/ckpt")
    def event(i: Long, t: String) = Ev(i, Timestamp.valueOf(t), i % 7, "view", (i % 40) * 0.7)
    try {
      // 10 minutes of events in three batches
      (0 until 600).map(i => event(i.toLong, f"2025-04-08 00:${i / 60}%02d:${i % 60}%02d"))
        .grouped(200).foreach { b => stream.addData(b); q.processAllAvailable() }
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 1, s"state operators: ${ops.map(_.operatorName).mkString(", ")}")
      assert(ops.head.numRowsTotal > 0)
      // a final batch whose event time moves the watermark past every
      // earlier key; the state keeps only that batch's own key, which no
      // watermark from its own event time can pass
      stream.addData(Seq(event(10000L, "2025-04-08 01:00:00")))
      q.processAllAvailable()
      val after = q.lastProgress.stateOperators
      assert(after.length == 1)
      assert(after.head.numRowsTotal == 1, s"keys left in state: ${after.head.numRowsTotal}")
    } finally q.stop()
    assert(spark.read.parquet(s"$work/out/streaming_metrics").count() == 601)
  }
}
