package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end offline replay of the reference's streaming pipeline
  * (spark_streaming_new.py), Kafka-free: file-stream over the events
  * parquet plays the three topics' role, both sink modes run side by
  * side, and the batch path computes the same analytics for the
  * differential comparison — the reference's three processes collapsed
  * into one runnable.
  *
  * Usage: runMain graft.streaming.PipelineDemo [sfDir]
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local()

    val work = Files.createTempDirectory("graft_pipeline").toString
    // stage the events as the stream input (a file "topic")
    graft.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$work/incoming")

    val stream = StreamingAnalytics.eventsFileStream(spark, s"$work/incoming")

    val drain = Some(Trigger.AvailableNow())
    // correct stateful mode → parquet
    StreamingAnalytics.runStateful(stream, s"$work/stateful", s"$work/ckpt1", drain)
    // reference-faithful foreachBatch mode → the four reference tables
    StreamingAnalytics.runMultiSink(stream, s"$work/multisink", s"$work/ckpt2", drain)
    // custom-state sessionization over the same stream (30-min gaps)
    Sessionize.sessions(stream.withWatermark("ts", "1 minute"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$work/ckpt3")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$work/sessions")
      .start()
    StreamingAnalytics.awaitAllGracefully(spark)

    // differential comparison vs the batch path (comparision.sql shape)
    val batchCounts = StreamingAnalytics.pageViewsCounts(graft.Tables.events(spark, sfDir))
    val perBatch = spark.read.parquet(s"$work/multisink/page_views_distribution")
    val streamedSums = perBatch
      .groupBy("window_start", "window_end", "page_views")
      .agg(sum("cnt").as("cnt"))
    // null-SAFE inequality: a bucket present on only one side of the
    // full outer join compares null vs value — plain =!= yields null
    // there and silently drops the very mismatches the join exists to
    // surface.
    val mismatches = streamedSums.join(batchCounts,
        Seq("window_start", "window_end", "page_views"), "full_outer")
      .filter(!(streamedSums("cnt") <=> batchCounts("cnt")))
    println(s"[pipeline] stateful windows: ${spark.read.parquet(s"$work/stateful").count()}")
    println(s"[pipeline] per-batch rows:   ${perBatch.count()}")
    // AvailableNow drains then stops: sessions still open at the final
    // watermark stay in (discarded) state, so this counts CLOSED sessions
    val closedSessions =
      // empty-sink read fails schema inference with AnalysisException —
      // anything else (corrupt footer, IO) should still surface
      try spark.read.parquet(s"$work/sessions").count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    println(s"[pipeline] closed sessions:  $closedSessions")
    println(s"[pipeline] stream-vs-batch mismatching buckets: ${mismatches.count()} (expect 0)")
    spark.stop()
  }
}
