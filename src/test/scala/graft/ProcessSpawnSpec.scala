package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingAnalytics

/** Guards the write path against operating-system process starts.
  *
  * Without libhadoop, Hadoop's stock local filesystem runs `chmod` for
  * each created file and `readlink` for each side of a `FileContext`
  * rename; a streaming micro-batch writes dozens of such files (state
  * deltas, offset and commit logs, their `.crc` and checksum sidecars).
  * The session's fork-free filesystem must keep that count at zero. A
  * JFR recording sees every `ProcessBuilder.start` in the JVM, whoever
  * calls it. */
class ProcessSpawnSpec extends AnyFunSuite {
  import SparkTestSession._

  test("a stateful micro-batch and a parquet write start no process") {
    val work = Files.createTempDirectory("graft_spawns")
    val stream = MemoryStream[Ev](Encoders.product[Ev], spark.sqlContext)
    val q = StreamingAnalytics.runStateful(stream.toDF(),
      work.resolve("sink").toString, work.resolve("ckpt").toString)
    def round(i: Int): Unit = {
      stream.addData((0 until 200).map { j =>
        val t = i * 200 + j
        Ev(t.toLong, new Timestamp(1744070400000L + t * 3000L), (t % 7).toLong, "view", j * 0.5)
      })
      q.processAllAvailable()
      spark.range(100).toDF("id").write.parquet(work.resolve(s"table$i").toString)
    }
    val jfr = Files.createTempFile("graft_spawns", ".jfr")
    try {
      // one round first: once-per-JVM probes are not per-batch cost
      // (Hadoop's Shell runs `setsid` at class init; Spark's executor
      // metrics run `getconf PAGESIZE` at the first heartbeat, which is
      // forced here so that it cannot land in the recording)
      round(0)
      Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
      val rec = new Recording()
      try {
        rec.enable("jdk.ProcessStart").withStackTrace()
        rec.start()
        round(1)
        rec.stop()
        rec.dump(jfr)
      } finally rec.close()
      val starts = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
      // each event prints with the top of the stack that started it
      assert(starts.isEmpty)
      assert(spark.read.parquet(work.resolve("table1").toString).count() == 100)
    } finally {
      q.stop()
      Files.deleteIfExists(jfr)
    }
  }
}
