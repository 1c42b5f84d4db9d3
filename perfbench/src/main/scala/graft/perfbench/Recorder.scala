package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval on the calling thread. Times are epoch milliseconds
  * with sub-millisecond digits, on the same clock as Spark's listener
  * event times, so jobs and stages can be attributed to the phase whose
  * window contains their submission time. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

final case class JobRec(id: Int, submit: Long, stageIds: Seq[Int], var end: Long)
final case class StageRec(id: Int, numTasks: Int, submit: Long, complete: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, input: Long)
final case class SqlExecRec(id: Long, start: Long, var end: Long, isWrite: Boolean)
final case class ProgressRec(runId: String, name: String, start: Long,
    durations: Map[String, Long], stateRows: Long, stateBytes: Long,
    stateCommitMs: Long, droppedByWatermark: Long)

/** Span recorder plus (when tracing) the Spark listeners behind the
  * per-layer metrics.
  *
  * Untraced runs use a recorder with `traced = false`: spans still time
  * the body with the same clock calls, but no listener is registered, so
  * the end-to-end numbers carry none of the listener cost. Listener
  * events arrive asynchronously on Spark's listener bus; they are only
  * read after `SparkSession.stop()`, which drains the bus. */
final class Recorder(val traced: Boolean) {
  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer[Span]()
  private var stack = List(-1)

  def span[T](layer: String, name: String)(body: => T): (T, Span) = {
    val id = spans.length
    val parent = stack.head
    spans += null
    stack = id :: stack
    val t0 = nowMs
    try {
      val r = body
      val s = Span(id, parent, layer, name, t0, nowMs)
      spans(id) = s
      (r, s)
    } catch {
      case e: Throwable =>
        spans(id) = Span(id, parent, layer, name + " (failed)", t0, nowMs)
        throw e
    } finally stack = stack.tail
  }

  val jobs = ArrayBuffer[JobRec]()
  val stages = ArrayBuffer[StageRec]()
  val sqlExecs = scala.collection.mutable.LinkedHashMap[Long, SqlExecRec]()
  val progress = ArrayBuffer[ProgressRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += JobRec(e.jobId, e.time, e.stageInfos.map(_.stageId), e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages += StageRec(si.stageId, si.numTasks,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.inputMetrics.bytesRead)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val plan = s.physicalPlanDescription
          sqlExecs(s.executionId) = SqlExecRec(s.executionId, s.time, s.time,
            plan != null && plan.contains("InsertIntoHadoopFsRelationCommand"))
        case x: SparkListenerSQLExecutionEnd =>
          sqlExecs.get(x.executionId).foreach(_.end = x.time)
        case _ =>
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators
      progress += ProgressRec(p.runId.toString, String.valueOf(p.name),
        java.time.Instant.parse(p.timestamp).toEpochMilli, d,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum)
    }
  }

  def attach(spark: SparkSession): Unit = if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }
}
