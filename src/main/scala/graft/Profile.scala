package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev tool: run one registered query and attribute wall-clock to Spark
  * stages. Usage: `runMain graft.Profile <query> [sfDir] [reps]`.
  *
  * Prints, per completed stage: task count, summed executor run time,
  * and the stage's callsite — enough to see which operator a slow
  * query's time actually lands in (the Spark UI is disabled in this
  * sandbox, so this is the headless stand-in). */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query>[,<query>...] [sfDir] [reps]")
    // comma-separated list: profiles each query in ONE warm JVM/session —
    // per-query stage attribution stays per query (stages cleared per rep)
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    names.foreach(n =>
      require(SparkEntry.queries.contains(n), s"unknown query: $n"))
    val spark = GraftSession.local()
    case class St(id: Int, name: String, tasks: Int, runMs: Long, cpuMs: Long,
                  gcMs: Long, wallMs: Long,
                  inRows: Long, outRows: Long, shRdRows: Long, shRdMb: Long,
                  shWrRows: Long, shWrMb: Long, spillMb: Long, details: String)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = Option(si.taskMetrics)
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
        stages.add(St(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
          // run = executorRunTime (task wall: compute + blocking + GC);
          // cpu = executorCpuTime (ns→ms, pure on-CPU); gc = jvmGCTime.
          // run ≫ cpu ⇒ tasks stalled (shuffle fetch, disk, lock); gc
          // high ⇒ heap churn; run ≈ cpu ≫ data volume ⇒ interpreted /
          // deoptimized hot loop — three failure modes one wall number
          // can't tell apart.
          m.map(_.executorRunTime).getOrElse(0L),
          m.map(_.executorCpuTime / 1000000L).getOrElse(0L),
          m.map(_.jvmGCTime).getOrElse(0L), wall,
          m.map(_.inputMetrics.recordsRead).getOrElse(0L),
          m.map(_.outputMetrics.recordsWritten).getOrElse(0L),
          m.map(_.shuffleReadMetrics.recordsRead).getOrElse(0L),
          m.map(x => (x.shuffleReadMetrics.localBytesRead +
            x.shuffleReadMetrics.remoteBytesRead) >> 20).getOrElse(0L),
          m.map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L),
          m.map(_.shuffleWriteMetrics.bytesWritten >> 20).getOrElse(0L),
          m.map(x => (x.memoryBytesSpilled + x.diskBytesSpilled) >> 20).getOrElse(0L),
          si.details))
      }
    })
    names.foreach { name =>
    (1 to reps).foreach { rep =>
      stages.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Materializer.clear()
      println(f"[prof] rep $rep: $name = $sec%.2f s")
      if (rep == reps) {
        import scala.jdk.CollectionConverters._
        println(f"[prof] ${"stage"}%-6s ${"tasks"}%5s ${"run_s"}%8s ${"cpu_s"}%8s ${"gc_s"}%6s ${"wall_s"}%7s ${"in_rows"}%10s ${"shR_rows"}%10s ${"shR_mb"}%7s ${"shW_rows"}%10s ${"shW_mb"}%7s ${"spill_mb"}%8s")
        val top = stages.asScala.toSeq.sortBy(-_.wallMs)
        top.take(20).foreach { s =>
          println(f"[prof] ${s.id}%-6d ${s.tasks}%5d ${s.runMs / 1e3}%8.2f ${s.cpuMs / 1e3}%8.2f ${s.gcMs / 1e3}%6.1f ${s.wallMs / 1e3}%7.2f ${s.inRows}%10d ${s.shRdRows}%10d ${s.shRdMb}%7d ${s.shWrRows}%10d ${s.shWrMb}%7d ${s.spillMb}%8d")
        }
        top.take(2).foreach { s =>
          println(s"[prof] -- stage ${s.id} details --")
          s.details.linesIterator.take(18).foreach(l => println(s"[prof]   $l"))
        }
      }
    }
    }
    spark.stop()
  }
}
