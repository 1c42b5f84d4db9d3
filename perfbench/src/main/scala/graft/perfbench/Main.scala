package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Materializer}

/** One timed operation: a query (batch workloads) or a micro-batch
  * (stream replay). `phases` holds the (layer, start, end) windows the
  * per-layer attribution needs. */
final case class OpRec(name: String, start: Double, end: Double, rows: Long,
    ok: Boolean, error: String, phases: Seq[(String, Double, Double)],
    materializedBytes: Long) {
  def ms: Double = end - start
}

final case class PassRec(idx: Int, start: Double, end: Double, ops: Seq[OpRec],
    phases: Seq[(String, Double, Double)], streamRunIds: Set[String], replayedRows: Long) {
  def seconds: Double = (end - start) / 1000.0
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    sfDir: String, out: String, traceOut: String, expected: String,
    captureDir: String) {
  def capture: Boolean = captureDir.nonEmpty
}

/** Benchmark entry point: set the session up five times, run a fixed number
  * of timed passes of one workload, check its outputs, and write one JSON
  * record. See perfbench/README.md. */
object Main {

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "20").toInt,
      m.getOrElse("trace", "0") == "1", need("sf-dir"), need("out"),
      m.getOrElse("trace-out", ""), m.getOrElse("expected", ""),
      m.getOrElse("capture-dir", ""))
  }

  def session(cores: Int): SparkSession = {
    val spark = GraftSession.builder(cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** CPU time of all this JVM's threads. */
  def processCpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def loadavg: Double =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.getLines().next().split(" ")(0).toDouble finally s.close()
    } catch { case _: Throwable => -1.0 }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
          try Files.size(f) catch { case _: java.io.IOException => 0L }
        }.sum
      } finally w.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
      } finally w.close()
    }

  /** Samples used heap every 20 ms; `peak` is the maximum seen. */
  final class HeapSampler extends Thread("perfbench-heap") {
    setDaemon(true)
    @volatile var peak = 0L
    @volatile var running = true
    private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    override def run(): Unit = while (running) {
      val u = mem.getHeapMemoryUsage.getUsed
      if (u > peak) peak = u
      Thread.sleep(20)
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val workload = Workloads.byName(o.workload, o)
    // Half the machine's cores run tasks; the rest keep the query thread, the
    // scheduler threads and the JVM's own threads off the task threads' CPUs.
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val rec = new Recorder(o.trace)
    val scratch = Paths.get(GraftSession.scratchRoot)
    val load0 = loadavg
    val scratchBefore = {
      val s = Files.list(scratch)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.map(_.getFileName.toString).toSeq }
      finally s.close()
    }

    // --- set-up, repeated: session start + workload warm-up. The first
    // one also pays JVM start; setup_s is the median of all of them.
    val setups = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until 5) {
      val t0 = if (i == 0) jvmStartMs else rec.nowMs
      if (spark != null) spark.stop()
      spark = session(cores)
      workload.setUp(spark)
      setups += (rec.nowMs - t0) / 1000.0
    }
    rec.attach(spark)

    val result = new Result(o, workload, cores, rec)
    result.setups ++= setups
    result.sourceStamp = graft.Bench.sourceStamp(Paths.get("."))
    result.sparkConf = spark.conf.getAll.toSeq.sortBy(_._1)
    result.loadStart = load0
    result.scratchBefore = scratchBefore

    if (o.capture) {
      result.captured = workload.capture(spark)
    } else {
      val heap = new HeapSampler
      heap.start()
      // Every run does the same work: --seconds buys one pass per nominal
      // pass time of the workload, at least the cold pass, the warm-up
      // passes and two measured passes.
      val nPasses = math.max(3 + workload.warmupPasses,
        math.ceil(o.seconds / workload.nominalPassSeconds).toInt)
      rec.span("workload", o.workload) {
        for (i <- 0 until nPasses) {
          val cpu0 = Main.processCpuSeconds
          result.passes += rec.span("pass", s"pass$i")(workload.pass(spark, i, rec))._1
          result.passCpu += Main.processCpuSeconds - cpu0
        }
      }
      result.peakHeap = heap.peak
      heap.running = false
      // untimed output checks: content hashes / stream-vs-batch differential
      result.checks ++= workload.check(spark)
    }
    result.loadEnd = loadavg
    spark.stop()
    workload.cleanUp()
    result.write(scratch)
    System.exit(0)
  }
}
