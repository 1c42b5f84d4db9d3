package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

/** The one measurement main:
  * `runMain graft.Bench [--profile | --plans] [query ...]`, over the
  * tables in `SPARK_GRAFT_SF_DIR` (default `/root/testdata/sf0.1`). No
  * names selects the whole registry.
  *
  *  - Default: times each query [[Reps]] times, prints one JSON line to
  *    stdout and writes the full record to `bench_full.json` and
  *    `bench_runs/`.
  *  - `--profile`: times the same way and prints the Spark stages of
  *    each query's last rep (the Spark UI is off; this is the headless
  *    stand-in). Writes no record.
  *  - `--plans`: builds each query once and prints `explain("formatted")`
  *    plus the plan of every subtree [[Materializer]] writes.
  *
  * Rules, each with its reason:
  *  - Queries are forced with `queryExecution.toRdd.count()`: under
  *    `df.count()` Catalyst reduces a row-preserving plan to a parquet
  *    metadata count, so the query's own work never runs.
  *  - `Materializer.clear()` after every rep: a rep that reused an
  *    earlier rep's on-disk copies would time less work.
  *  - Rep 1 is `cold`, the median of reps 2..k is `warm`: the first run
  *    of a plan shape pays class loading and codegen that later runs do
  *    not, and a median ignores one stalled rep.
  *  - `value` is the sum of the warm medians: the cold reps' one-time
  *    costs land in `cold_total` and stay out of it.
  *  - Each rep also records the JVM's CPU seconds; `cpu` is their warm
  *    median and `cpu_total` the sum over queries (full record only):
  *    wall totals of one source moved 1.9× between machine windows with
  *    CPU steal, and CPU time does not count the time other guests held
  *    the machine.
  *  - Each rep also counts the Spark jobs it launched; `jobs` is their
  *    warm median and `jobs_total` the sum over queries (full record
  *    only): the registry's cost tracks its job count, about 38 ms of
  *    driver gap per job.
  *  - `spread` is the range of a query's warm reps, and for the run the
  *    range of its rep-by-rep warm totals: each record states its own
  *    noise.
  *  - A query that throws, or whose reps return different row counts,
  *    is failed: its output is not a fixed thing to time, so it gets no
  *    time and does not count towards `n`.
  *  - See [[replaces]] for when a run may replace `bench_full.json`.
  */
object Bench {
  /** Reps per query: 1 cold + 3 warm. Three is the fewest warm reps
    * whose median ignores one stalled rep. In a 9-rep pilot, disjoint
    * 3-rep windows agreed within their reported spread, and a fourth warm
    * rep moved the warm total by under 1% for a quarter more run time
    * (CHANGES.md has the numbers). */
  val Reps = 4

  /** Method stamp: a record measured under another forcing action or
    * rep count timed something else, so it is stale. */
  private[graft] val Method = s"toRdd.count/k$Reps"

  /** The stdout line must fit the last 2000 characters of stdout,
    * which is all the driver keeps. */
  private[graft] val LineMax = 2000

  /** One query's reps: wall seconds, process CPU seconds and output rows
    * per rep, or the error that ended them; `jobs` per rep once counted. */
  private[graft] final case class Rec(name: String, secs: Seq[Double], cpuSecs: Seq[Double],
      rows: Seq[Long], error: Option[String] = None, jobs: Seq[Int] = Nil) {
    def failure: Option[String] = error.orElse(
      if (rows.distinct.size > 1) Some(s"rows differ across reps: ${rows.mkString(",")}")
      else None)
    def ok: Boolean = failure.isEmpty
    def cold: Double = secs.head
    def warm: Double = median(secs.tail)
    def cpu: Double = median(cpuSecs.tail)
    def warmJobs: Int = jobs.tail.sorted.apply((jobs.size - 2) / 2) // lower median
    def spread: Double = secs.tail.max - secs.tail.min
  }

  private def median(xs: Seq[Double]): Double = {
    val w = xs.sorted
    (w((w.size - 1) / 2) + w(w.size / 2)) / 2
  }

  private[graft] final case class Run(recs: Seq[Rec]) {
    val ok: Seq[Rec] = recs.filter(_.ok)
    val failed: Seq[String] = recs.filterNot(_.ok).map(_.name)
    def warmTotal: Double = ok.map(_.warm).sum
    def coldTotal: Double = ok.map(_.cold).sum
    def cpuTotal: Double = ok.map(_.cpu).sum
    /** None until every timed query has its job counts. */
    def jobsTotal: Option[Int] = if (ok.forall(_.jobs.nonEmpty)) Some(ok.map(_.warmJobs).sum) else None
    def spread: Double = {
      val totals = (1 until Reps).map(i => ok.map(_.secs(i)).sum)
      totals.max - totals.min
    }
  }

  private def f2(v: Double): String = // Locale.ROOT: never a comma decimal point
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** A JSON string literal: quote, backslash and every control
    * character escaped. */
  private[graft] def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsList(xs: Seq[String]): String = xs.map(js).mkString("[", ",", "]")

  /** The run's fields, then `extra`, then the query map last: the record
    * rule reads only what precedes `"queries":`. */
  private def record(run: Run, extra: String, queries: Seq[String]): String =
    s"""{"metric":"total","value":${f2(run.warmTotal)},"unit":"sec","n":${run.ok.size},""" +
      s""""k":$Reps,"cold_total":${f2(run.coldTotal)},"spread":${f2(run.spread)},$extra,""" +
      s""""queries":${queries.mkString("{", ",", "}")}}"""

  /** The full record: every query with cold, warm, spread, warm CPU,
    * rows, each rep's wall and CPU seconds and, once counted, its warm
    * and per-rep jobs; or its failure. */
  private[graft] def fullRecord(run: Run, meta: String): String =
    record(run, s""""cpu_total":${f2(run.cpuTotal)},""" +
      run.jobsTotal.fold("")(n => s""""jobs_total":$n,""") + s""""failed":${jsList(run.failed)},$meta""",
      run.recs.map { r =>
        js(r.name) + ":" + r.failure.fold(
          s"""{"cold":${f2(r.cold)},"warm":${f2(r.warm)},"spread":${f2(r.spread)},"cpu":${f2(r.cpu)},""" +
            s""""rows":${r.rows.head},"secs":${r.secs.map(f2).mkString("[", ",", "]")},""" +
            s""""cpu_secs":${r.cpuSecs.map(f2).mkString("[", ",", "]")}""" +
            (if (r.jobs.isEmpty) "" else s""","jobs":${r.warmJobs},"rep_jobs":${r.jobs.mkString("[", ",", "]")}""") +
            "}")(
          e => s"""{"error":${js(e)}}""")
      })

  /** The stdout line, at most [[LineMax]] characters: failed names first
    * (a failure must not drop out of view), then the slowest warm times;
    * the rest are counted in `failed_omitted`, `queries_omitted` and
    * `omitted_sec`, so the line still accounts for all of `value`. */
  private[graft] def stdoutLine(run: Run, meta: String): String = {
    def line(failed: Seq[String], shown: Seq[Rec]): String =
      record(run,
        s""""failed":${jsList(failed)},"failed_omitted":${run.failed.size - failed.size},""" +
          s""""queries_omitted":${run.ok.size - shown.size},""" +
          s""""omitted_sec":${f2(run.warmTotal - shown.map(_.warm).sum)},$meta""",
        shown.map(r => js(r.name) + ":" + f2(r.warm)))
    def longest[A](xs: Seq[A])(fits: Seq[A] => Boolean): Seq[A] =
      xs.take((0 to xs.size).takeWhile(i => fits(xs.take(i))).lastOption.getOrElse(0))
    val failed = longest(run.failed)(f => line(f, Nil).length <= LineMax)
    line(failed, longest(run.ok.sortBy(-_.warm))(s => line(failed, s).length <= LineMax))
  }

  /** Whether a run of `n` timed queries on sources `src` with run spread
    * `spread` may replace the record `prior` (the text of
    * `bench_full.json`, "" when there is none).
    *  - Fewer queries never replace more: a subset run must not erase
    *    the full-registry record.
    *  - More queries always replace fewer.
    *  - At equal size a stale prior (another method, or sources unstamped
    *    or different) is replaced: it timed other code.
    *  - Otherwise the run with the smaller spread wins, so a noisy rerun
    *    cannot displace a steadier record of the same code. An unstamped
    *    current run ("unknown") cannot show its sources match, so it
    *    keeps this guard. */
  private[graft] def replaces(prior: String, n: Int, src: String, spread: Double): Boolean = {
    val head = prior.split("\"queries\":", 2)(0)
    def field(key: String): Option[String] =
      s""""$key":"?([^",}]+)""".r.findFirstMatchIn(head).map(_.group(1))
    val priorN = field("n").fold(0)(_.toInt)
    val priorSrc = field("src").filter(_ != "unknown")
    val stale = !field("method").contains(Method) || priorSrc.isEmpty ||
      (src != "unknown" && !priorSrc.contains(src))
    n > priorN || n == priorN && (stale || field("spread").forall(spread <= _.toDouble))
  }

  /** CPU seconds of every thread of this JVM so far, as `perfbench`
    * reads them: on a shared machine, wall time also counts the time
    * other guests held the CPU. */
  private def processCpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The call site of rep `i` of `name`: it names the query in stage
    * details and keys the rep's job count. */
  private def site(name: String, i: Int): String = s"$name rep $i"

  /** Runs `name` [[Reps]] times, stopping at the first error. `beforeRep`
    * runs before each rep (the profile mode clears its stage log). Each
    * rep's jobs carry the call site "`name` rep i", short and long form,
    * so a stage's name and details name the query: AQE submits stages
    * from its own threads, where the long form Spark derives from the
    * stack shows only thread-pool frames. */
  private def measure(spark: SparkSession, sfDir: String, name: String, beforeRep: () => Unit): Rec = {
    val fn = SparkEntry.queries(name)
    val secs = ArrayBuffer[Double]()
    val cpuSecs = ArrayBuffer[Double]()
    val rows = ArrayBuffer[Long]()
    var error: Option[String] = None
    while (error.isEmpty && secs.size < Reps) {
      beforeRep()
      val repSite = site(name, secs.size + 1)
      spark.sparkContext.setCallSite(repSite)
      spark.sparkContext.setLocalProperty("callSite.long", repSite) // Spark's CallSite.LONG_FORM
      val cpu0 = processCpuSeconds
      val t0 = System.nanoTime()
      try rows += fn(spark, sfDir).queryExecution.toRdd.count()
      catch {
        case e: Throwable =>
          e.printStackTrace()
          error = Some(e.toString.linesIterator.nextOption().getOrElse("").take(300))
      }
      finally spark.sparkContext.clearCallSite()
      secs += (System.nanoTime() - t0) / 1e9
      cpuSecs += processCpuSeconds - cpu0
      Materializer.clear()
    }
    Rec(name, secs.toSeq, cpuSecs.toSeq, rows.toSeq, error)
  }

  /** `--plans`: prints each query's formatted plan and the plans of the
    * subtrees it materializes. Materializer is cleared between queries
    * so a shared subtree is dumped under every query that uses it. */
  private[graft] def plans(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    Materializer.dumpPlans = true
    try names.foreach { name =>
      println(s"\n===== $name =====")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      finally Materializer.clear()
    } finally Materializer.dumpPlans = false
  }

  /** Jobs started per short call site. Jobs carry the submitting
    * thread's local properties, AQE's stage jobs included, so each job
    * of a rep counts under that rep's [[site]]. Complete only once the
    * listener bus has drained, which `spark.stop()` waits for. */
  private def jobLog(spark: SparkSession): java.util.concurrent.ConcurrentHashMap[String, AtomicInteger] = {
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short"))) // CallSite.SHORT_FORM
          .foreach(s => jobs.computeIfAbsent(s, _ => new AtomicInteger).incrementAndGet())
    })
    jobs
  }

  /** `--profile`: collects completed stages; the caller clears it per rep. */
  private def stageLog(spark: SparkSession): java.util.concurrent.ConcurrentLinkedQueue[StageInfo] = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = stages.add(sc.stageInfo)
    })
    stages
  }

  /** The 20 longest stages, then the call sites of the top two. run =
    * task wall time, cpu = on-CPU time, gc = JVM GC: run ≫ cpu means
    * tasks waited (shuffle fetch, disk), high gc means heap churn, and
    * run ≈ cpu ≫ data volume means a slow hot loop. */
  private def printStages(name: String, stages: Iterable[StageInfo]): Unit = {
    def row(cells: Seq[Any]): Unit = println(s"[prof] $name " + cells.map(c => f"$c%9s").mkString)
    def wall(s: StageInfo) = (for (a <- s.completionTime; b <- s.submissionTime) yield a - b).getOrElse(0L)
    def sec(ms: Long) = f2(ms / 1e3)
    row(Seq("stage", "tasks", "wall_s", "run_s", "cpu_s", "gc_s",
      "in_rows", "shR_rows", "shR_mb", "shW_rows", "shW_mb", "spill_mb"))
    val top = stages.toSeq.sortBy(-wall(_))
    top.take(20).foreach { s =>
      def g(f: TaskMetrics => Long) = Option(s.taskMetrics).fold(0L)(f)
      row(Seq(s.stageId, s.numTasks, sec(wall(s)), sec(g(_.executorRunTime)),
        sec(g(_.executorCpuTime) / 1000000), sec(g(_.jvmGCTime)),
        g(_.inputMetrics.recordsRead), g(_.shuffleReadMetrics.recordsRead),
        g(_.shuffleReadMetrics.totalBytesRead) >> 20, g(_.shuffleWriteMetrics.recordsWritten),
        g(_.shuffleWriteMetrics.bytesWritten) >> 20, g(m => m.memoryBytesSpilled + m.diskBytesSpilled) >> 20))
    }
    top.take(2).foreach { s =>
      println(s"[prof] $name -- stage ${s.stageId} details --")
      s.details.linesIterator.take(18).foreach(l => println(s"[prof]   $l"))
    }
  }

  /** Untimed engine warm-up over a tiny synthetic relation: without it
    * the first timed query absorbs the JVM's one-time codegen, class
    * loading and parquet write/read paths. It reads no registered query's
    * input beyond one footer and leaves nothing a query could reuse. */
  private def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.read.parquet(s"$sfDir/region.parquet").count()
      import org.apache.spark.sql.functions._
      val r = spark.range(0, 50000)
        .select(col("id"), pmod(col("id"), lit(97)).as("k"),
          (col("id") % 1000).cast("decimal(18,2)").as("d"))
      val agg = r.groupBy(col("k"))
        .agg(count(lit(1)).as("c"), sum(col("d")).as("s"), avg(col("id")).as("a"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k")).orderBy(col("id"))
      r.withColumn("rn", row_number().over(w))
        .join(broadcast(agg), Seq("k"))
        .groupBy(col("k")).agg(max(col("rn")).as("m"), sum(col("s")).as("s"))
        .orderBy(col("k"))
        .queryExecution.toRdd.count()
      Materializer.materialize(agg).queryExecution.toRdd.count()
    } catch { case _: Throwable => () }
    finally Materializer.clear()

  /** 1-min loadavg, or -1 if unreadable: recorded so a run made on a
    * loaded machine shows it in its own record. */
  private def loadavg: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Abbreviated git HEAD, read from `.git` without starting git. It is
    * provenance for locating a record in history; the stale rule keys on
    * [[sourceStamp]], since a doc-only commit moves HEAD but not the
    * measured code. */
  private def gitHead: String =
    try {
      val fs = java.nio.file.FileSystems.getDefault
      def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8").trim
      // `.git` is a file ("gitdir: <path>", relative to the file's
      // directory) in worktree and submodule layouts
      val dotGit = fs.getPath(".git")
      val gitDir =
        if (Files.isRegularFile(dotGit)) {
          val content = read(dotGit)
          if (!content.startsWith("gitdir: ")) return "unknown"
          val target = fs.getPath(content.drop(8).trim)
          if (target.isAbsolute) target
          else dotGit.toAbsolutePath.getParent.resolve(target).normalize
        } else dotGit
      val head = read(gitDir.resolve("HEAD"))
      if (head.startsWith("gitdir: ")) "unknown"
      else if (!head.startsWith("ref: ")) head.take(12)
      else {
        val ref = head.drop(5)
        def refIn(dir: Path) = dir.resolve(fs.getPath(ref.split("/").head, ref.split("/").tail: _*))
        // a worktree's refs live in its parent repo dir (commondir)
        val common = gitDir.resolve("commondir")
        val commonDir = if (Files.exists(common)) gitDir.resolve(read(common)).normalize else gitDir
        Seq(refIn(gitDir), refIn(commonDir)).find(Files.exists(_)) match {
          case Some(p) => read(p).take(12)
          case None => // packed ref: "<sha> <refname>" lines
            val packed = commonDir.resolve("packed-refs")
            if (!Files.exists(packed)) "unknown"
            else read(packed).linesIterator
              .find(l => !l.startsWith("#") && l.endsWith(" " + ref))
              .map(_.split(" ")(0).take(12)).getOrElse("unknown")
        }
      }
    } catch { case _: Throwable => "unknown" }

  /** Content stamp of the MEASURED sources: SHA-256 (12 hex chars) over
    * every regular file under `src/main` plus `build.sbt`, fed as
    * (sorted unix-style relative path, NUL, bytes, NUL). It keys the
    * record staleness rule: a doc, test or artifact edit leaves it
    * unchanged, any `src/main` or `build.sbt` edit changes it. It hashes
    * the working tree, not HEAD's tree, because sbt compiles the working
    * tree. "unknown" when there is no `src/main`. */
  private[graft] def sourceStamp(root: java.nio.file.Path): String =
    try {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      def feed(p: Path, rel: String): Unit = {
        md.update(rel.getBytes("UTF-8")); md.update(0.toByte)
        md.update(Files.readAllBytes(p)); md.update(0.toByte)
      }
      val srcMain = root.resolve("src").resolve("main")
      if (!Files.isDirectory(srcMain)) return "unknown"
      val walk = Files.walk(srcMain)
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => p -> root.relativize(p).iterator().asScala.mkString("/"))
        .toSeq.sortBy(_._2)
        .foreach { case (p, rel) => feed(p, rel) }
      finally walk.close()
      val bs = root.resolve("build.sbt")
      if (Files.isRegularFile(bs)) feed(bs, "build.sbt")
      md.digest().take(6).map(b => f"$b%02x").mkString
    } catch { case _: Throwable => "unknown" }

  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Peak used heap summed over heap pools, MiB. */
  private def peakHeapMiB: Long =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / (1024 * 1024)

  /** Writes `line` under `bench_runs/` (every run, never overwritten) and
    * to `bench_full.json` when [[replaces]] allows. */
  private def writeRecords(run: Run, line: String, src: String): Unit = {
    try {
      val dir = Files.createDirectories(Paths.get("bench_runs"))
      val u = dir.resolve(s"bench_${System.currentTimeMillis()}_${run.ok.size}q.json")
      Files.write(u, (line + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] run copy -> ${u.toAbsolutePath}")
    } catch { case e: Throwable => System.err.println(s"[bench] bench_runs write failed: $e") }
    try {
      val p = Paths.get("bench_full.json")
      val prior = if (Files.exists(p)) new String(Files.readAllBytes(p), "UTF-8") else ""
      if (replaces(prior, run.ok.size, src, run.spread)) {
        Files.write(p, (line + "\n").getBytes("UTF-8"))
        System.err.println(s"[bench] full record -> ${p.toAbsolutePath}")
      } else
        System.err.println(s"[bench] NOT overwriting bench_full.json (a fuller or steadier " +
          "record of the same sources); this run is in bench_runs/")
    } catch { case e: Throwable => System.err.println(s"[bench] bench_full.json write failed: $e") }
  }

  def main(args: Array[String]): Unit = {
    val (flags, names) = args.toSeq.partition(_.startsWith("--"))
    val mode = flags.mkString(" ")
    require(Set("", "--profile", "--plans")(mode), s"unknown mode '$mode' (--profile or --plans)")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected = (if (names.isEmpty) SparkEntry.queries.keys.toSeq else names).distinct.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val load0 = loadavg
    val spark = GraftSession.local()
    val jobs = jobLog(spark)
    val timed =
      try {
        if (mode == "--plans") { plans(spark, sfDir, selected); Run(Nil) }
        else {
          warmUp(spark, sfDir)
          val stages = if (mode == "--profile") Some(stageLog(spark)) else None
          Run(selected.map { name =>
            val r = measure(spark, sfDir, name, () => stages.foreach(_.clear()))
            System.err.println(r.failure.fold(
              f"[bench] $name%-28s cold ${r.cold}%7.2f s  warm ${r.warm}%7.2f s  spread ${r.spread}%5.2f  " +
                f"cpu ${r.cpu}%7.2f s  rows ${r.rows.head}")(
              e => s"[bench] $name FAILED: $e"))
            stages.foreach(s => printStages(name, s.asScala))
            r
          })
        }
      } finally spark.stop()
    val run = Run(timed.recs.map(r =>
      r.copy(jobs = r.secs.indices.map(i => Option(jobs.get(site(r.name, i + 1))).fold(0)(_.get)))))
    if (mode == "") {
      val src = sourceStamp(Paths.get("."))
      val meta = s""""loadavg_start":${f2(load0)},"loadavg_end":${f2(loadavg)},""" +
        s""""gc_ms":$gcMillis,"peak_heap_mib":$peakHeapMiB,"method":${js(Method)},""" +
        s""""head":${js(gitHead)},"src":${js(src)},"sf":${js(sfDir)}"""
      writeRecords(run, fullRecord(run, meta), src)
      println(stdoutLine(run, meta))
    }
    if (run.failed.nonEmpty) sys.exit(1)
  }
}
