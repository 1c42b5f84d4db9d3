package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import Json.{arr, num, obj, quote => q}

/** Minimal JSON rendering for the run record. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${quote(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}

/** Collects one run's measurements and writes them as JSON: end-to-end
  * metrics always, per-layer metrics, spans and per-layer self time when
  * the run is traced. */
final class Result(o: Opts, workload: Workload, cores: Int, rec: Recorder) {
  val setups = ArrayBuffer[Double]()
  val passes = ArrayBuffer[PassRec]()
  val passCpu = ArrayBuffer[Double]()
  val checks = ArrayBuffer[Check]()
  var sourceStamp = ""
  var sparkConf: Seq[(String, String)] = Nil
  var loadStart = 0.0
  var loadEnd = 0.0
  var peakHeap = 0L
  var captured: Map[String, (Long, String)] = Map.empty
  var scratchBefore: Seq[String] = Nil

  private def isStream = workload.isInstanceOf[StreamReplay]

  // ------------------------------------------------------------ statistics

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest of p99/p95/p90/p75/p50 with at least 10 samples beyond
    * it, nearest rank; the maximum (reported as percentile 100) when even
    * p50 has fewer than 10 samples beyond it. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val n = xs.length
    val pct = Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) >= 1000).getOrElse(100)
    if (n == 0) (0.0, pct)
    else (xs.sorted.apply(math.max(0, math.ceil(n * pct / 100.0).toInt - 1)), pct)
  }

  /** Passes after the cold one and the workload's warm-up passes. */
  private def measured: Seq[PassRec] = passes.toSeq.drop(1 + workload.warmupPasses)

  def attempted: Int = passes.map(_.ops.length).sum + checks.length
  def failed: Int = passes.map(_.ops.count(!_.ok)).sum + checks.count(!_.ok)

  def endToEnd: Seq[(String, Double, String)] = {
    val lat = measured.flatMap(_.ops.filter(_.ok).map(_.ms))
    val (tl, pct) = tail(lat)
    val common = Seq(
      ("setup_s", median(setups.toSeq), "s"),
      ("pass_s", median(measured.map(_.seconds)), "s"),
      ("pass_cpu_s", median(passCpu.toSeq.drop(1 + workload.warmupPasses)), "s"),
      ("first_pass_s", passes.headOption.map(_.seconds).getOrElse(0.0), "s"),
      ("op_p50_ms", median(lat), "ms"),
      ("peak_heap_mib", peakHeap / 1048576.0, "MiB"),
      ("fail_ratio", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio"))
    val specific =
      if (isStream) Seq(
        ("rows_per_s", measured.map(_.replayedRows).sum / math.max(1e-9, measured.map(_.seconds).sum), "1/s"),
        ("batch_latency_p50_ms", median(lat), "ms"),
        ("batch_latency_tail_ms", tl, "ms"))
      else Seq(
        ("query_p50_s", median(lat) / 1000, "s"),
        ("query_tail_s", tl / 1000, "s"))
    (common ++ specific) ++ Seq(("tail_percentile", pct.toDouble, "pct"),
      ("latency_samples", lat.length.toDouble, "count"))
  }

  // --------------------------------------------------------------- layers

  private def within(t: Long, w: (Double, Double)): Boolean =
    t >= math.floor(w._1) && t <= math.ceil(w._2)

  /** Length of the union of `ivs` clipped to `w`. */
  private def covered(ivs: Seq[(Double, Double)], w: (Double, Double)): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, w._1), math.min(b, w._2)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }

  private lazy val stageById = rec.stages.map(s => s.id -> s).toMap

  def layerStats(p: PassRec): Seq[(String, Double, String)] = {
    val windows = if (isStream) Seq((p.start, p.end)) else p.ops.map(op => (op.start, op.end))
    val phase = (layer: String) =>
      (p.phases ++ p.ops.flatMap(_.phases)).filter(_._1 == layer).map(x => (x._2, x._3))
    // a stream builds and starts its queries once, in pass 0
    val builds = if (isStream) passes.head.phases.map(x => (x._2, x._3)) else phase("operators")
    val jobs = rec.jobs.toSeq.filter(j => windows.exists(within(j.submit, _)))
    val stages = jobs.flatMap(_.stageIds).distinct.flatMap(stageById.get)
    val buildJobs = (if (isStream) rec.jobs.toSeq else jobs).count(j => builds.exists(within(j.submit, _)))
    val writes = if (isStream) Nil
      else rec.sqlExecs.values.toSeq.filter(x => x.isWrite && builds.exists(within(x.start, _)))
    val ivs = stages.map(s => (s.submit.toDouble, s.complete.toDouble))
    val cov = windows.map(covered(ivs, _)).sum
    val wall = windows.map(w => w._2 - w._1).sum
    val taskS = stages.map(_.runMs).sum / 1000.0
    val sumDur = (xs: Seq[(Double, Double)]) => xs.map(w => w._2 - w._1).sum / 1000.0
    val prog = rec.progress.toSeq.filter(x =>
      p.streamRunIds.contains(x.runId) && within(x.start, (p.start, p.end)))
    val dur = (k: String) => prog.map(_.durations.getOrElse(k, 0L).toDouble)
    val lastPerQuery = prog.groupBy(_.runId).values.map(_.maxBy(_.start)).toSeq
    Seq(
      ("operators.build_s", sumDur(builds), "s"),
      ("operators.build_jobs", buildJobs.toDouble, "count"),
      ("Materializer.writes", writes.length.toDouble, "count"),
      ("Materializer.bytes_written", p.ops.map(_.materializedBytes).sum.toDouble, "bytes"),
      ("Materializer.write_s", writes.map(x => x.end - x.start).sum / 1000.0, "s"),
      ("catalyst.plan_s",
        if (isStream) dur("queryPlanning").sum / 1000.0 else sumDur(phase("catalyst")), "s"),
      ("exec.exec_s", sumDur(if (isStream) phase("micro-batch") else phase("exec")), "s"),
      ("exec.jobs", jobs.length.toDouble, "count"),
      ("exec.stages", stages.length.toDouble, "count"),
      ("exec.one_task_stages", stages.count(_.numTasks == 1).toDouble, "count"),
      ("exec.gap_s", (wall - cov) / 1000.0, "s"),
      ("exec.cores_busy", if (cov <= 0) 0.0 else taskS / (cov / 1000.0), "cores"),
      ("exec.task_s", taskS, "s"),
      ("exec.cpu_s", stages.map(_.cpuNs).sum / 1e9, "s"),
      ("exec.gc_s", stages.map(_.gcMs).sum / 1000.0, "s"),
      ("exec.shuffle_read_bytes", stages.map(_.shuffleRead).sum.toDouble, "bytes"),
      ("exec.shuffle_write_bytes", stages.map(_.shuffleWrite).sum.toDouble, "bytes"),
      ("exec.spill_bytes", stages.map(_.spill).sum.toDouble, "bytes"),
      ("exec.input_bytes", stages.map(_.input).sum.toDouble, "bytes"),
      ("exec.output_rows",
        (if (isStream) p.replayedRows else p.ops.filter(_.ok).map(_.rows).sum).toDouble, "rows"),
      ("streaming.trigger_ms", median(dur("triggerExecution")), "ms"),
      ("streaming.add_batch_ms", median(dur("addBatch")), "ms"),
      ("streaming.query_planning_ms", median(dur("queryPlanning")), "ms"),
      ("streaming.wal_commit_ms", median(prog.map(x =>
        (x.durations.getOrElse("walCommit", 0L) + x.durations.getOrElse("commitOffsets", 0L)).toDouble)), "ms"),
      ("streaming.state_rows", lastPerQuery.map(_.stateRows).sum.toDouble, "rows"),
      ("streaming.state_memory_bytes", lastPerQuery.map(_.stateBytes).sum.toDouble, "bytes"),
      ("streaming.state_commit_ms", median(prog.map(_.stateCommitMs.toDouble)), "ms"),
      ("streaming.rows_dropped_by_watermark", prog.map(_.droppedByWatermark).sum.toDouble, "rows"))
  }

  /** Median over measured passes of each per-pass layer metric. */
  def perLayer: Seq[(String, Double, String)] = {
    val per = measured.map(layerStats)
    if (per.isEmpty) Nil
    else per.head.indices.map { i =>
      val (n, _, u) = per.head(i)
      (n, median(per.map(_(i)._2)), u)
    }
  }

  // ---------------------------------------------------------------- spans

  /** Harness spans plus job and stage spans from the listener, and one
    * span per streaming trigger with its phases laid out in Spark's
    * execution order (durations exact, offsets approximate). */
  def allSpans: Seq[Span] = {
    val out = ArrayBuffer[Span]() ++ rec.spans.filter(_ != null)
    def innermost(t: Double): Int = {
      val c = out.filter(s => s.layer != "job" && s.layer != "stage" && s.start <= t && t <= s.end)
      if (c.isEmpty) -1 else c.maxBy(_.start).id
    }
    rec.progress.foreach { pr =>
      val d = pr.durations
      val trig = d.getOrElse("triggerExecution", 0L).toDouble
      val t = Span(out.length, innermost(pr.start.toDouble), "streaming", s"trigger:${pr.name}",
        pr.start.toDouble, pr.start + trig)
      out += t
      var at = t.start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val v = d.getOrElse(k, 0L).toDouble
          if (v > 0) { out += Span(out.length, t.id, "streaming", k, at, at + v); at += v }
        }
    }
    val jobSpan = scala.collection.mutable.Map[Int, Int]()
    rec.jobs.foreach { j =>
      val s = Span(out.length, innermost(j.submit.toDouble), "job", s"job${j.id}",
        j.submit.toDouble, math.max(j.submit, j.end).toDouble)
      out += s
      j.stageIds.foreach(id => jobSpan.getOrElseUpdate(id, s.id))
    }
    rec.stages.foreach { st =>
      out += Span(out.length, jobSpan.getOrElse(st.id, -1), "stage", s"stage${st.id}",
        st.submit.toDouble, math.max(st.submit, st.complete).toDouble)
    }
    out.toSeq
  }

  /** Per layer: total span time minus the time covered by child spans. */
  def selfTime(spans: Seq[Span]): Seq[(String, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (layer, ss) =>
      layer -> ss.map { s =>
        s.dur - covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), (s.start, s.end))
      }.sum / 1000.0
    }
  }

  private def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> q(u))) })

  def write(scratch: Path): Unit = {
    val traced = o.trace && !o.capture
    val spans = if (traced) allSpans else Nil
    val fields = ArrayBuffer[(String, String)](
      "workload" -> q(o.workload), "seed" -> o.seed.toString, "seconds" -> o.seconds.toString,
      "trace" -> o.trace.toString, "sf_dir" -> q(o.sfDir),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString, "spark_cores" -> cores.toString,
      "source_stamp" -> q(sourceStamp),
      "loadavg" -> obj(Seq("start" -> num(loadStart), "end" -> num(loadEnd))),
      "spark_conf" -> obj(sparkConf.map { case (k, v) => k -> q(v) }),
      "scratch_root" -> q(scratch.toString),
      "scratch_before" -> arr(scratchBefore.map(q)),
      "setup_s" -> arr(setups.toSeq.map(num)),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "passes" -> arr(passes.toSeq.map { p =>
        obj(Seq("idx" -> p.idx.toString, "seconds" -> num(p.seconds),
          "cpu_s" -> num(passCpu.lift(p.idx).getOrElse(Double.NaN)),
          "ops" -> arr(p.ops.map { op =>
            obj(Seq("name" -> q(op.name), "ms" -> num(op.ms), "rows" -> op.rows.toString,
              "ok" -> op.ok.toString) ++
              op.phases.map { case (l, a, b) => s"${l}_ms" -> num(b - a) } ++
              (if (op.materializedBytes > 0) Seq("materialized_bytes" -> op.materializedBytes.toString) else Nil) ++
              (if (op.ok) Nil else Seq("error" -> q(op.error))))
          })))
      }),
      "checks" -> arr(checks.toSeq.map(c =>
        obj(Seq("name" -> q(c.name), "ok" -> c.ok.toString, "detail" -> q(c.detail))))),
      "end_to_end" -> (if (o.capture) "{}" else metrics(endToEnd)))
    if (traced) {
      fields += "per_layer" -> metrics(perLayer)
      fields += "self_time_s" -> obj(selfTime(spans).map { case (l, v) => l -> num(v) })
    }
    if (o.capture)
      fields += "captured" -> obj(captured.toSeq.sortBy(_._1).map { case (k, (n, h)) =>
        k -> obj(Seq("rows" -> n.toString, "hash" -> q(h)))
      })
    Files.writeString(Paths.get(o.out), obj(fields.toSeq) + "\n")
    if (traced && o.traceOut.nonEmpty)
      Files.writeString(Paths.get(o.traceOut), arr(spans.map { s =>
        obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "layer" -> q(s.layer),
          "name" -> q(s.name), "start_ms" -> num(s.start), "end_ms" -> num(s.end)))
      }) + "\n")
  }
}
