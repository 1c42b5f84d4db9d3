package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench harness's pure parts: the per-query summary, the rule
  * for replacing `bench_full.json`, and the stdout line that callers read
  * from the last 2000 characters of output. */
class BenchRecordSpec extends AnyFunSuite {
  import Bench.{Rec, Run}

  private val names = SparkEntry.queries.keys.toSeq.sorted
  private val meta = """"loadavg_start":0.35,"loadavg_end":2.10,"gc_ms":4588,""" +
    """"peak_heap_mib":3515,"method":"""" + Bench.Method + """","head":"6fdb186cb92c",""" +
    """"src":"a2af3b438bb6","sf":"testdata/sf0.1""""

  private def okRec(name: String, warm: Double, rows: Long = 10): Rec =
    Rec(name, Seq(warm * 1.5) ++ Seq.fill(Bench.Reps - 1)(warm),
      Seq(warm * 3) ++ Seq.fill(Bench.Reps - 1)(warm * 2), Seq.fill(Bench.Reps)(rows))
  private def failedRec(name: String): Rec =
    Rec(name, Seq(0.5), Seq(0.4), Nil, Some(s"java.lang.IllegalStateException: $name broke"))

  /** A full record of `n` queries on sources `src` with run spread `spread`. */
  private def prior(n: Int, src: String, spread: Double): String = {
    val recs = names.take(n).map(okRec(_, 1.0))
    Bench.fullRecord(Run(recs), meta.replace("a2af3b438bb6", src))
      .replaceFirst(""""spread":0\.00""", s""""spread":$spread""")
  }

  private def failedIn(line: String): Seq[String] =
    """"failed":\[([^\]]*)\]""".r.findFirstMatchIn(line).get.group(1)
      .split(",").filter(_.nonEmpty).map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
  private def num(line: String, key: String): Double =
    s""""$key":(-?[0-9.]+)""".r.findFirstMatchIn(line).get.group(1).toDouble

  test("cold is rep 1, warm the median of the rest, spread their range") {
    val r = Rec("q", Seq(3.0, 1.0, 2.0, 1.5).take(Bench.Reps) ++ Seq.fill(Bench.Reps - 4)(1.5),
      Seq(9.0, 4.0, 6.0, 5.0).take(Bench.Reps) ++ Seq.fill(Bench.Reps - 4)(5.0),
      Seq.fill(Bench.Reps)(7L))
    assert(r.ok && r.cold == 3.0 && r.warm == 1.5 && r.spread == 1.0 && r.cpu == 5.0)
  }

  test("the run's spread is the range of its rep-by-rep warm totals") {
    val cpu = Seq.fill(Bench.Reps)(1.0)
    val a = Rec("a", Seq(9.0, 1.0, 2.0, 1.0) ++ Seq.fill(Bench.Reps - 4)(1.0), cpu, Seq.fill(Bench.Reps)(1L))
    val b = Rec("b", Seq(9.0, 2.0, 1.0, 1.0) ++ Seq.fill(Bench.Reps - 4)(1.0), cpu, Seq.fill(Bench.Reps)(1L))
    assert(Run(Seq(a, b)).spread == 1.0) // per-rep totals 3, 3, 2
    assert(Run(Seq(a, b)).warmTotal == 2.0 && Run(Seq(a, b)).coldTotal == 18.0)
  }

  test("a query whose reps return different row counts is failed and sets no time") {
    val changed = Rec("q_changed", Seq.fill(Bench.Reps)(1.0), Seq.fill(Bench.Reps)(1.0),
      Seq(4L, 4L, 5L) ++ Seq.fill(Bench.Reps - 3)(4L))
    assert(!changed.ok && changed.failure.get.contains("rows differ"))
    val run = Run(Seq(changed, okRec("q_fine", 2.0, rows = 42)))
    assert(run.failed == Seq("q_changed") && run.warmTotal == 2.0)
    val full = Bench.fullRecord(run, meta)
    assert(full.contains(""""n":1,"""))
    val secs = (Seq("3.00") ++ Seq.fill(Bench.Reps - 1)("2.00")).mkString("[", ",", "]")
    val cpuSecs = (Seq("6.00") ++ Seq.fill(Bench.Reps - 1)("4.00")).mkString("[", ",", "]")
    assert(full.contains(s""""q_fine":{"cold":3.00,"warm":2.00,"spread":0.00,"cpu":4.00,"rows":42,""" +
      s""""secs":$secs,"cpu_secs":$cpuSecs}"""))
    assert(full.contains(""""q_changed":{"error":"rows differ across reps: 4,4,5"""))
    assert(failedIn(Bench.stdoutLine(run, meta)) == Seq("q_changed"))
  }

  test("the full record carries each rep's CPU seconds, their warm median and the run's CPU total") {
    val a = Rec("q_a", Seq(4.0, 1.0, 1.0, 1.0), Seq(7.0, 2.0, 3.0, 2.5), Seq.fill(4)(5L))
    val b = Rec("q_b", Seq(4.0, 1.0, 1.0, 1.0), Seq(5.0, 1.0, 1.0, 1.0), Seq.fill(4)(5L))
    val full = Bench.fullRecord(Run(Seq(a, b, failedRec("q_c"))), meta)
    assert(a.cpu == 2.5 && b.cpu == 1.0)
    assert(num(full, "cpu_total") == 3.5)
    assert(full.contains(""""q_a":{"cold":4.00,"warm":1.00,"spread":0.00,"cpu":2.50,"rows":5,""" +
      """"secs":[4.00,1.00,1.00,1.00],"cpu_secs":[7.00,2.00,3.00,2.50]}"""))
    // the stdout line keeps its format; CPU is in the full record only
    assert(!Bench.stdoutLine(Run(Seq(a, b)), meta).contains("cpu"))
  }

  test("the full record carries each query's warm and per-rep job counts and the run's job total") {
    val a = Rec("q_a", Seq(4.0, 1.0, 1.0, 1.0), Seq.fill(4)(1.0), Seq.fill(4)(5L), jobs = Seq(9, 6, 7, 6))
    val b = Rec("q_b", Seq(4.0, 1.0, 1.0, 1.0), Seq.fill(4)(1.0), Seq.fill(4)(5L), jobs = Seq(3, 2, 2, 2))
    val c = failedRec("q_c").copy(jobs = Seq(4))
    assert(a.warmJobs == 6 && b.warmJobs == 2)
    val run = Run(Seq(a, b, c))
    assert(run.jobsTotal.contains(8))
    val full = Bench.fullRecord(run, meta)
    assert(num(full, "jobs_total") == 8)
    assert(full.contains(""""q_a":{"cold":4.00,"warm":1.00,"spread":0.00,"cpu":1.00,"rows":5,""" +
      """"secs":[4.00,1.00,1.00,1.00],"cpu_secs":[1.00,1.00,1.00,1.00],"jobs":6,"rep_jobs":[9,6,7,6]}"""))
    assert(full.contains(""""q_c":{"error":"java.lang.IllegalStateException: q_c broke"}"""))
    // uncounted runs carry no job fields; the stdout line never does
    assert(Run(Seq(okRec("q_a", 1.0))).jobsTotal.isEmpty)
    assert(!Bench.fullRecord(Run(Seq(okRec("q_a", 1.0))), meta).contains("jobs"))
    assert(!Bench.stdoutLine(run, meta).contains("jobs"))
  }

  test("a subset run never replaces a fuller record, however steady") {
    val full = prior(names.size, "a2af3b438bb6", 5.0)
    assert(!Bench.replaces(full, names.size - 1, "a2af3b438bb6", 0.0))
    assert(!Bench.replaces(full, 2, "ffffffffffff", 0.0))
    assert(Bench.replaces(prior(10, "a2af3b438bb6", 0.1), 11, "a2af3b438bb6", 9.0))
    assert(Bench.replaces("", 1, "unknown", 9.0))
  }

  test("at equal size the steadier record of the same sources wins") {
    val p = prior(names.size, "a2af3b438bb6", 2.0)
    assert(Bench.replaces(p, names.size, "a2af3b438bb6", 2.0))
    assert(Bench.replaces(p, names.size, "a2af3b438bb6", 1.5))
    assert(!Bench.replaces(p, names.size, "a2af3b438bb6", 2.5))
  }

  test("a prior of another method stamp or other sources is stale") {
    val p = prior(names.size, "a2af3b438bb6", 0.5)
    assert(Bench.replaces(p, names.size, "0123456789ab", 9.0), "other sources")
    val otherMethod = p.replace(Bench.Method, "toRdd.count/v2")
    assert(Bench.replaces(otherMethod, names.size, "a2af3b438bb6", 9.0), "other method")
    assert(Bench.replaces(p.replace("a2af3b438bb6", "unknown"), names.size, "a2af3b438bb6", 9.0),
      "unstamped prior")
    // the single-shot record format, which carries no method stamp
    val singleShot = """{"metric":"total","value":237.86,"unit":"sec","n":197,""" +
      """"queries":{"q1_pricing_summary":2.34},"failed":[],"noise_ratio":0.95,""" +
      """"forcing":"toRdd.count/v2","head":"2eda73a7a94f","src":"a2af3b438bb6","sf":"testdata/sf0.1"}"""
    assert(Bench.replaces(singleShot, 197, "a2af3b438bb6", 9.0))
    assert(!Bench.replaces(singleShot, 196, "a2af3b438bb6", 0.0))
  }

  test("an unstamped current run keeps the equal-size guard") {
    val p = prior(names.size, "a2af3b438bb6", 1.0)
    assert(!Bench.replaces(p, names.size, "unknown", 2.0))
    assert(Bench.replaces(p, names.size, "unknown", 0.5))
  }

  test("the stdout line fits 2000 characters for the whole registry") {
    assert(names.size >= 197)
    val allOk = Run(names.zipWithIndex.map { case (n, i) => okRec(n, 100.0 + i) })
    val allFailed = Run(names.map(failedRec))
    val mixed = Run(names.zipWithIndex.map { case (n, i) => if (i % 3 == 0) failedRec(n) else okRec(n, i) })
    for (run <- Seq(allOk, allFailed, mixed)) {
      val line = Bench.stdoutLine(run, meta)
      assert(line.length <= Bench.LineMax, s"${line.length} chars")
      assert(!line.contains("\n"))
      assert(num(line, "n") == run.ok.size)
      // shown times plus omitted_sec account for the whole value
      val shown = """"([A-Za-z0-9_]+)":([0-9.]+)""".r
        .findAllMatchIn(line.split("\"queries\":", 2)(1)).map(_.group(2).toDouble).sum
      assert(math.abs(shown + num(line, "omitted_sec") - num(line, "value")) < 0.01 * names.size)
      // every failed name is shown or counted
      val shownFailed = failedIn(line)
      assert(shownFailed.toSet.subsetOf(run.failed.toSet))
      assert(shownFailed.size + num(line, "failed_omitted") == run.failed.size)
    }
  }

  test("every failed name appears in the stdout line when failures fit its budget") {
    val worst = names.sortBy(-_.length).take(60).toSet
    val run = Run(names.map(n => if (worst(n)) failedRec(n) else okRec(n, 1.0)))
    val line = Bench.stdoutLine(run, meta)
    assert(line.length <= Bench.LineMax)
    assert(failedIn(line).toSet == worst)
    assert(num(line, "failed_omitted") == 0)
  }
}
