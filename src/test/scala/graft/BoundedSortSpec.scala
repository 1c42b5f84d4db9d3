package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Results bounded by construction are sorted in one task: the final
  * aggregate's hash exchange on the bounded key feeds a `Coalesce(1)`,
  * so the global sort needs no range exchange (and no boundary-sample
  * job) and the result is never written to a Materializer copy first.
  * The job counts are the whole query's at the test scale factor, a
  * per-query budget pinned next to the plan shape. */
class BoundedSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession._

  /** Query, its bounded key, the Materializer copies its plan may read,
    * and the jobs one warm build and run launches. */
  private val pins: Seq[(String, Seq[String], Seq[(SparkSession, String) => DataFrame], Int)] = Seq(
    ("q_dedup_savings", Seq("source"), Nil, 3),
    ("q_cross_source_dups", Seq("source_a", "source_b"), Nil, 4),
    // the shingle index is a shared input copy, not the result's
    ("q_ngram_novelty", Seq("bucket"), Seq(Dedup.shingleIndex), 10))

  /** The executed plan of `name`, the jobs its build and run launch,
    * after one untimed run so the input's schema is already known, and
    * the root paths of the run's copies that `copies` build. */
  private def warmRun(name: String, copies: Seq[(SparkSession, String) => DataFrame])
      : (SparkPlan, Int, Set[String]) = {
    def run(): SparkPlan = {
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      qe.toRdd.count()
      qe.executedPlan
    }
    try {
      run()
      Materializer.clear()
      val (plan, n) = JobProbe.jobsOf(spark)(run())
      // a builder called again returns the copy the run wrote
      val paths = for {
        build <- copies
        fs <- build(spark, sf).queryExecution.analyzed.collect {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
        }
        p <- fs.location.rootPaths
      } yield p.toString
      (plan, n, paths.toSet)
    } finally Materializer.clear()
  }

  for ((name, key, builders, jobs) <- pins)
    test(s"$name sorts its bounded result in one task, in $jobs jobs") {
      val (plan, n, copies) = warmRun(name, builders)
      val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
      assert(!shuffles.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
        s"range exchange in:\n$plan")
      val read = collect(plan) { case s: FileSourceScanExec => s }
        .flatMap(_.relation.location.rootPaths.map(_.toString))
        .filter(_.contains("graft-mat-"))
      assert(read.toSet.subsetOf(copies), s"reads Materializer copies $read")
      val one = collect(plan) { case c: CoalesceExec if c.numPartitions == 1 => c }
      assert(one.size == 1, s"expected one Coalesce(1) in:\n$plan")
      collect(one.head.child) { case e: ShuffleExchangeExec => e }.headOption
        .map(_.outputPartitioning) match {
        case Some(h: HashPartitioning) =>
          assert(h.expressions.flatMap(_.references.map(_.name)) == key, s"hash key of:\n$plan")
        case other => fail(s"no hash exchange below the Coalesce(1) ($other):\n$plan")
      }
      assert(n == jobs)
    }
}
