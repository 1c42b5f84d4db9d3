package graft

import org.scalatest.funsuite.AnyFunSuite

/** Materializer prints the plans of the subtrees it writes only under
  * `Bench --plans`, and stops again when that mode ends. */
class PlanDumpSpec extends AnyFunSuite {
  import SparkTestSession._

  private def captured(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(body)
    buf.toString("UTF-8")
  }

  test("--plans prints each materialized subtree's plan") {
    val out = captured(Bench.plans(spark, sf, Seq("q_semantic_dedup")))
    assert(out.contains("===== q_semantic_dedup ====="))
    assert(out.contains("----- materialize["), out.take(2000))
    assert(out.contains("== Physical Plan =="))
    assert(!Materializer.dumpPlans, "the plan flag must be cleared when --plans ends")
  }

  test("a normal build prints no plans") {
    val out = captured {
      try SparkEntry.queries("q_semantic_dedup")(spark, sf).queryExecution.toRdd.count()
      finally Materializer.clear()
    }
    assert(!out.contains("materialize["), out.take(2000))
  }

  test("the plan flag is cleared when a query fails under --plans") {
    intercept[Exception](captured(Bench.plans(spark, "/nonexistent/sf", Seq("q_semantic_dedup"))))
    assert(!Materializer.dumpPlans)
  }
}
