package graft

/** Physical-plan audit: prints `explain("formatted")` for each registered
  * query so partitioning/shuffle/broadcast/pushdown decisions are
  * reviewable (and diffable across rounds).
  *
  * Usage: runMain graft.PlanAudit [sfDir] [queryName ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    // a typo'd name must fail loudly, not silently drop out of the audit
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local()
    // dump materialized subtrees too (see Materializer.materialize), and
    // clear between queries so every dump is self-contained — a shared
    // tag (candidx …) would otherwise print only under the first query.
    // The property is cleared in the finally so a harness running other
    // mains in the same JVM afterwards doesn't inherit plan dumps.
    System.setProperty("graft.plan.dump", "1")
    try {
      names.foreach { name =>
        println(s"\n===== $name =====")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        Materializer.clear()
      }
    } finally {
      System.clearProperty("graft.plan.dump")
      spark.stop()
    }
  }
}
