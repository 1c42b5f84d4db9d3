package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** A/B pin of the kernel ↔ relational branch equivalence ABOVE the
  * driver SFs (VERDICT r12 #4). Every exact-class embedding query
  * gates on `queryBatchBounded`: below the bound it runs the round-12
  * scoring kernels (ScoreAllTopKAgg / CellScoreTopKAgg / PqAdcTopKAgg /
  * CellRank), above it the relational join twins the DuckDB oracles
  * mirror. Driver-SF tests (sf0.001-0.1) therefore exercise mostly the
  * kernel branch, and the fallback could rot unnoticed until a real
  * >25 M-vector corpus hits it. This spec runs the WHOLE registry
  * functions — not the *At helpers — on a 20 K-vector corpus (the sf1
  * probe shape, one decade above sf0.1, 400 query anchors) under BOTH
  * branch forcings via the in-process `forceRelationalForTest` hook
  * (env vars can't be toggled in-JVM), asserting exact set equality:
  * the kernels' contract is bit-identical doubles, so no tolerance. */
class KernelBranchABSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Registry queries that branch on queryBatchBounded (all 11 sites). */
  private val gated = Seq(
    "q_ann_bruteforce", "q_ann_ivf", "q_knn_classify", "q_knn_ivf",
    "q_hard_negatives", "q_hardneg_ivf", "q_ann_sq8", "q_ann_pq",
    "q_mmr_diversify", "q_retrieval_eval", "q_retrieval_ivf")

  private def dir: String = Synth20k.dir

  test("kernel ≡ relational for every gated registry query at 20k vectors") {
    val fns = SparkEntry.queries
    assert(gated.forall(fns.contains), "registry drifted: gated name missing")
    for (name <- gated) {
      val fn = fns(name)
      val (kernel, relational) =
        try {
          Similarity.forceRelationalForTest = Some(false)
          val k = fn(spark, dir).cache()
          k.count() // materialize under THIS forcing before flipping
          Similarity.forceRelationalForTest = Some(true)
          val r = fn(spark, dir).cache()
          r.count()
          (k, r)
        } finally Similarity.forceRelationalForTest = None
      assert(kernel.exceptAll(relational).isEmpty, s"$name: kernel ⊄ relational")
      assert(relational.exceptAll(kernel).isEmpty, s"$name: relational ⊄ kernel")
      assert(kernel.count() > 0, s"$name: empty result — corpus drifted")
      kernel.unpersist(); relational.unpersist()
      Materializer.clear()
    }
  }
}
