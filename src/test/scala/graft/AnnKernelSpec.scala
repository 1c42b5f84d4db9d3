package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Contract of the brute-force scoring kernel
  * (functions/ScoreAllAgg.scala): the one-pass score-all-queries
  * aggregate must reproduce the relational exact scan
  * (broadcast-NLJ + cosine projection + top-k tail, the branch
  * `Similarity.exactTopK` takes above the bounded query batch, forced
  * here with `forceRelationalForTest`) BIT-EXACTLY —
  * kept sets, ranks, and cosine doubles — because the DuckDB oracles
  * keep the relational formulation. Equality is exact (shared IEEE
  * fold, engine-computed norms, the TopKAgg comparator), so the pin is
  * set equality, not tolerance. The kernel exists because the
  * BroadcastNestedLoopJoin the relational form plans does not
  * whole-stage-codegen: its pair pipeline measured ~3.9 µs/pair at the
  * sf10 probe (3082 CPU-s for 800 M pairs) — two orders above the
  * arithmetic. */
class AnnKernelSpec extends AnyFunSuite {
  import SparkTestSession._

  test("score-all kernel ≡ relational exact scan (sf0.001, sf0.01, sf0.1)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val kernel = Similarity.annBruteforce(spark, dir)
      val relational =
        try {
          Similarity.forceRelationalForTest = Some(true)
          Similarity.annBruteforceAt(spark, dir, 5) // the branch is chosen at build time
        } finally Similarity.forceRelationalForTest = None
      assert(kernel.exceptAll(relational).isEmpty, s"kernel ⊄ relational at $dir")
      assert(relational.exceptAll(kernel).isEmpty, s"relational ⊄ kernel at $dir")
      assert(kernel.count() > 0, s"empty result at $dir — testdata drifted")
      Materializer.clear()
    }
  }
}
