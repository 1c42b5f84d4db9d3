package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Contract of the round-10 constant probe budget in q_embedding_neardup
  * (VERDICT r9 #2: the full Hamming-ball probe set grew ~p², sf10
  * measured 71× per decade):
  *
  *  1. wherever the adaptive plane count p ≤ PROBE_PLANES (= 4), the
  *     margin selection degenerates to ALL used planes and the budget
  *     form must equal the full-ball form EXACTLY — this pins the driver
  *     SFs bit-identical, which is what keeps the DuckDB oracle
  *     hash-green without re-deriving it;
  *  2. where p > PROBE_PLANES the budget form is a SUBSET of the ball
  *     form (soundness — both verify exact cosine, so a reported pair is
  *     always true) with measured recall — the number BASELINE.md
  *     records for the scale trade.
  */
class EmbNeardupBudgetSpec extends AnyFunSuite {
  import SparkTestSession._

  test("budget form ≡ full-ball form where p ≤ PROBE_PLANES (sf0.001, sf0.01)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val budget = Similarity.embeddingNeardup(spark, dir)
      val ball = Similarity.embeddingNeardupBall(spark, dir)
      assert(budget.exceptAll(ball).isEmpty, s"budget ⊄ ball at $dir")
      assert(ball.exceptAll(budget).isEmpty, s"ball ⊄ budget at $dir")
      assert(ball.count() > 0, s"ball form empty at $dir — testdata drifted")
    }
  }

  test("budget ⊆ ball with recall ≥ 0.7 where p > PROBE_PLANES (sf1_synth)") {
    // the synthetic ×10 replica: 20k vectors → p = 8 planes
    val dir = Synth20k.dir
    val budget = Similarity.embeddingNeardup(spark, dir).select("v1", "v2")
    val ball = Similarity.embeddingNeardupBall(spark, dir).select("v1", "v2")
    assert(budget.exceptAll(ball).isEmpty, "budget emitted a pair outside the ball")
    val (nb, nball) = (budget.count(), ball.count())
    assert(nball > 0, "ball form found no pairs at sf1_synth")
    val recall = nb.toDouble / nball
    info(f"margin-budget recall vs full Hamming ball at p=8: $recall%.3f ($nb of $nball)")
    assert(recall >= 0.7, f"budget recall too low: $recall%.3f ($nb of $nball)")
  }
}
