package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Contract of the scan-local MinHash signature kernel
  * (functions/MinhashSig.scala): the kernel-banded q_minhash_lsh must
  * equal the superseded index-groupBy formulation BIT-EXACTLY — the
  * DuckDB oracle keeps the relational/list formulation and
  * hash-verifies jaccard doubles. The kernel exists because the
  * signature depends only on one document's own shingles: the groupBy
  * form shuffled the entire exploded shingle index (500 M rows at the
  * round-13 sf100 probe) to compute a scan-local projection. */
class MinhashKernelSpec extends AnyFunSuite {
  import SparkTestSession._

  test("kernel-banded minhashLsh ≡ index-groupBy formulation (sf0.001, sf0.01)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val kernel = Dedup.queries("q_minhash_lsh")(spark, dir)
      val relational = MinhashLshReference.minhashLsh(spark, dir)
      assert(kernel.exceptAll(relational).isEmpty &&
        relational.exceptAll(kernel).isEmpty,
        s"kernel minhash != relational at $dir")
      Materializer.clear()
    }
    // non-degenerate at the larger SF: the planted near-dups must surface
    val rows = Dedup.queries("q_minhash_lsh")(spark, "/root/testdata/sf0.01")
    assert(rows.count() > 0, "no near-dup pairs — testdata drifted")
    Materializer.clear()
  }

  test("shingle-less docs (< 3 tokens) emit no bands, like the index groupBy") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "one two"), (2L, "a b c d e"), (3L, ""))
      .toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"),
        graft.functions.MinhashSig.bandSigs(col("text"),
          Seq(7L, 11L, 13L, 17L), Seq(3L, 5L, 101L, 211L),
          Seq(1L, 31L), 2, 2).as("s"))
      .filter(size(col("s")) > 0)
      .select("doc_id").as[Long].collect().toSet
    assert(sigs == Set(2L), s"band emission wrong: $sigs")
  }
}
