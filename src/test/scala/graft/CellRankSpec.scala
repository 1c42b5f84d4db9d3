package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.operators.Similarity.{NPROBE, QUERY_MOD, cosine, ivfCentroids, kernelParallel, withNorm}

/** Contract of the round-12 IVF ranking kernel
  * (functions/CellRank.scala): the codegen'd per-row top-k loop must
  * reproduce the relational form — broadcast-NLJ fan-out + struct
  * argmax (assignment) / rank window (probing) — BIT-EXACTLY,
  * including exact-double cosine ties, because the DuckDB oracle keeps
  * the window formulation and every IVF-family query's hash depends on
  * the assignment. Both forms compute the same IEEE doubles (shared
  * dot fold, cn collected not recomputed, cos = dot/(√qn·√cn)), so
  * equality is exact set equality, not tolerance.
  *
  * The kernel exists for the row machinery, not the flops: the
  * relational fan-out materializes n·K scored rows (measured 369.50 s
  * for q_ann_ivf at sf100 = 2M×625 on 32 cores, after the scan-stage
  * kernels were already parallelized); the loop form is a scan-local
  * projection — the write-time assignment shape the 100 TB design
  * stores as a partition key. */
class CellRankSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The pre-kernel relational ranking, this spec's equality reference:
    * broadcast NLJ fan-out, then a struct argmax (maxRank=1) or a rank
    * window (else). The window form shuffles all |src|·K ranked rows;
    * the struct max partial-aggregates map-side. */
  private def rankCellsRelational(src: DataFrame, cents: DataFrame,
                                  maxRank: Int): DataFrame = {
    val scored = kernelParallel(src).crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"),
        cosine(col("embedding"), col("nrm"), col("ce"), col("cn")).as("cos_c"))
    if (maxRank == 1)
      scored
        .groupBy(col("vec_id"))
        .agg(first(col("embedding")).as("embedding"), first(col("nrm")).as("nrm"),
          max(struct(col("cos_c"), (-col("cent_id")).as("neg_cent"))).as("m"))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          (-col("m.neg_cent")).as("cell"))
    else {
      val wVec = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos_c").desc, col("cent_id").asc)
      scored
        .withColumn("rk", row_number().over(wVec))
        .filter(col("rk") <= maxRank)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id").as("cell"))
    }
  }

  private def ivfAssignRelational(spark: SparkSession, dir: String): DataFrame =
    rankCellsRelational(withNorm(spark, dir), ivfCentroids(spark, dir), 1)

  private def ivfProbeCellsRelational(spark: SparkSession, dir: String): DataFrame =
    rankCellsRelational(withNorm(spark, dir).filter(col("vec_id") % QUERY_MOD === 0),
        ivfCentroids(spark, dir), NPROBE)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("cell"))

  test("kernel assignment ≡ relational argmax (sf0.001, sf0.01, sf0.1)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val kernel = Similarity.ivfAssign(spark, dir)
        .select("vec_id", "cell")
      val relational = ivfAssignRelational(spark, dir)
        .select("vec_id", "cell")
      assert(kernel.exceptAll(relational).isEmpty, s"kernel ⊄ relational at $dir")
      assert(relational.exceptAll(kernel).isEmpty, s"relational ⊄ kernel at $dir")
      assert(kernel.count() > 0, s"assignment empty at $dir — testdata drifted")
    }
  }

  test("kernel probe cells ≡ relational rank window (sf0.01, sf0.1)") {
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val kernel = Similarity.ivfProbeCells(spark, dir)
        .select("query_id", "cell")
      val relational = ivfProbeCellsRelational(spark, dir)
        .select("query_id", "cell")
      assert(kernel.exceptAll(relational).isEmpty, s"kernel ⊄ relational at $dir")
      assert(relational.exceptAll(kernel).isEmpty, s"relational ⊄ kernel at $dir")
      assert(kernel.count() > 0, s"probe set empty at $dir — testdata drifted")
    }
  }

  test("top-k loop handles constructed double ties by cent_id asc") {
    // two centroids that are the SAME vector under different ids tie at
    // every cosine — the kernel must keep the smaller id first, exactly
    // like ORDER BY cos DESC, cent_id ASC (and the struct-argmax's
    // max(cos, -cent_id))
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val v = new GenericArrayData(Array(1.0f, 2.0f, 3.0f))
    val c = Array(Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f),
      Array(-1.0f, -2.0f, -3.0f))
    val qn = 1.0 * 1 + 2.0 * 2 + 3.0 * 3
    val cn = Array(qn, qn, qn)
    // ids deliberately out of collect order to prove the comparator,
    // not the input order, decides
    val ids = Array(7L, 3L, 1L)
    val top2 = graft.functions.CellRankImpl.topCells(v, qn, c, cn, ids, 2)
    assert(top2.toSeq == Seq(3L, 7L), s"tie order wrong: ${top2.toSeq}")
    val top1 = graft.functions.CellRankImpl.topCells(v, qn, c, cn, ids, 1)
    assert(top1.toSeq == Seq(3L))
    // k beyond the centroid count returns all, still ordered
    val all = graft.functions.CellRankImpl.topCells(v, qn, c, cn, ids, 5)
    assert(all.toSeq == Seq(3L, 7L, 1L), s"overshoot order wrong: ${all.toSeq}")
  }
}
