package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash.P
import graft.operators.Dedup
import graft.operators.Dedup.{A, B, BANDS, JACCARD_T, POW31, ROWS_PER_BAND}

/** The index-groupBy formulation of `Dedup.minhashLsh`: the 16
  * permutation minima as aggregate columns of one groupBy(doc_id) over
  * the full shingle index, band signatures as scalar arithmetic over
  * them, and exact jaccard verified against the full index without a
  * size gate. It is the equality reference MinhashKernelSpec holds the
  * scan-local signature kernel to; nothing else uses it. */
object MinhashLshReference {
  def lshCandidates(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleIndex(spark, dir)
    val mhAggs = A.indices.map(i =>
      min((col("sh") * A(i) + B(i)) % P).as(s"mh$i"))
    val mh = sh.groupBy(col("doc_id")).agg(mhAggs.head, mhAggs.tail: _*)
    // sig_b = (Σ_r mh[b*4+r] · 31^r) mod P; partial sums < 4·P·31³ « 2^63,
    // so sum-then-mod equals the oracle's incremental-mod fold.
    val sigCols = (0 until BANDS).map { b =>
      (0 until ROWS_PER_BAND)
        .map(r => col(s"mh${b * ROWS_PER_BAND + r}") * POW31(r))
        .reduce(_ + _) % P
    }
    val bands = Materializer.materialize(
      mh.select(col("doc_id"),
        posexplode(array(sigCols: _*)).as(Seq("band", "sig"))))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** Exact jaccard for candidate pairs (d1 < d2) given the inverted
    * index: |A∩B| from the shingle equi-join, sizes from a groupBy. */
  private def jaccardOf(cands: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = cands
      .join(sh.as("a"), col("d1") === col("a.doc_id"))
      .join(sh.as("b"), col("d2") === col("b.doc_id") && col("a.sh") === col("b.sh"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), col("common"),
        (col("common").cast("double") / (col("s1.n") + col("s2.n") - col("common")))
          .as("jaccard"))
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    jaccardOf(lshCandidates(spark, dir), Dedup.shingleIndex(spark, dir))
      .filter(col("jaccard") >= JACCARD_T)
      .orderBy("d1", "d2")
}
