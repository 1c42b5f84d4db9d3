package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextHash.shingleHashesFast
import graft.operators.TextOps
import graft.operators.TextOps.WINNOW_W

/** Contract of the scan-local winnowing kernel
  * (functions/Winnow.scala): the (doc_id, fp) posting list must equal
  * the superseded relational chain (posexplode → window-frame sliding
  * min → relational distinct) row-for-row, because q_winnow_fingerprint
  * hash-verifies the full list against the DuckDB list_transform
  * oracle and q_winnow_neardup builds its candidate join from it. */
class WinnowKernelSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The superseded relational formulation, this spec's equality
    * reference: explode once, sliding window-frame min, relational
    * distinct. */
  private def winnowPostingsRelational(spark: SparkSession, dir: String): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val exploded = Tables.documents(spark, dir)
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), posexplode(shingleHashesFast(col("text"))).as(Seq("pos", "h")))
    val wFrame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WINNOW_W - 1)
    val byDoc = Window.partitionBy(col("doc_id"))
    exploded
      .withColumn("wmin", min(col("h")).over(wFrame))
      .withColumn("nsh", count(lit(1)).over(byDoc))
      .filter(col("pos") <= greatest(col("nsh") - WINNOW_W, lit(0)))
      .select(col("doc_id"), col("wmin").as("fp"))
      .distinct()
  }

  test("kernel posting list ≡ relational twin (sf0.001, sf0.01)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val k = TextOps.winnowFingerprint(spark, dir)
      val r = winnowPostingsRelational(spark, dir)
      assert(k.exceptAll(r).isEmpty && r.exceptAll(k).isEmpty,
        s"winnow kernel != relational at $dir")
      assert(k.count() > 0, s"empty posting list at $dir — testdata drifted")
      Materializer.clear()
    }
  }

  test("unit edges: empty, short-doc single window, dup minima, w boundary") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def fps(a: Seq[Long], w: Int): Seq[Long] = {
      val r = graft.functions.WinnowImpl.fps(new GenericArrayData(a.toArray), w)
      r.toLongArray().toSeq
    }
    assert(fps(Seq.empty, 8) == Seq.empty, "no shingles -> no fingerprints")
    assert(fps(Seq(5L, 3L, 9L), 8) == Seq(3L), "n < w -> whole-array min")
    assert(fps(Seq(7L, 7L, 7L, 7L), 2) == Seq(7L), "constant input dedups to one")
    // windows of width 2 over [4,2,5,1]: mins 2,2,1 -> distinct 2,1
    assert(fps(Seq(4L, 2L, 5L, 1L), 2) == Seq(2L, 1L))
    // w == n exactly: single full window
    assert(fps(Seq(9L, 4L, 6L), 3) == Seq(4L))
    // strictly increasing: every window min is its first element
    assert(fps(Seq(1L, 2L, 3L, 4L, 5L), 2) == Seq(1L, 2L, 3L, 4L))
  }
}
