package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables.{customer, dsum, supplier}
import graft.operators.ScalePatterns
import graft.operators.ScalePatterns.{CELL_W_CENTS, RANGE_W_CENTS}

/** Contract of the round-11 q_range_join prefix-sum rewrite: the
  * registered aggregate readout (per-supplier match count + matched
  * balance via F(hi) − F(lo⁻) over the domain-dense cent grid) must
  * equal the pair-materializing interval-bucketing form row-for-row —
  * counts exactly, balance sums bit-identically (both are exact
  * DECIMAL partials cast once to double). The pair form measured sf10
  * slope 89.5 (1211 s) because per-cell occupancy over a FIXED value
  * domain grows linearly on both sides; the prefix-sum form is one
  * scan + domain-bounded work at any corpus size. */
class RangeJoinSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The interval-bucketing pair join, this spec's equality reference
    * and the form to reach for when the matched pairs are the output:
    *
    *  - each point lands in exactly one fixed-width cell
    *    (floor(x / CELL_W));
    *  - each interval is replicated to the ≤2 cells it overlaps;
    *  - the join is then a plain equi-join on cell + an exact
    *    containment post-filter.
    *
    * A point's cell is unique, so no pair is produced twice. The output
    * is quadratic when the value domain is fixed (per-cell occupancy
    * grows with rows on both sides): that is the result's size. */
  private def rangeJoinPairs(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir).select(
        col("c_custkey"), col("c_acctbal"),
        floor(col("c_acctbal") * 100.0 + lit(0.5)).cast("long").as("c_cents"))
      .withColumn("cell", floor(col("c_cents").cast(DoubleType) / CELL_W_CENTS).cast("long"))
    val supp = supplier(spark, dir).select(
        col("s_suppkey"),
        floor(col("s_acctbal") * 100.0 + lit(0.5)).cast("long").as("s_cents"))
      .select(col("s_suppkey"),
        (col("s_cents") - RANGE_W_CENTS).as("lo"),
        (col("s_cents") + RANGE_W_CENTS).as("hi"))
      .withColumn("cell", explode(sequence(
        floor(col("lo").cast(DoubleType) / CELL_W_CENTS).cast("long"),
        floor(col("hi").cast(DoubleType) / CELL_W_CENTS).cast("long"))))
    cust.join(supp, Seq("cell"))
      .filter(col("c_cents") >= col("lo") && col("c_cents") <= col("hi"))
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_matches"), dsum(col("c_acctbal")).as("matched_bal"))
      .orderBy("s_suppkey")
  }

  test("prefix-sum form ≡ pair-materializing form (sf0.001, sf0.01)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val pfx = ScalePatterns.rangeJoinBucketed(spark, dir)
      val pairs = rangeJoinPairs(spark, dir)
      assert(pfx.schema.map(f => (f.name, f.dataType)) ===
        pairs.schema.map(f => (f.name, f.dataType)), s"schema drift at $dir")
      assert(pfx.exceptAll(pairs).isEmpty, s"prefix-sum ⊄ pairs at $dir")
      assert(pairs.exceptAll(pfx).isEmpty, s"pairs ⊄ prefix-sum at $dir")
      assert(pairs.count() > 0, s"pair form empty at $dir — testdata drifted")
    }
  }

  /** Adversarial boundary fixture (round-12, ADVICE r11): pairs whose
    * decimal gap is EXACTLY 100.00 sit on the interval boundary, where a
    * raw-double comparison (`c >= s - 100.0`) is an equality whose
    * outcome depends on the relative rounding error of the two
    * acctbals — ~2% of boundary cent values disagree with the exact
    * decimal semantics. At natural SFs the chance of hitting one of
    * those cent values is ~1e-5 (the equivalence test above cannot see
    * the divergence), so the contract is pinned HERE with constructed
    * known-bad constants: c=-611.84 / s=-511.84 (lo boundary) and
    * c=-511.96 / s=-611.96 (hi boundary) are both EXCLUDED by the
    * double predicate (verified numerically) but belong to the ±100.00
    * band in exact cents. All three forms (prefix-sum, pair join, and
    * the DuckDB oracle SQL — same RANGE_W_CENTS constant) decide
    * membership in integer cents, so these pairs MUST match. */
  test("exact-cents boundary semantics on constructed adversarial acctbals") {
    val dir = java.nio.file.Files.createTempDirectory("rj_boundary").toString
    import spark.implicits._
    Seq(
      (101L, -611.84), // lo boundary of s1: double says OUT, cents says IN
      (102L, -511.96), // hi boundary of s2: double says OUT, cents says IN
      (103L, 400.00),  // lo boundary of s3 (benign cent value)
      (104L, 399.99),  // one cent outside s3's band — must NOT match
      (105L, 600.00),  // hi boundary of s3
      (106L, 600.01)   // one cent outside — must NOT match
    ).toDF("c_custkey", "c_acctbal").write.parquet(s"$dir/customer.parquet")
    Seq(
      (1L, -511.84),
      (2L, -611.96),
      (3L, 500.00)
    ).toDF("s_suppkey", "s_acctbal").write.parquet(s"$dir/supplier.parquet")

    // the double predicate really does exclude the constructed pairs —
    // the fixture is adversarial, not vacuous
    assert(!(-611.84 >= -511.84 - 100.0), "lo fixture not adversarial")
    assert(!(-511.96 <= -611.96 + 100.0), "hi fixture not adversarial")

    // s1 (-511.84): band [-611.84, -411.84] holds c101 (lo BOUNDARY —
    //   dropped under double semantics) and c102 (interior) → n=2;
    // s2 (-611.96): band [-711.96, -511.96] holds c101 (interior) and
    //   c102 (hi BOUNDARY — dropped under double semantics) → n=2;
    // s3 (500.00): benign boundaries c103/c105 in, c104/c106 out.
    val expected = Map(
      1L -> (2L, -611.84 + -511.96),
      2L -> (2L, -611.84 + -511.96),
      3L -> (2L, 400.00 + 600.00))
    for ((form, df) <- Seq(
        "prefix-sum" -> ScalePatterns.rangeJoinBucketed(spark, dir),
        "pairs" -> rangeJoinPairs(spark, dir))) {
      val got = df.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got.keySet === expected.keySet, s"$form: supplier set drift")
      for ((k, (n, bal)) <- expected) {
        assert(got(k)._1 === n, s"$form: supplier $k match count")
        assert(math.abs(got(k)._2 - bal) < 1e-9, s"$form: supplier $k balance")
      }
    }
  }
}
