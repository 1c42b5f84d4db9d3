package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._

/** The remaining TPC-H decision-support shapes (Q2/Q6/Q9/Q11/Q12/Q13/
  * Q16/Q17/Q19/Q20/Q21), adapted to the driver schema: there is no
  * partsupp table and no commit/receipt date pair, so the supply-side
  * queries derive supplier×part economics from lineitem itself
  * (observed unit price, shipped quantity) and the lateness queries use
  * ship-lag vs order date — same plan shapes, same semantics, over the
  * columns that exist. Completes the plan-shape breadth started in
  * Relational.scala (Q1/3/4/5/7/8/10/14/15/18/22); SURVEY.md §7.2
  * step 3 is the charter (the reference itself only exercises inner
  * equi-joins + hash aggregates, spark_streaming_new.py:109-252).
  *
  * Scale notes (shared):
  * - Every filter is a scan-side range/equality predicate (pushdown
  *   verified by PlanGuardSpec for this family's representatives).
  * - Dims (part/supplier/nation/region/customer) broadcast explicitly;
  *   per-KEY aggregates of the fact (per-part avg, per-part min-cost)
  *   are deliberately NOT hinted — they are part-catalog-sized, which
  *   is broadcastable in practice but AQE's call at runtime, not a
  *   compile-time promise (the r6 verdict's OOM lesson).
  * - Money math follows the Tables.dsum discipline: exact decimal
  *   aggregation, one final IEEE double op, so results are
  *   partition-order-proof and DuckDB-hash-stable.
  */
object TpchDecision {

  private val dec: DataType = DecimalType(18, 2)
  private val dec30: DataType = DecimalType(30, 4)

  // revenueItem / sqlRevenueItem come from Tables (shared money discipline)

  // ----------------------- TPC-H Q6 shape: scan-only filtered aggregate
  /** Revenue increase if mid-band discounts on small lots had been
    * dropped — the TPC-H Q6 shape: the whole query is one parquet scan
    * with every predicate pushed down and a single 1-row aggregate; no
    * join, no shuffle beyond the final partial-merge. The plan to
    * demand at 100 TB: PushedFilters carries all three predicates and
    * ReadSchema is exactly the three columns.
    *
    * Discounts ship as exact 2-dp values, so the DECIMAL(18,2) cast
    * loses nothing and the sum is exact; one cast to double at the end. */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")) &&
        col("l_discount").between(0.04, 0.06) &&
        col("l_quantity") < 24)
      .agg(
        coalesce(sum(col("l_extendedprice").cast(dec) * col("l_discount").cast(dec))
          .cast(DoubleType), lit(0.0)).as("revenue_delta"),
        count(lit(1)).as("n_lines"))

  val forecastRevenueSql: String =
    """SELECT
      |  coalesce(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE),
      |           CAST(0 AS DOUBLE)) AS revenue_delta,
      |  CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN CAST(0.04 AS DOUBLE) AND CAST(0.06 AS DOUBLE)
      |  AND l_quantity < 24""".stripMargin

  // ------------- TPC-H Q12 shape: join + CASE-bucketed dual conditional
  /** Late-vs-fast shipping buckets × order-priority mix for one ship
    * year — the TPC-H Q12 shape (l_shipmode doesn't exist; the 45-day
    * ship-lag bucket carries the same two-class split). Both priority
    * counts ride ONE aggregate over one lineitem⋈orders shuffle; the
    * ship-year range reaches the lineitem scan. */
  def shipmodePriority(spark: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1998-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1999-01-01 00:00:00")))
      .join(orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .select(
        when(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL '45' DAY"),
          "SLOW").otherwise("FAST").as("ship_bucket"),
        hi.as("hi"))
      .groupBy(col("ship_bucket"))
      .agg(
        sum(when(col("hi"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when(col("hi"), 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("ship_bucket")
  }

  val shipmodePrioritySql: String =
    """SELECT
      |  CASE WHEN l_shipdate >= o_orderdate + INTERVAL 45 DAY
      |       THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------- TPC-H Q13 shape: outer join + two-level count distribution
  /** How many customers placed 0, 1, 2, … qualifying orders — the TPC-H
    * Q13 shape: a LEFT OUTER join whose extra predicate lives in the
    * join condition (so non-qualifying orders count as absent, not as
    * dropped customers), a per-customer count, then a count-of-counts.
    * The zero bucket only exists because the join is outer — an inner
    * join would silently lose order-less customers.
    *
    * Scale: shuffles on custkey once; the second aggregate's domain is
    * tiny (max orders per customer), so the distribution rollup is
    * near-free. */
  def custOrderDist(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select(col("c_custkey"))
      .join(orders(spark, dir)
          .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val custOrderDistSql: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      |  GROUP BY 1)
      |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ------------- TPC-H Q19 shape: disjunctive join-residual predicates
  /** Revenue from three (brand, size-range, quantity-range) channels in
    * one pass — the TPC-H Q19 shape: the OR-of-conjunctions is a
    * RESIDUAL on the partkey equi-join, so the plan stays a hash join
    * (never a nested loop), and the per-branch attributes split cleanly:
    * part-side conjuncts (brand, size) could prune the dim scan, the
    * lineitem conjunct (quantity) rides the fact scan. */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val branch = (brand: String, szLo: Int, szHi: Int, qLo: Int, qHi: Int) =>
      col("p_brand") === brand && col("p_size").between(szLo, szHi) &&
        col("l_quantity").between(qLo, qHi)
    lineitem(spark, dir)
      .join(broadcast(part(spark, dir).select(col("p_partkey"), col("p_brand"),
        col("p_size"))), col("l_partkey") === col("p_partkey") &&
        (branch("Brand#12", 1, 5, 1, 11) ||
          branch("Brand#15", 1, 10, 10, 20) ||
          branch("Brand#3", 1, 15, 20, 30)))
      .agg(
        coalesce(sum(revenueItem).cast(DoubleType), lit(0.0)).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val disjunctiveRevenueSql: String =
    s"""SELECT
       |  coalesce(CAST(sum($sqlRevenueItem) AS DOUBLE), CAST(0 AS DOUBLE)) AS revenue,
       |  CAST(count(*) AS BIGINT) AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       |       AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10
       |       AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // ------- TPC-H Q17 shape: per-key scalar subquery threshold join-back
  /** Yearly revenue lost by refusing small-lot orders of one brand —
    * the TPC-H Q17 shape: a correlated per-part average (here the
    * decimal-exact davg) joined back onto the same fact rows as a
    * row-level threshold. The per-part aggregate is part-catalog-sized;
    * the join back to lineitem is a plain equi-join (AQE broadcasts it
    * at runtime — catalog size is not a compile-time constant, see the
    * file header).
    *
    * The threshold multiply (0.2 × avg) and the final ÷7 are each one
    * IEEE double op on decimal-exact inputs — DuckDB reproduces them
    * bit-for-bit. */
  /** Construction-side subtree of [[smallQtyRevenue]] — the brand slice
    * that executes INSIDE Materializer.materialize() and therefore never
    * appears in the registered query plan. Exposed so PlanGuardSpec can
    * pin its scan pushdown and hint boundedness (the hotKeysPlan
    * pattern): without this, a pushdown regression in the materialization
    * job would read the full fact at 100 TB while every test stays
    * green. */
  def q17SliceBuilder(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(broadcast(part(spark, dir).filter(col("p_brand") === "Brand#5")
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))

  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    // the brand slice feeds BOTH the per-part average and the join-back
    // probe; Spark has no common-subplan reuse, so without an explicit
    // materialization the fact would be scanned twice (Materializer —
    // the project's standard shared-subtree pattern)
    val li = graft.Materializer.materialize(q17SliceBuilder(spark, dir))
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(davg(col("l_quantity")).as("avg_qty"))
    li.join(perPart, col("l_partkey") === col("pk") &&
        col("l_quantity") < col("avg_qty") * 0.2)
      .agg(
        coalesce((dsum(col("l_extendedprice")) / 7.0), lit(0.0)).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  val smallQtyRevenueSql: String =
    s"""WITH li AS (
       |  SELECT l_partkey, l_quantity, l_extendedprice
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_brand = 'Brand#5'),
       |pp AS (
       |  SELECT l_partkey AS pk, ${sqlDavg("l_quantity")} AS avg_qty
       |  FROM li GROUP BY 1)
       |SELECT
       |  coalesce(${sqlDsum("l_extendedprice")} / 7.0, CAST(0 AS DOUBLE)) AS avg_yearly,
       |  CAST(count(*) AS BIGINT) AS n_lines
       |FROM li JOIN pp ON l_partkey = pk
       |WHERE l_quantity < avg_qty * CAST(0.2 AS DOUBLE)""".stripMargin

  // --------------- TPC-H Q2 shape: per-key min + join-back (min-cost supplier)
  /** Cheapest European supplier per sized part — the TPC-H Q2 shape:
    * a correlated MIN over a derived supplier×part cost table, joined
    * back to select exactly the rows achieving the min, then a top-k by
    * account balance. With no partsupp table, the observed unit price
    * min(l_extendedprice / l_quantity) per (supplier, part) IS the
    * supply-cost relation — one fact scan builds it.
    *
    * Scale: the cost table aggregates the fact once on (partkey,
    * suppkey); the region gate rides the supplier dim (broadcast); the
    * min-per-part re-join is aggregate-vs-aggregate (both part-catalog-
    * sized, AQE's pick); the final ORDER BY ... LIMIT plans as
    * TakeOrderedAndProject. Double min/equality are engine-stable: both
    * engines min over the identical IEEE quotients. */
  private def euSupp(spark: SparkSession, dir: String): DataFrame =
    supplier(spark, dir)
      .join(broadcast(nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey").as("sk"), col("s_name"), col("s_acctbal"), col("n_name"))

  /** Construction-side subtree of [[minCostSupplier]] (see
    * [[q17SliceBuilder]] for why builders are exposed): the fact is
    * gated to EU lines BEFORE the aggregate by a broadcast semi-join on
    * the dim-derived key set, so the per-(part, supplier) rollup only
    * sees the region's share of the fact. */
  def q2SupplyBuilder(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(broadcast(euSupp(spark, dir).select(col("sk"))),
        col("l_suppkey") === col("sk"), "left_semi")
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("psk"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))

  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val eu = euSupp(spark, dir)
    // the rollup feeds BOTH the per-part min and the join-back probe —
    // materialized once (catalog×suppliers-sized) so the fact scans
    // exactly once
    val supply = graft.Materializer.materialize(q2SupplyBuilder(spark, dir))
      .join(broadcast(eu), col("psk") === col("sk"))
    val best = supply.groupBy(col("pk").as("bpk"))
      .agg(min(col("cost")).as("min_cost"))
    supply
      .join(best, col("pk") === col("bpk") && col("cost") === col("min_cost"))
      .join(broadcast(part(spark, dir).filter(col("p_size") === 15)
        .select(col("p_partkey"), col("p_type"))), col("pk") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_type"), col("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name").asc, col("s_name").asc,
        col("p_partkey").asc)
      .limit(100)
  }

  val minCostSupplierSql: String =
    """WITH eu AS (
      |  SELECT s_suppkey AS sk, s_name, s_acctbal, n_name
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE'),
      |supply AS (
      |  SELECT l_partkey AS pk, sk, s_name, s_acctbal, n_name,
      |         min(l_extendedprice / l_quantity) AS cost
      |  FROM lineitem JOIN eu ON l_suppkey = sk
      |  GROUP BY 1, 2, 3, 4, 5),
      |best AS (SELECT pk AS bpk, min(cost) AS min_cost FROM supply GROUP BY 1)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_type, cost
      |FROM supply JOIN best ON pk = bpk AND cost = min_cost
      |JOIN part ON pk = p_partkey
      |WHERE p_size = 15
      |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
      |LIMIT 100""".stripMargin

  // --------------- TPC-H Q9 shape: name-filtered profit by nation × year
  /** Profit on one product family per supplier nation per year — the
    * TPC-H Q9 shape: a five-way join (fact ⋈ part ⋈ supplier ⋈ nation ⋈
    * orders) where the part-name LIKE prunes the dim before broadcast,
    * and the measure mixes revenue with a cost term. Without partsupp,
    * cost = p_retailprice × quantity ÷ 10 stands in for
    * ps_supplycost × quantity; to stay decimal-exact the amount is
    * carried ×10 (no decimal division) and divided once, in double, at
    * the very end. */
  def productProfit(spark: SparkSession, dir: String): DataFrame = {
    val amountX10 = revenueItem.cast(dec30) * lit(10) -
      (col("p_retailprice").cast(dec) * col("l_quantity").cast(dec)).cast(dec30)
    lineitem(spark, dir)
      .join(broadcast(part(spark, dir).filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg((sum(amountX10).cast(DoubleType) / 10.0).as("profit"))
      .orderBy(col("nation").asc, col("o_year").desc)
  }

  val productProfitSql: String =
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       |  CAST(sum(CAST($sqlRevenueItem AS DECIMAL(30,4)) * 10
       |           - CAST(CAST(p_retailprice AS DECIMAL(18,2))
       |                  * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(30,4)))
       |       AS DOUBLE) / 10.0 AS profit
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_name LIKE '%widget%'
       |GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC""".stripMargin

  // -------- TPC-H Q11 shape: HAVING against a global scalar aggregate
  /** Parts representing an outsized share of one nation's supply value —
    * the TPC-H Q11 shape: the same measure aggregated twice (per part,
    * and globally as a 1-row scalar), with the scalar cross-joined back
    * as a HAVING threshold. The 1-row broadcast is the declared-bounded
    * hint pattern; value = Σ extendedprice over the nation's observed
    * supply lines stands in for supplycost × availqty. */
  /** Construction-side subtree of [[importantStock]] (see
    * [[q17SliceBuilder]]): the nation-gated per-part rollup with its sum
    * kept in DECIMAL so the grand total can re-aggregate it exactly. */
  def q11PerPartBuilder(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(broadcast(supplier(spark, dir)
          .join(broadcast(nation(spark, dir).filter(col("n_name") === "NATION_7")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), col("l_extendedprice"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast(dec)).as("value_dec"))

  def importantStock(spark: SparkSession, dir: String): DataFrame = {
    // ONE fact scan: the per-part rollup keeps its sum in DECIMAL and is
    // materialized; the grand total RE-AGGREGATES those exact partials
    // (decimal sums are associative — bit-identical to summing the lines
    // directly) instead of scanning the fact a second time
    val perPart = graft.Materializer.materialize(q11PerPartBuilder(spark, dir))
    val total = perPart.agg(sum(col("value_dec")).cast(DoubleType).as("total"))
    perPart
      .select(col("l_partkey"), col("value_dec").cast(DoubleType).as("value"))
      .crossJoin(broadcast(total))
      .filter(col("value") > col("total") * 0.001)
      .select(col("l_partkey"), col("value"))
      .orderBy(col("value").desc, col("l_partkey").asc)
  }

  val importantStockSql: String =
    s"""WITH nl AS (
       |  SELECT l_partkey, l_extendedprice
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE n_name = 'NATION_7'),
       |pp AS (SELECT l_partkey, ${sqlDsum("l_extendedprice")} AS value
       |       FROM nl GROUP BY 1),
       |tot AS (SELECT ${sqlDsum("l_extendedprice")} AS total FROM nl)
       |SELECT l_partkey, value
       |FROM pp, tot
       |WHERE value > total * CAST(0.001 AS DOUBLE)
       |ORDER BY value DESC, l_partkey ASC""".stripMargin

  // ------------ TPC-H Q16 shape: NOT-IN anti-join + count-distinct rollup
  /** Supplier diversity per (brand, type, size) excluding flagged
    * suppliers — the TPC-H Q16 shape: the NOT IN subquery plans as a
    * LEFT ANTI join (here against suppliers in arrears, the schema's
    * stand-in for the complaints LIKE), then a distinct-supplier count
    * over the surviving catalog slice. Supplier-part pairs derive from
    * lineitem (no partsupp); the once-per-supplier semantics live in
    * the countDistinct ITSELF — there is deliberately no pre-dedup of
    * (part, supplier) pairs, which would add a shuffle for nothing. */
  def supplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val flagged = supplier(spark, dir).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("bad_sk"))
    lineitem(spark, dir)
      .join(broadcast(part(spark, dir)
          .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(flagged), col("l_suppkey") === col("bad_sk"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc, col("p_type").asc,
        col("p_size").asc)
  }

  val supplierCntSql: String =
    """SELECT p_brand, p_type, p_size,
      |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC""".stripMargin

  // ------------- TPC-H Q20 shape: nested-IN via aggregate semi-join
  /** Suppliers who dominated the 1997 supply of any small part — the
    * TPC-H Q20 shape: a doubly-nested IN (suppliers IN → parts shipped
    * above a per-part volume threshold) that plans as aggregates plus a
    * LEFT SEMI join, with availqty > ½·shipped replaced by "this
    * supplier shipped > ½ of the part's total 1997 volume". Quantity
    * sums are decimal-exact; the ×0.5 compare is one double op. */
  /** Construction-side subtree of [[excessSupply]] (see
    * [[q17SliceBuilder]]): the ship-year + small-part gated
    * (part, supplier) rollup, DECIMAL sums kept for exact
    * re-aggregation. */
  def q20PerSupBuilder(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      .join(broadcast(part(spark, dir).filter(col("p_name").like("small%"))
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast(dec)).as("sqty_dec"))

  def excessSupply(spark: SparkSession, dir: String): DataFrame = {
    // ONE fact scan: the (part, supplier) rollup keeps DECIMAL sums and
    // is materialized; the per-part total RE-AGGREGATES those exact
    // partials (associative) rather than scanning the fact again
    val perSup = graft.Materializer.materialize(q20PerSupBuilder(spark, dir))
    val perPart = perSup.groupBy(col("l_partkey").as("pk2"))
      .agg(sum(col("sqty_dec")).cast(DoubleType).as("tqty"))
    val dominating = perSup
      .select(col("l_partkey"), col("l_suppkey"),
        col("sqty_dec").cast(DoubleType).as("sqty"))
      .join(perPart, col("l_partkey") === col("pk2"))
      .filter(col("sqty") > col("tqty") * 0.5)
      .select(col("l_suppkey"))
    supplier(spark, dir)
      .join(dominating, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name").asc)
  }

  val excessSupplySql: String =
    s"""WITH f97 AS (
       |  SELECT l_partkey, l_suppkey, l_quantity
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_name LIKE 'small%'
       |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'),
       |ps AS (SELECT l_partkey, l_suppkey, ${sqlDsum("l_quantity")} AS sqty
       |       FROM f97 GROUP BY 1, 2),
       |pt AS (SELECT l_partkey, ${sqlDsum("l_quantity")} AS tqty
       |       FROM f97 GROUP BY 1)
       |SELECT s_name, s_acctbal
       |FROM supplier
       |WHERE s_suppkey IN (
       |  SELECT ps.l_suppkey FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
       |  WHERE sqty > tqty * CAST(0.5 AS DOUBLE))
       |ORDER BY s_name ASC""".stripMargin

  // ---------- TPC-H Q21 shape: EXISTS + NOT-EXISTS double correlation
  /** Suppliers who were the sole bottleneck of finished multi-supplier
    * orders — the TPC-H Q21 shape: an EXISTS (another supplier
    * contributed) plus a NOT EXISTS (nobody else shipped as late),
    * planned as LEFT SEMI then LEFT ANTI self-joins of lineitem on
    * orderkey with the supplier/date residuals riding the equi-key.
    * With no receiptdate, "this supplier's line is the strict latest
    * ship in the order" carries the lateness semantics.
    *
    * Scale: three shuffles on orderkey (self-join ×2 + the status
    * gate), no fan-out — semi/anti joins emit each probe row at most
    * once; numwait counts distinct orders so multi-line suppliers don't
    * double-bill. */
  def waitingOrders(spark: SparkSession, dir: String): DataFrame = {
    // Q21 as ONE fact pass (round 15): the semi + anti self-joins made
    // lineitem cross the network three times (plan: 3 scans, two extra
    // shuffle joins of the full fact). Equivalent per-order logic: a
    // line of supplier s survives the anti-join iff its shipdate beats
    // every OTHER supplier's max shipdate in the order — attainable iff
    // s's per-supplier max STRICTLY dominates all others (take d1 =
    // smax(s): every other line has d3 ≤ smax(s') < d1; conversely a
    // surviving d1 bounds every smax(s') from above) — and the semi-join
    // is just n_supp ≥ 2. So: aggregate to (order, supplier, max ship),
    // one per-order window pass marks the strict unique argmax, count
    // winners per supplier. numwait counts one row per (order, winner),
    // identical to the countDistinct over surviving lines.
    val g = lineitem(spark, dir)
      .join(orders(spark, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey").as("k1"), col("l_suppkey").as("s1"))
      .agg(max(col("l_shipdate")).as("smax"))
    val w = Window.partitionBy(col("k1"))
    g
      .withColumn("m1", max(col("smax")).over(w))
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_at_max",
        sum((col("smax") === col("m1")).cast("long")).over(w))
      .filter(col("smax") === col("m1") && col("n_at_max") === 1 &&
        col("n_supp") >= 2)
      .join(broadcast(supplier(spark, dir).select(col("s_suppkey"), col("s_name"))),
        col("s1") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  val waitingOrdersSql: String =
    """WITH l1 AS (
      |  SELECT l_orderkey AS k1, l_suppkey AS s1, l_shipdate AS d1
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F')
      |SELECT s_name, CAST(count(DISTINCT k1) AS BIGINT) AS numwait
      |FROM l1 JOIN supplier ON s1 = s_suppkey
      |WHERE EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = k1 AND l2.l_suppkey <> s1)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = k1 AND l3.l_suppkey <> s1
      |                    AND l3.l_shipdate >= d1)
      |GROUP BY 1 ORDER BY numwait DESC, s_name ASC LIMIT 100""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_forecast_revenue"    -> forecastRevenue _,
    "q_shipmode_priority"   -> shipmodePriority _,
    "q_cust_order_dist"     -> custOrderDist _,
    "q_disjunctive_revenue" -> disjunctiveRevenue _,
    "q_small_qty_revenue"   -> smallQtyRevenue _,
    "q_min_cost_supplier"   -> minCostSupplier _,
    "q_product_profit"      -> productProfit _,
    "q_important_stock"     -> importantStock _,
    "q_supplier_cnt"        -> supplierCnt _,
    "q_excess_supply"       -> excessSupply _,
    "q_waiting_orders"      -> waitingOrders _)

  val oracles: Map[String, String] = Map(
    "q_forecast_revenue"    -> forecastRevenueSql,
    "q_shipmode_priority"   -> shipmodePrioritySql,
    "q_cust_order_dist"     -> custOrderDistSql,
    "q_disjunctive_revenue" -> disjunctiveRevenueSql,
    "q_small_qty_revenue"   -> smallQtyRevenueSql,
    "q_min_cost_supplier"   -> minCostSupplierSql,
    "q_product_profit"      -> productProfitSql,
    "q_important_stock"     -> importantStockSql,
    "q_supplier_cnt"        -> supplierCntSql,
    "q_excess_supply"       -> excessSupplySql,
    "q_waiting_orders"      -> waitingOrdersSql)
}
