package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator for the decade-step slope probes
  * (VERDICT r7 #3 / r8 #5): deterministically replicate the driver's
  * sf0.1 tables ×N so the slope table in BASELINE.md extends beyond the
  * largest driver-provided SF. Writes inside the repo's `target/`
  * (never touches /root/testdata). REPS=10 (the default) is the sf1
  * probe; REPS=100 is the sf10 probe — two decades above driver data.
  *
  * Design — the replication must preserve each table's STATISTICAL
  * shape while scaling row counts linearly, or the probe measures a
  * different workload instead of a bigger one:
  *
  *  - **Key remapping, not key reuse.** Every scaled key column gets
  *    `key + rep * stride` where `stride = max(key)+1` from sf0.1 and
  *    `rep` is the replica index 0..N-1. Foreign keys remap with the
  *    SAME stride as their parent (l_orderkey with orders' stride,
  *    o_custkey with customer's), so join fan-in per key is IDENTICAL
  *    to sf0.1 — N disjoint copies of the same join graph. Replica 0 is
  *    the original data unchanged.
  *  - **Dimensions don't scale.** nation/region copy through ×1 (TPC-H
  *    semantics: sf scales facts, not the 25-nation world). Customer/
  *    supplier nationkeys are untouched, so dim joins get ×N fan-in —
  *    exactly what a real sf step does.
  *  - **Text perturbation, not text duplication.** documents.text gets
  *    a per-replica ALPHABET BIJECTION (via translate — codegen'd, no
  *    UDF). This preserves length, token boundaries, and within-replica
  *    dup/near-dup structure EXACTLY (each replica reproduces sf0.1's
  *    pair set under its own alphabet), while making cross-replica
  *    shingle overlap ~zero — near-dup pair counts scale exactly ×N.
  *    N verbatim copies would instead weld every doc into an N-clone
  *    cluster and blow the pair count up ×(N choose 2)/doc: a
  *    DIFFERENT, degenerate workload. Replicas 1-9 keep the original
  *    Caesar rotation (the committed sf1 contract, bit-stable);
  *    replicas ≥ 10 use a Fisher-Yates permutation seeded by the
  *    replica index — Caesar has only 26 distinct rotations, so
  *    two-digit replica counts would collide alphabets (rep 5 ≡ rep 31)
  *    and weld cross-replica EXACT dups. Pairwise distinctness of all N
  *    alphabets is asserted at generation.
  *  - **Embedding decorrelation by rotation (+ sign flips past rep 9).**
  *    embeddings.embedding is circularly shifted by `rep mod dim`
  *    positions (slice+concat — preserves the norm and the coordinate
  *    distribution exactly). Replicas ≥ 10 additionally multiply by a
  *    per-replica deterministic ±1 sign pattern (seeded by rep): with
  *    dim=64 the shift alone collides one decade up (rep ≡ rep+64), and
  *    sign flips keep cross-replica cosines near zero where two
  *    replicas share a shift. Norms are unchanged (|±x| = |x|); replicas
  *    0-9 take the pure-shift path so the sf1 output stays bit-stable.
  *  - **Timestamps unchanged.** Event/order/shipdate densities go ×N
  *    per time window — that IS what a bigger corpus over the same
  *    period looks like; windowed aggregates see real ×N group sizes.
  */
object ScaleProbe {
  private val DEFAULT_REPS = 10

  private val lower = "abcdefghijklmnopqrstuvwxyz"

  private def rot(s: String, k: Int) = s.drop(k) + s.take(k)

  /** The replica's lowercase alphabet image: identity (0), Caesar (1-9,
    * the pinned sf1 contract), seeded Fisher-Yates permutation (≥ 10). */
  private[graft] def alphabetFor(rep: Int): String =
    if (rep < 10) rot(lower, rep)
    else {
      val arr = lower.toCharArray
      val rnd = new scala.util.Random(0x5ca1eL * 7919L + rep)
      var i = arr.length - 1
      while (i >= 1) {
        val j = rnd.nextInt(i + 1)
        val t = arr(i); arr(i) = arr(j); arr(j) = t
        i -= 1
      }
      new String(arr)
    }

  /** Per-replica ±1 sign pattern for embedding decorrelation (reps ≥ 10
    * only; reps 0-9 never consult it). Deterministic in (rep, dim). */
  private[graft] def signsFor(rep: Int, dim: Int): Array[Float] = {
    val rnd = new scala.util.Random(0xf1a95L * 104729L + rep)
    Array.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
  }

  /** Per-replica alphabet bijection as a translate() CASE — deterministic,
    * length-preserving, codegen-friendly. rep 0 is identity. */
  private def perturbText(text: org.apache.spark.sql.Column,
                          rep: org.apache.spark.sql.Column, reps: Int) = {
    val alphabets = (0 until reps).map(alphabetFor)
    require(alphabets.distinct.size == reps,
      "alphabet collision across replicas — exact dups would weld")
    (1 until reps).foldLeft(when(rep === 0, text)) { (acc, k) =>
      val a = alphabets(k)
      acc.when(rep === k, translate(text, lower + lower.toUpperCase,
        a + a.toUpperCase))
    }.otherwise(text)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "target/sf1_synth"
    val reps = if (args.length > 2) args(2).toInt else DEFAULT_REPS
    // optional comma-list of tables (plus dims, always written): a
    // three-decade probe of the text/embedding families doesn't need
    // 600M replicated lineitem rows on disk
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val spark = GraftSession.local()
    synthesize(spark, srcDir, outDir, reps, only)
    val counts = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      .filter(n => only.forall(_.contains(n)) || n == "region" || n == "nation")
      .map(n => s""""$n":${spark.read.parquet(s"$outDir/$n.parquet").count()}""")
    println(s"""{"metric":"scale_synth_rows",${counts.mkString(",")},"reps":$reps,"out":"$outDir"}""")
    spark.stop()
  }

  /** Replicate every table of `srcDir` ×`reps` into `outDir` (dims
    * copy through ×1); see the object doc for the fidelity contract.
    * `only` restricts which FACT tables are written (dims always are) —
    * strides are computed lazily so skipped parents are never read. */
  def synthesize(spark: SparkSession, srcDir: String, outDir: String,
                 reps: Int = DEFAULT_REPS,
                 only: Option[Set[String]] = None): Unit = {
    def tbl(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")
    def wanted(name: String): Boolean = only.forall(_.contains(name))

    /** max(key)+1 — the remap stride that keeps replica key spaces disjoint. */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    lazy val custS = stride(tbl("customer"), "c_custkey")
    lazy val suppS = stride(tbl("supplier"), "s_suppkey")
    lazy val partS = stride(tbl("part"), "p_partkey")
    lazy val ordS  = stride(tbl("orders"), "o_orderkey")
    lazy val evS   = stride(tbl("events"), "event_id")
    lazy val userS = stride(tbl("events"), "user_id")
    lazy val docS  = stride(tbl("documents"), "doc_id")
    lazy val vecS  = stride(tbl("embeddings"), "vec_id")

    /** Cross-join with the replica index and remap the named long keys
      * by their parents' strides. crossJoin(range(reps)) is a broadcast
      * NLJ against an reps-row side — linear scan, no shuffle. */
    def replicate(df: DataFrame, remap: (String, Long)*): DataFrame = {
      val repsDf = spark.range(reps).toDF("rep")
      remap.foldLeft(df.crossJoin(broadcast(repsDf))) { case (d, (k, s)) =>
        d.withColumn(k, col(k) + col("rep") * s)
      }
    }

    def write(df: DataFrame, name: String): Unit = {
      // output partition count scales with the replication so a probe
      // corpus has the multi-split layout a real table at that scale
      // would have. This must be repartition, not coalesce: the
      // replication plan is one small scan × a broadcast NLJ — ONE
      // partition — and coalesce can only reduce, so every probe table
      // through round 12 landed as a single parquet file and every
      // scan-stage kernel measured against it ran on 1-2 cores (the
      // round-12 sf100 audit: q_ivf_balance 1301 s at loadavg ~1.5 on
      // 32 CPUs). Round-robin repartition changes only row placement,
      // never values; all registered queries are order-insensitive.
      df.drop("rep").repartition(4 * math.max(1, reps / 10)).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      System.err.println(s"[scaleprobe] wrote $name")
    }

    // dims copy through unscaled
    write(tbl("region").withColumn("rep", lit(0)), "region")
    write(tbl("nation").withColumn("rep", lit(0)), "nation")

    if (wanted("customer"))
      write(replicate(tbl("customer"), "c_custkey" -> custS), "customer")
    if (wanted("supplier"))
      write(replicate(tbl("supplier"), "s_suppkey" -> suppS), "supplier")
    if (wanted("part"))
      write(replicate(tbl("part"), "p_partkey" -> partS), "part")
    if (wanted("orders"))
      write(replicate(tbl("orders"), "o_orderkey" -> ordS, "o_custkey" -> custS), "orders")
    if (wanted("lineitem"))
      write(replicate(tbl("lineitem"),
        "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS), "lineitem")
    if (wanted("events"))
      write(replicate(tbl("events"), "event_id" -> evS, "user_id" -> userS), "events")
    if (wanted("documents"))
      write(replicate(tbl("documents"), "doc_id" -> docS)
        .withColumn("text", perturbText(col("text"), col("rep"), reps)), "documents")

    if (wanted("embeddings")) {
      val dim = tbl("embeddings").select(size(col("embedding"))).head.getInt(0)
      // circular shift by rep mod dim: norm-preserving, decorrelates replicas
      val shiftCol = pmod(col("rep"), lit(dim)).cast("int")
      val shifted = concat(
        slice(col("embedding"), shiftCol + 1, lit(dim) - shiftCol),
        slice(col("embedding"), lit(1), shiftCol))
      // reps ≥ 10 add a per-replica ±1 pattern (see object doc); the join
      // side is reps rows — broadcast
      val signsDf = broadcast(spark.createDataFrame(
        (0 until reps).map(r => (r.toLong, signsFor(r, dim).toSeq)))
        .toDF("rep", "signs"))
      write(replicate(tbl("embeddings"), "vec_id" -> vecS)
        .join(signsDf, "rep")
        .withColumn("embedding",
          when(col("rep") < 10, shifted)
            .otherwise(zip_with(shifted, col("signs"), (a, b) => a * b)))
        .drop("signs"), "embeddings")
    }
  }
}
