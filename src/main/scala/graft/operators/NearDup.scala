package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

import org.apache.spark.sql.functions._

import graft.Materializer

/** Shared candidate-join core for posting-list near-duplicate detection.
  *
  * Both index-based near-dup variants — [[Dedup.ngramJaccard]] (full
  * shingle inverted index) and [[TextOps.winnowNearDup]] (winnowed
  * fingerprint posting list) — are the SAME operator over different
  * posting lists: drop hot keys (document frequency above a cap, the
  * stop-word-removal bound that keeps one key shared by k docs from
  * emitting O(k²) candidate rows at scale), then a self-equi-join on the
  * key yields intersection counts, per-doc totals yield sizes, and
  * jaccard = |A∩B| / (|A|+|B|-|A∩B|) gates at a threshold. One Scala
  * body and one oracle-SQL template keep the two (and any future
  * posting-list variant) from drifting apart.
  */
object NearDup {

  /** df-capped jaccard near-dup pairs over a `(doc_id, key)` posting
    * list. The posting list is materialized (unless it already is a
    * Materializer copy) — it is referenced three times (sizes + both
    * self-join sides) and Spark has no cross-reference subtree reuse.
    * Output: (d1, d2, common, `scoreName`) for pairs with score ≥
    * `threshold`, d1 < d2.
    *
    * Scale shape: one tiny hot-key aggregate (df cap), one self-join on
    * key with per-key fan-out bounded by dfCap², one aggregate on the
    * pair key — never the O(n²) pair space. */
  def cappedJaccardPairs(postings: DataFrame, key: String, dfCap: Int,
                         threshold: Double, scoreName: String): DataFrame =
    cappedJaccardJoin(postings, key, dfCap, threshold, scoreName,
      col("a.doc_id") < col("b.doc_id"), "d1", "d2")

  /** [[cappedJaccardPairs]] without the final global sort — for
    * consumers (clustering, splits, audits) that only need the pair SET
    * and would otherwise pay a range sort (sample pass + exchange) per
    * reference just to discard the order. Returns the materialized
    * scored relation directly. */
  def cappedJaccardPairsUnsorted(postings: DataFrame, key: String, dfCap: Int,
                                 threshold: Double, scoreName: String): DataFrame =
    cappedScoredPairs(postings, key, dfCap, threshold, scoreName,
      col("a.doc_id") < col("b.doc_id"), "d1", "d2",
      jaccardScore, jaccardGate(threshold))

  private def jaccardScore: (Column, Column, Column) => Column =
    (common, n1, n2) => common.cast("double") / (n1 + n2 - common)

  // jaccard size-ratio gate, applied INSIDE the pair-join condition:
  // common ≤ min(n1,n2) and jaccard is increasing in common, so the
  // attainable max is min/max — a pair below it can NEVER pass the
  // final threshold filter (fl() is monotone, so the argument
  // survives double rounding: exact, not heuristic). Pruning at the
  // join drops the fanout rows themselves, which is what unloads
  // the pair aggregate (the sf100 profile measured 1.24 B partial
  // rows and 185 GB of aggregate spill for a ~256-row result).
  private def jaccardGate(threshold: Double): (Column, Column) => Column =
    (n1, n2) => least(n1, n2).cast("double") / greatest(n1, n2) >= threshold

  /** The general form: pair space = self-join on key restricted by
    * `pairCond` over aliases `a`/`b` (symmetric dedup passes
    * a.doc_id < b.doc_id; incremental dedup passes a membership split
    * new-side × existing-side). Output (`c1`, `c2`, common,
    * `scoreName`), ordered by (c1, c2). */
  def cappedJaccardJoin(postings: DataFrame, key: String, dfCap: Int,
                        threshold: Double, scoreName: String,
                        pairCond: Column, c1: String, c2: String): DataFrame =
    cappedScoredJoin(postings, key, dfCap, threshold, scoreName,
      pairCond, c1, c2, jaccardScore, gate = jaccardGate(threshold))

  /** Fully general form: `score(common, n1, n2)` plugs the similarity
    * formula (jaccard = c/(n1+n2−c); containment = c/n1; overlap
    * coefficient = c/least(n1,n2); …) over the same capped-posting-list
    * candidate skeleton. */
  def cappedScoredJoin(postings: DataFrame, key: String, dfCap: Int,
                       threshold: Double, scoreName: String,
                       pairCond: Column, c1: String, c2: String,
                       score: (Column, Column, Column) => Column,
                       gate: (Column, Column) => Column = (_, _) => lit(true))
      : DataFrame =
    cappedScoredPairs(postings, key, dfCap, threshold, scoreName,
      pairCond, c1, c2, score, gate)
      .orderBy(c1, c2)

  /** The materialized scored pair relation BEFORE the final orderBy.
    *
    * Materialized because a range-partitioned sort runs its child plan
    * TWICE — once inside RangePartitioner's boundary sample, once for
    * the real shuffle — and the child here is the final pair aggregate
    * over the candidate-fanout exchange, the largest relation in the
    * query (the sf10 profile measured the sample pass alone at 227
    * executor-run seconds re-aggregating 94.5 M partial rows to produce
    * boundaries for a 25.6 k-row sort). Materialized, both sort passes
    * read a tiny parquet — and unsorted consumers (clustering, splits)
    * skip the sort entirely. The copy is keyed by its plan and output
    * schema, so callers over one posting list (incremental and
    * symmetric dedup both read the shingle index) share it only when
    * threshold, score, pair condition and output column names agree
    * too. */
  def cappedScoredPairs(postings: DataFrame, key: String, dfCap: Int,
                        threshold: Double, scoreName: String,
                        pairCond: Column, c1: String, c2: String,
                        score: (Column, Column, Column) => Column,
                        gate: (Column, Column) => Column = (_, _) => lit(true))
      : DataFrame =
    Materializer.materialize(
      cappedPairStats(postings, key, dfCap, pairCond, c1, c2, gate)
        .select(col(c1), col(c2), col("common"),
          score(col("common"), col("n1"), col("n2")).as(scoreName))
        .filter(col(scoreName) >= threshold))

  /** The df-capped posting list — the shared candidate substrate every
    * consumer (jaccard, containment, edit-verify, …) builds its pair
    * join from.
    *
    * df-cap as aggregate + anti-join, NOT a count window: the window
    * form shuffled and SORTED the ENTIRE posting list by key (500 M
    * rows at the sf100 probe) to attach a count, where the hot-key
    * SET is tiny (59 keys above cap at sf0.1; hotness is a property
    * of the key, not the row).
    *
    * The hot set is MATERIALIZED before the anti-join, not left as a
    * plan subtree: planned inline, the join's right side carries the
    * UNFILTERED aggregate's statistics (AQE re-plans a join only
    * from completed exchange stats, and the df > cap filter runs
    * after the final aggregate it was waiting on), so the planner
    * kept a co-partitioned anti-join and shuffled the full posting
    * list by key anyway — the sf10 profile measured that shuffle +
    * join at ~536 executor-run seconds, the exact cost the
    * agg+anti rewrite was meant to remove. Written to parquet
    * first, the hot set's TRUE size (59 keys at sf0.1) is file-scan
    * metadata, the static planner broadcasts it, and the posting
    * list never shuffles. A corpus with an over-broadcast-threshold
    * hot set falls back to the shuffled anti-join on its own — the
    * safety property is the planner's size rule, not a hint.
    * Row-identical to the window form: count(*) > cap ⇔ df > cap.
    *
    * The capped RESULT is no longer materialized (round 14, second
    * pass): each consumer re-applies the broadcast anti-join over the
    * materialized posting scan instead — a per-scan hash probe against
    * a tiny build side, strictly cheaper than the extra full write +
    * read round trip the result copy cost (measured at sf0.1: one
    * round trip ≈ 0.3 s of the bench's per-query fixed cost across the
    * whole family; at sf100 the anti-join probe is a no-op beside the
    * scan it rides). What IS materialized is the INPUT posting list
    * — without that, the raw posting pipeline (winnow windows, k-gram
    * hashing) would re-run once per consumer: the hot aggregate plus
    * every self-join side. Postings that already are a materialized scan
    * (the shared shingle index) pass through [[Materializer.materialize]]
    * as they are. */
  def cappedPostings(postings: DataFrame, key: String, dfCap: Int): DataFrame = {
    val post = Materializer.materialize(postings)
    val hot = Materializer.materialize(
      post.groupBy(col(key)).agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap)
        .select(col(key)))
    post.join(hot, Seq(key), "left_anti")
  }

  def cappedPairStats(postings: DataFrame, key: String, dfCap: Int,
                      pairCond: Column, c1: String, c2: String,
                      gate: (Column, Column) => Column = (_, _) => lit(true))
      : DataFrame = {
    val capped = cappedPostings(postings, key, dfCap)
    // Per-doc sizes attach to the POSTING LIST before the pair join and
    // ride through the aggregate as grouping columns (functionally
    // dependent on the doc ids — same groups), instead of joining the
    // aggregated pair set twice afterwards: the candidate-pair set is
    // the largest relation in the query (pairs sharing ≥1 capped key,
    // BEFORE the similarity threshold prunes it), so the sf100 profile
    // showed each post-agg size join costing as much as the pair join
    // itself. The sizes table is MATERIALIZED (one row per doc — tiny
    // beside the posting list) for the same reason as the hot-key set
    // in [[cappedPostings]]: planned inline, its exchange materializes
    // CONCURRENTLY with the posting list's doc_id exchange, so by the
    // time AQE can see sizes is broadcast-small the posting shuffle has
    // already run (the sf10 profile measured that shuffle at 447
    // executor-run seconds against a 4 MB sizes side). Scanned from
    // parquet, its true size drives the static planner: broadcast when
    // small, the ordinary co-partitioned join when a corpus outgrows
    // the threshold. The pair shuffle widens by 16 bytes per row —
    // strictly cheaper than re-shuffling the pair set twice.
    val sizes = Materializer.materialize(
      capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
    val withN = capped.join(sizes, Seq("doc_id"))
    // SHUFFLE_HASH, not sort-merge: SMJ sorts BOTH shuffled sides by
    // key before streaming — at the sf10 probe that sort was the
    // self-join stage's dominant cost (the posting list is large and
    // high-cardinality; the per-key groups it feeds are ≤ dfCap rows).
    // A shuffled hash join builds a per-partition map instead — no
    // sorts — and its build side is one shuffle partition of the
    // capped list, bounded by partition count sizing at any corpus
    // scale (the standard SSJoin shape). The pair aggregate downstream
    // is hash-based and never needed the sort order.
    // `gate(n1, n2)` joins the pair condition so provably-hopeless
    // pairs (by the caller's score-specific size bound) never emit
    // fanout rows — see cappedJaccardJoin for the exactness argument.
    withN.as("a").hint("shuffle_hash").join(withN.as("b"),
        col(s"a.$key") === col(s"b.$key") && pairCond &&
          gate(col("a.n"), col("b.n")))
      .groupBy(col("a.doc_id").as(c1), col("b.doc_id").as(c2),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .agg(count(lit(1)).as("common"))
      .select(col(c1), col(c2), col("common"), col("n1"), col("n2"))
  }

  /** Oracle-SQL twin of [[cappedJaccardPairs]]: CTE suffix + final
    * SELECT, given the name of a prior CTE holding the `(doc_id, key)`
    * posting list. Callers append it after `WITH <src> AS (...),`. */
  def sqlCappedJaccardPairs(src: String, key: String, dfCap: Int,
                            threshold: Double, scoreName: String): String =
    sqlCappedJaccardJoin(src, key, dfCap, threshold, scoreName,
      "a.doc_id < b.doc_id", "d1", "d2")

  /** Oracle-SQL twin of [[cappedJaccardJoin]]. */
  def sqlCappedJaccardJoin(src: String, key: String, dfCap: Int,
                           threshold: Double, scoreName: String,
                           pairWhere: String, c1: String, c2: String): String =
    sqlCappedScoredJoin(src, key, dfCap, threshold, scoreName, pairWhere, c1, c2,
      "CAST(common AS DOUBLE) / (s1.n + s2.n - common)")

  /** Oracle-SQL twin of [[cappedScoredJoin]]: `scoreExpr` may reference
    * `common`, `s1.n`, `s2.n`. */
  def sqlCappedScoredJoin(src: String, key: String, dfCap: Int,
                          threshold: Double, scoreName: String,
                          pairWhere: String, c1: String, c2: String,
                          scoreExpr: String): String =
    s"""capped AS (SELECT doc_id, $key FROM (
       |  SELECT doc_id, $key, count(*) OVER (PARTITION BY $key) AS df FROM $src)
       |  WHERE df <= $dfCap),
       |sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY 1),
       |cand AS (
       |  SELECT a.doc_id AS $c1, b.doc_id AS $c2, count(*) AS common
       |  FROM capped a JOIN capped b ON a.$key = b.$key AND ($pairWhere)
       |  GROUP BY 1, 2)
       |SELECT $c1, $c2, common,
       |       $scoreExpr AS $scoreName
       |FROM cand JOIN sizes s1 ON $c1 = s1.doc_id JOIN sizes s2 ON $c2 = s2.doc_id
       |WHERE $scoreExpr >= $threshold
       |ORDER BY $c1, $c2""".stripMargin
}
