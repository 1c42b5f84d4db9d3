package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
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
  * `graft-mat-` directory under [[GraftSession.scratchRoot]].
  *
  * What keys a copy: the subtree itself, as Spark's `CacheManager` keys
  * its reuse — the canonicalized analyzed plan (expression ids
  * normalized, so two builds of one subtree, or two reads of one path,
  * compare equal) — together with the plan's output schema and
  * [[Tables.inputStamp]] of the input files the plan's own file-source
  * relations list. The schema is part of the key because
  * canonicalization erases alias names: `x AS a` and `x AS b`
  * canonicalize equal, and the copy is read back by name with the
  * schema it was written with. Two different subtrees never share a
  * copy, and no caller names one.
  *
  * What invalidates a copy: any change in that stamp — a file's path,
  * size or nanosecond modification time, or the file count — the same
  * rule [[Tables.table]] applies to its kept schemas. An input rewritten
  * in place (or gaining a file) makes a new key, so the next call writes
  * a fresh copy from the new rows instead of serving the old one. Not
  * seen: a rewrite that keeps every file's path, size and nanosecond
  * mtime, which takes a deliberate `utimensat`, not a normal write.
  *
  * Lifecycle: copies are session-scoped. `clear()` deletes all of them —
  * [[Bench]] and [[Verify]] call it after every query so nothing
  * (disk OR block-manager state) leaks into the next query's measurement;
  * a JVM shutdown hook removes the temp root regardless. Call `clear()`
  * before stopping a session that materialized: each key holds its
  * canonicalized plan, whose file relations hold the session, so the
  * map keeps a stopped session reachable until the next `clear()`.
  */
object Materializer {

  /** Set by `Bench --plans` so each materialized subtree, where the
    * shuffle, join and cap decisions live, prints its plan before the
    * write; the query's own plan shows only a scan of the copy. */
  @volatile private[graft] var dumpPlans = false

  /** A subtree (canonicalized), its output names and types, and the
    * stamp of the files it reads. */
  private final case class Key(plan: LogicalPlan, schema: StructType,
                               inputs: Seq[(String, Long, Long)])

  /** A copy's directory and its write, which yields the written schema. */
  private final case class Copy(path: Path, written: FutureTask[StructType])

  private val live = new ConcurrentHashMap[Key, Copy]()
  private val nextId = new AtomicLong()
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

  /** Whether `plan` is a bare scan of one of this JVM's copies. */
  private def isCopy(plan: LogicalPlan): Boolean = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) if rootDir != null =>
      val paths = fs.location.rootPaths
      paths.nonEmpty && paths.forall(p =>
        p.toUri.getScheme == "file" && java.nio.file.Paths.get(p.toUri).startsWith(rootDir))
    case _ => false
  }

  /** Materialize `df` — eager parquet write on the first call for its
    * subtree and inputs, reuse on later calls — and return a scan of the
    * on-disk copy. A `df` that already scans a copy is returned as it
    * is. Values are preserved exactly (long/double/string columns
    * round-trip bit-identically through parquet); only physical lineage
    * changes. The scan is given the schema the copy was written with
    * instead of inferring it, which runs no job; the file source makes a
    * given schema nullable exactly as it does an inferred one, so the
    * scan's schema is the one inference would give (SchemaReuseSpec).
    * Locking is per key: the map holds a FutureTask per key
    * (registration via `putIfAbsent` is O(1), never blocking a bin for
    * the write's duration), the WINNING caller runs the parquet write
    * OUTSIDE any map lock, same-key callers await that one future, and
    * distinct keys write fully concurrently. A failed write removes its
    * entry and partial files so a later call can retry. */
  def materialize(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    if (isCopy(plan)) df
    else {
      val key = Key(plan.canonicalized, plan.schema, Tables.inputStamp(plan))
      val path = root.resolve(s"copy-${nextId.incrementAndGet()}")
      val fresh = Copy(path, new FutureTask[StructType](() => {
        if (dumpPlans) {
          println(s"----- materialize[${path.getFileName}] -----")
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        }
        df.write.mode(SaveMode.Overwrite).parquet(path.toString)
        df.schema
      }))
      val copy = Option(live.putIfAbsent(key, fresh)) match {
        case None => fresh.written.run(); fresh
        case Some(prior) =>
          // Plan-dump coverage depends on clear() between queries: a
          // subtree materialized earlier in the session is reused and
          // its plan is NOT re-dumped — say so, so an incomplete dump
          // is visible.
          if (dumpPlans)
            println(s"----- materialize[${prior.path.getFileName}]: reused, plan not dumped -----")
          prior
      }
      val schema =
        try copy.written.get()
        catch {
          case e: ExecutionException =>
            if (live.remove(key, copy)) deleteQuietly(copy.path)
            throw e.getCause
        }
      df.sparkSession.read.schema(schema).parquet(copy.path.toString)
    }
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
  def sortedSmall(df: DataFrame, by: String*): DataFrame =
    materialize(df).orderBy(by.map(org.apache.spark.sql.functions.col): _*)

  /** The copies written (or being written) since the last `clear()`. */
  private[graft] def liveCopies: Int = live.size

  /** Drop every materialized copy. Safe to call between queries; the next
    * `materialize` of a subtree simply recomputes. An in-flight write is
    * awaited first — unregistering it without awaiting would let the write
    * complete later and orphan its directory past this clear(). A failed
    * write's directory is deleted too, since an aborted Spark write can
    * leave partial files. */
  def clear(): Unit = {
    val it = live.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      it.remove()
      try c.written.get() catch { case _: Exception => () }
      deleteQuietly(c.path)
    }
  }

  private def deleteQuietly(p: Path): Unit =
    try deleteTree(p) catch { case _: Exception => () }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p) // stream holds directory handles until closed
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
