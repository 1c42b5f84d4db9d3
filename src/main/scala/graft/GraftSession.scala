package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CountMinSketchAgg, DotProductF, PolyHashExpr, ShingleHashesExpr, StopCountExpr, TokenCountExpr, TokenHashesExpr}

/** Library entry points: the SQL function surface and the one session
  * configuration every main, the test suite and the benchmark run under.
  *
  * [[GraftExtensions]] makes the custom Catalyst expressions callable
  * from SQL (`SELECT dot_f(a, b)`, `poly_hash(text)`, …) in any session
  * created with
  * `--conf spark.sql.extensions=graft.GraftExtensions`, the standard
  * plugin mechanism — no code changes to the application.
  * [[GraftSession.builder]] sets that conf, so every session built
  * through it has the functions from construction on.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  /** (name, info, builder) for every custom expression in the library. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("dot_f",
      new ExpressionInfo(classOf[DotProductF].getName, "dot_f"),
      (es: Seq[Expression]) => DotProductF(es(0), es(1))),
    ("poly_hash",
      new ExpressionInfo(classOf[PolyHashExpr].getName, "poly_hash"),
      (es: Seq[Expression]) => PolyHashExpr(es.head)),
    ("token_hashes",
      new ExpressionInfo(classOf[TokenHashesExpr].getName, "token_hashes"),
      (es: Seq[Expression]) => TokenHashesExpr(es.head)),
    ("shingle_hashes",
      new ExpressionInfo(classOf[ShingleHashesExpr].getName, "shingle_hashes"),
      (es: Seq[Expression]) => ShingleHashesExpr(es.head)),
    ("cms_sketch",
      new ExpressionInfo(classOf[CountMinSketchAgg].getName, "cms_sketch"),
      (es: Seq[Expression]) => CountMinSketchAgg(es.head).toAggregateExpression()),
    ("token_count",
      new ExpressionInfo(classOf[TokenCountExpr].getName, "token_count"),
      (es: Seq[Expression]) => TokenCountExpr(es.head)),
    // stop_count(text, 'w1', 'w2', ...) — trailing args must be string
    // literals (the word set is folded into the expression instance)
    ("stop_count",
      new ExpressionInfo(classOf[StopCountExpr].getName, "stop_count"),
      (es: Seq[Expression]) => StopCountExpr(es.head, es.tail.map { e =>
        require(e.foldable &&
          e.dataType == org.apache.spark.sql.types.StringType,
          "stop_count words must be string literals")
        val v = e.eval(null)
        require(v != null, "stop_count words must be non-null string literals")
        v.toString
      })))
}

/** The only place a [[SparkSession]] is built. [[builder]] carries the
  * engine configuration; [[local]] adds the local-mode deployment
  * settings the mains share. Keeping both here means the tests, the
  * correctness dump (`Verify`) and the timers (`Bench`, `perfbench`)
  * cannot drift apart in serializer, time zone, scratch
  * root or function surface. */
object GraftSession {
  /** RAM-backed scratch root for shuffle + materialization temp files.
    *
    * Local-mode shuffle spills land under `spark.local.dir` (default
    * /tmp). On this sandbox /tmp is a virtio ext4 disk with multi-second
    * write-latency bursts: thread dumps of slow bench runs show executor
    * threads pinned in BypassMergeSortShuffleWriter/copyFileStreamNIO
    * while 20-30 s lands on whichever query is mid-shuffle — pure
    * environment noise that moved between queries run to run. A real
    * cluster serves shuffle from fast local SSDs; tmpfs (/dev/shm,
    * 126 GiB here) is the local-mode stand-in with that cost model.
    * Falls back to the JVM temp dir when no writable tmpfs exists.
    * Everything written here is session-scoped temp state (Spark's own
    * spark-/blockmgr- dirs and [[Materializer]]'s copies), all
    * removed by their owners' shutdown hooks. */
  lazy val scratchRoot: String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root =
      if (java.nio.file.Files.isWritable(shm)) shm.resolve("graft-scratch")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createDirectories(root)
    root.toString
  }

  /** Generated classes Spark's codegen cache keeps (default 100).
    *
    * The cache is an LRU keyed by generated source. One warm
    * stream-replay micro-batch (three streaming queries, four
    * foreachBatch sinks) cycles through about 115 distinct classes, so
    * at 100 entries nearly every lookup missed and each batch paid
    * about 110 Janino compiles plus the JIT work on each fresh class;
    * at 1000 a warm batch compiles 12. 1000 is ~9× the working set:
    * room for several concurrent pipelines before the LRU thrashes
    * again, and still a bound on the classes (and metaspace) the cache
    * pins. The value is static: the first session of the JVM fixes it. */
  val CodegenCacheEntries = 1000

  /** Builder preloaded with the engine's recommended configuration.
    * `cores` sizes local parallelism AND shuffle partitions — on a real
    * cluster pass shufflePartitions ≈ 2-3× total executor cores instead
    * and drop the master override.
    *
    * The `file:` scheme resolves to [[ForkFreeLocalFileSystem]] and
    * [[ForkFreeLocalFs]]: without libhadoop, Hadoop's own local
    * filesystem starts a `chmod` per created file and a `readlink` per
    * rename side, thousands per streaming run. Hadoop caches a
    * `FileSystem` per scheme and user, not per configuration, so build
    * the session before anything in the JVM calls `FileSystem.get` on a
    * `file:` path; an instance cached earlier stays the stock one
    * (still correct, only slower). `FileContext` is not cached. */
  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", scratchRoot)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // events.parquet carries TIMESTAMP(NANOS) — see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)

  /** The local session every main runs under: [[builder]] on
    * `local[SPARK_GRAFT_CPUS]` (default 4), UI off, log level WARN.
    *
    * SPARK_GRAFT_INIT_PARTS sets AQE's initial shuffle partitions
    * (default: the core count). Partition posture is bound to DATA
    * scale, not cores: raising it took q_ann_ivf from 158 to 93 s at
    * sf10 but cost ×3-4 on the iterative/materializer family at sf0.1
    * (128 tasks per tiny exchange), so scale probes opt in explicitly —
    * a deployment knob, like executor count. */
  def local(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)
    val spark = builder(cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", cores.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
