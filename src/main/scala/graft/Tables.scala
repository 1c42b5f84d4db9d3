package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared table readers + determinism helpers.
  *
  * All queries read driver-generated parquet from `sfDir`
  * (see TESTDATA.md). Readers are parquet scans, so Catalyst gets full
  * pushdown/pruning; no data is cached here — each query is a pure
  * function of (session, sfDir).
  *
  * What is kept is each input's schema. A plain `spark.read.parquet`
  * runs a one-task Spark job that reads a footer to infer the schema,
  * on every read, even of a file the session read a moment ago: 327 of
  * the 2,034 jobs of a warm registry run at sf0.01. [[table]] infers once per
  * session and input, and a re-read of the unchanged input passes that
  * schema to `read.schema`, so it runs no job. A kept schema is dropped
  * and inferred again when
  *  - the input's [[inputStamp]] changed: any file's path, size or
  *    nanosecond modification time, or the file count. It is the one
  *    staleness rule of the package: [[Materializer]] keys its copies
  *    on it too. The file list is the one Spark's file index already
  *    made for this read, so a re-read lists the input once, as before
  *    (twice only after a change);
  *  - a parquet conf of the session changed since it was inferred
  *    (inference depends on them: `nanosAsLong`, `binaryAsString`, …).
  * A schema is never shared across sessions, and the store holds its
  * sessions weakly, so a stopped session is not kept alive.
  */
object Tables {
  /** An inferred schema, the [[inputStamp]] of the files it was
    * inferred from, and the session's parquet confs at the time. */
  private final case class Known(schema: StructType, stamp: Seq[(String, Long, Long)],
      confs: Map[String, String])

  private val known = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, Known]]())

  private def parquetConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter(_._1.contains("parquet"))

  /** The input files `plan`'s file-source relations list, as sorted
    * (path, size, modification time in nanoseconds); the length is the
    * file count. Paths come from the listing each relation's file index
    * holds; a local file's size and mtime are read from the file itself,
    * since Hadoop lists mtimes in milliseconds and a rewrite can land
    * within one. */
  private[graft] def inputStamp(plan: LogicalPlan): Seq[(String, Long, Long)] =
    plan.collectWithSubqueries { case r: LogicalRelation => r.relation }.flatMap {
      case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
        index.allFiles().map { f =>
          val path = f.getPath
          if (path.toUri.getScheme == "file") {
            val a = Files.readAttributes(Paths.get(path.toUri), classOf[BasicFileAttributes])
            (path.toString, a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS))
          } else (path.toString, f.getLen, TimeUnit.MILLISECONDS.toNanos(f.getModificationTime))
        }
      case _ => Nil
    }.sorted

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val bySession = known.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap[String, Known]())
    val confs = parquetConfs(spark)
    val reused = Option(bySession.get(path)).filter(_.confs == confs).flatMap { k =>
      val df = spark.read.schema(k.schema).parquet(path)
      if (inputStamp(df.queryExecution.analyzed) == k.stamp) Some(df) else None
    }
    reused.getOrElse {
      val df = spark.read.parquet(path)
      val files = inputStamp(df.queryExecution.analyzed)
      if (files.nonEmpty) bySession.put(path, Known(df.schema, files, confs))
      df
    }
  }

  /** events.ts has shipped in two physical parquet encodings across
    * testdata generations; dispatch on the type Spark actually read so
    * either generation yields the same session-local TimestampType column:
    *
    *  - TIMESTAMP(NANOS): Spark has no native nanos type; with the
    *    session's `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *    GraftSession.builder) it surfaces as LongType raw nanos — truncate
    *    to micros, matching DuckDB's own nanos→micros scan truncation.
    *  - timestamp[us] (TIMESTAMP_NTZ or TIMESTAMP): already micros —
    *    cast to session-local TimestampType so downstream epoch math and
    *    the DuckDB oracle agree.
    *
    * Any other type is a loud failure, not a silent mis-read. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported parquet-derived type $other; " +
            "expected LongType (nanos via spark.sql.legacy.parquet.nanosAsLong) " +
            "or Timestamp/TimestampNTZ (micros)")
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Exact sum: aggregate in DECIMAL (associative, partition-order-proof),
    * emit DOUBLE. Double partial-agg sums are order-dependent at the ulp
    * level and would flake the oracle hash-compare across runs/core-counts;
    * decimal sums are bit-stable. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Order-stable mean: exact decimal sum → double → one IEEE division.
    * Bit-identical in Spark and DuckDB. NO rounding anywhere: decimal
    * rounding of doubles is engine-dependent at .xx5 boundaries (Spark
    * rounds the shortest decimal repr HALF_UP, DuckDB rounds the binary
    * float), so rounded outputs can never be oracle-hash-stable. */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType) / count(c)

  /** Natural log in exact micro-units, floor(ln(x)·1e6 + 0.5) as a
    * long: sums and differences of logs stay exact integers
    * (partition-order-proof) and match DuckDB bit for bit. */
  def lnMu(c: Column): Column =
    floor(log(c.cast(DoubleType)) * 1000000.0 + lit(0.5)).cast(LongType)

  /** DuckDB oracle fragments mirroring dsum/davg. */
  def sqlDsum(col: String): String =
    s"CAST(sum(CAST($col AS DECIMAL(18,2))) AS DOUBLE)"

  /** DuckDB oracle fragment mirroring [[lnMu]]. */
  def sqlLnMu(e: String): String =
    s"CAST(floor(ln(CAST($e AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"

  /** DuckDB oracle cast of an exact value (DECIMAL or HUGEINT) to DOUBLE,
    * rounded once, as Spark's cast rounds it. DuckDB's direct cast of a
    * wide value rounds twice: a DECIMAL(38,4) sum of squares
    * 2224071148386123.1690 becomes …123.0, not the nearest double
    * …123.2, and a HUGEINT −19399967019787510 becomes
    * −1.9399967019787508e16, not −1.939996701978751e16. Its exact
    * decimal text parses to the nearest double. */
  def sqlExactDouble(e: String): String =
    s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
  def sqlDavg(col: String): String =
    s"CAST(sum(CAST($col AS DECIMAL(18,2))) AS DOUBLE) / count($col)"

  /** TPC-H revenue item l_extendedprice × (1 − l_discount), exact in
    * decimal — the money discipline shared by every TPC-H-shaped query
    * (Relational.scala, TpchDecision.scala) and its oracle mirror. One
    * definition so a precision change can never make the two query
    * families diverge from each other. */
  def revenueItem: Column =
    col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1) - col("l_discount").cast(DecimalType(18, 2)))
  val sqlRevenueItem: String =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
}
