package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** A parquet input the session already knows is read without a Spark
  * job: [[Tables.table]] reuses the schema it inferred for an unchanged
  * input, and [[Materializer.materialize]] reads its copy back with the
  * schema it wrote. A plain `read.parquet` runs a one-task job per read
  * to infer the schema from a footer. Each test counts the jobs its own
  * thread launches. */
class SchemaReuseSpec extends AnyFunSuite {
  import SparkTestSession._

  private def jobsOf[A](body: => A): (A, Int) = JobProbe.jobsOf(spark)(body)

  /** Writes `df` as the single parquet file `dir/<name>.parquet`,
    * replacing any file there: the layout of the generated inputs. */
  private def writeTableFile(df: DataFrame, dir: Path, name: String): Unit = {
    val staging = Files.createTempDirectory("graft_schema_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging.resolve("out").toString)
    val part = Files.list(staging.resolve("out")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second read of an unchanged table in the same session launches no job") {
    val dir = Files.createTempDirectory("graft_schema_docs")
    writeTableFile(spark.range(50).selectExpr("id AS doc_id", "concat('doc ', id) AS text"),
      dir, "documents")
    val (first, firstJobs) = jobsOf(Tables.documents(spark, dir.toString))
    val (second, secondJobs) = jobsOf(Tables.documents(spark, dir.toString))
    assert(firstJobs == 1, "the first read infers the schema with one job")
    assert(secondJobs == 0)
    assert(second.schema == first.schema)
    assert(second.orderBy("doc_id").collect().toSeq == first.orderBy("doc_id").collect().toSeq)
  }

  test("a materialized copy is read back with its written schema and no job after its write") {
    val df = spark.range(40).select(
      col("id"),
      (col("id") % 7).cast("decimal(18,2)").as("d"),
      timestamp_micros(col("id") * 1000003L).as("ts"),
      array(struct(col("id").as("k"), array(col("id"), col("id") + 1).as("xs")),
        struct(lit(-1L).as("k"), array(lit(0L)).as("xs"))).as("nested"),
      struct(lit("s").as("tag"), when(col("id") % 2 === 0, col("id")).as("maybe")).as("rec"))
    assert(!df.schema("id").nullable && !df.schema("nested").nullable, "the shape has non-nullable columns")
    Materializer.clear()
    try {
      val (_, writeJobs) = jobsOf(df.write.parquet(Files.createTempDirectory("graft_schema_w")
        .resolve("out").toString))
      val (mat, matJobs) = jobsOf(Materializer.materialize(df))
      assert(matJobs == writeJobs, s"materialize ran $matJobs jobs, its write alone $writeJobs")
      val (again, reuseJobs) = jobsOf(Materializer.materialize(df))
      assert(reuseJobs == 0, "a reused copy is read back without a job")
      val path = new org.apache.hadoop.fs.Path(mat.inputFiles.head).getParent.toString
      val inferred = spark.read.parquet(path).schema
      assert(mat.schema == inferred)
      assert(again.schema == inferred)
      assert(mat.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    } finally Materializer.clear()
  }

  test("a table rewritten in place is inferred again") {
    val dir = Files.createTempDirectory("graft_schema_rewrite")
    writeTableFile(spark.range(10).selectExpr("id AS a", "id * 2 AS b"), dir, "t")
    val before = Tables.table(spark, dir.toString, "t")
    assert(before.columns.toSeq == Seq("a", "b"))
    assert(jobsOf(Tables.table(spark, dir.toString, "t"))._2 == 0)
    writeTableFile(spark.range(10).selectExpr("id AS a", "id * 2 AS b", "id * 3 AS c"), dir, "t")
    val after = Tables.table(spark, dir.toString, "t")
    assert(after.columns.toSeq == Seq("a", "b", "c"))
    assert(after.orderBy("a").select("c").collect().map(_.getLong(0)).toSeq == (0L until 10L).map(_ * 3))
  }

  test("a file added to a table directory makes the next read infer again") {
    val dir = Files.createTempDirectory("graft_schema_add")
    val table = dir.resolve("u.parquet")
    spark.range(10).toDF("a").coalesce(1).write.parquet(table.toString)
    Tables.table(spark, dir.toString, "u")
    assert(jobsOf(Tables.table(spark, dir.toString, "u"))._2 == 0)
    spark.range(10, 15).toDF("a").coalesce(1).write.mode("append").parquet(table.toString)
    val (grown, jobs) = jobsOf(Tables.table(spark, dir.toString, "u"))
    assert(jobs == 1)
    assert(grown.count() == 15)
  }

  /** A one-column parquet file whose `ts` is INT64 TIMESTAMP(NANOS):
    * its inferred type depends on `spark.sql.legacy.parquet.nanosAsLong`. */
  private def nanosTable(dir: Path): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(dir.resolve("ev.parquet").toString))
      .withType(schema).withConf(new Configuration()).build()
    try (0 until 5).foreach(i => w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1000000007L * i)))
    finally w.close()
  }

  test("a schema is never reused in another session or under other parquet confs") {
    val dir = Files.createTempDirectory("graft_schema_nanos")
    nanosTable(dir)
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.conf.get(nanosAsLong) == "true")
    val asLong = Tables.table(spark, dir.toString, "ev").schema
    assert(asLong("ts").dataType == LongType)
    def viaTables(s: SparkSession) = Try(Tables.table(s, dir.toString, "ev").schema)
    def plain(s: SparkSession) = Try(s.read.parquet(dir.resolve("ev.parquet").toString).schema)

    val other = spark.newSession()
    other.conf.set(nanosAsLong, "false")
    assert(plain(other).toOption != Some(asLong), "the conf changes what inference gives")
    assert(viaTables(other).toOption == plain(other).toOption)
    assert(viaTables(other).isSuccess == plain(other).isSuccess)

    val same = spark.newSession()
    assert(viaTables(same).toOption == Some(asLong))
    assert(jobsOf(viaTables(same))._2 == 0, "within one session the schema is reused")
    same.conf.set(nanosAsLong, "false")
    assert(viaTables(same).toOption == plain(same).toOption)
    assert(viaTables(same).isSuccess == plain(same).isSuccess)
  }
}
