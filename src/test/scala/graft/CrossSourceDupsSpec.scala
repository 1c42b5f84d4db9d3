package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The single-scan `Dedup.crossSourceDups` returns what the self-join
  * formulation ([[CrossSourceDupsReference]]) returns, row for row and
  * in the same order, on hand-made corner cases and the test data. */
class CrossSourceDupsSpec extends AnyFunSuite {
  import SparkTestSession._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))

  /** A test-data directory whose `documents` holds `rows` of
    * (text, source), with doc_ids 0.. in order. */
  private def docsDir(rows: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft_xsrc")
    val data = rows.zipWithIndex.map { case ((t, s), i) => Row(i.toLong, t, s) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), docSchema)
      .write.parquet(dir.resolve("documents.parquet").toString)
    dir.toString
  }

  private def assertSame(dir: String): Seq[Row] = {
    val got = Dedup.crossSourceDups(spark, dir)
    val want = CrossSourceDupsReference.crossSourceDups(spark, dir)
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    val rows = got.collect().toSeq
    assert(rows == want.collect().toSeq)
    rows
  }

  test("empty documents give an empty matrix") {
    assert(assertSame(docsDir()).isEmpty)
  }

  test("one document gives one zero cell") {
    assert(assertSame(docsDir("a b c" -> "web")) == Seq(Row("web", "web", 0L, 0L)))
  }

  test("all texts unique: every source pair gets a row of zeros") {
    val rows = assertSame(docsDir("t1" -> "web", "t2" -> "news", "t3" -> "code", "t4" -> "web"))
    assert(rows.size == 6)
    assert(rows.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L))
  }

  test("one text in three sources") {
    val rows = assertSame(docsDir("same" -> "web", "same" -> "news", "same" -> "code",
      "other" -> "code"))
    assert(rows.filter(r => r.getString(0) != r.getString(1)).map(_.getLong(2)) == Seq(1L, 1L, 1L))
  }

  test("duplicates only inside one source, beside a source with no duplicates") {
    val rows = assertSame(docsDir("x" -> "web", "x" -> "web", "x" -> "web", "y" -> "web",
      "y" -> "web", "z" -> "news"))
    assert(rows == Seq(Row("news", "news", 0L, 0L), Row("news", "web", 0L, 0L),
      Row("web", "web", 4L, 2L)))
  }

  test("null texts share no content and null sources pair with nothing") {
    assertSame(docsDir((null, "web"), (null, "web"), (null, "news"), ("x", null),
      ("x", null), ("x", "news"), ("y", "web"), ("y", "news")))
  }

  // sf0.001 and sf0.01 hold no repeated text; sf0.1 holds 8 repeated texts
  test("the test data at sf0.001 and sf0.1") {
    assertSame(sf)
    assert(assertSame("/root/testdata/sf0.1").exists(_.getLong(2) > 0), "sf0.1 has duplicated pairs")
  }
}
