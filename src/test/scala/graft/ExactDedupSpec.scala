package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** q_exact_dedup and q_dedup_savings on hand-made `documents` tables
  * with repeated texts, checked against a plain-Scala recount: the test
  * data at sf0.001 and sf0.01 holds no repeated text, so the oracle
  * there only ever sees all-unique corpora. A null text hashes to null,
  * and both engines group the null texts of a source together, so the
  * recount does too. */
class ExactDedupSpec extends AnyFunSuite {
  import SparkTestSession._
  import ExactDedupSpec.Doc

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))

  /** A test-data directory whose `documents` holds `rows` of
    * (text, source), with doc_ids 0.. in order, and the rows as docs. */
  private def docsDir(rows: (String, String)*): (String, Seq[Doc]) = {
    val dir = Files.createTempDirectory("graft_exact_dedup")
    val docs = rows.zipWithIndex.map { case ((t, s), i) => Doc(i.toLong, Option(t), s) }
    val data = docs.map(d => Row(d.id, d.text.orNull, d.source))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), docSchema)
      .write.parquet(dir.resolve("documents.parquet").toString)
    (dir.toString, docs)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def tokenCount(s: String): Long = s.split("[ \t\n\f\r]+").count(_.nonEmpty).toLong

  private def exactDedup(docs: Seq[Doc]): Seq[Row] = {
    val keeper = docs.groupBy(_.text).map { case (t, ds) => t -> ds.map(_.id).min }
    docs.sortBy(_.id).map { d =>
      val k = keeper(d.text)
      Row(d.id, d.text.map(md5Hex).orNull, k, if (d.id != k) 1 else 0)
    }
  }

  private def dedupSavings(docs: Seq[Doc]): Seq[Row] =
    docs.groupBy(_.source).toSeq.sortBy(_._1).map { case (src, ds) =>
      val groups = ds.groupBy(_.text).values.toSeq
      val all = ds.flatMap(_.text).map(tokenCount)
      val kept = groups.flatMap(_.minBy(_.id).text).map(tokenCount)
      val nTokens = if (all.isEmpty) None else Some(all.sum)
      val nKept = if (kept.isEmpty) None else Some(kept.sum)
      val frac = for (k <- nKept; a <- nTokens) yield 1.0 - k.toDouble / a
      Row(src, ds.size.toLong, groups.size.toLong, nTokens.map(Long.box).orNull,
        nKept.map(Long.box).orNull, frac.map(Double.box).orNull)
    }

  private def check(rows: (String, String)*): Unit = {
    val (dir, docs) = docsDir(rows: _*)
    try {
      assert(SparkEntry.queries("q_exact_dedup")(spark, dir).collect().toSeq == exactDedup(docs))
      assert(SparkEntry.queries("q_dedup_savings")(spark, dir).collect().toSeq == dedupSavings(docs))
    } finally Materializer.clear()
  }

  test("repeats within one source") {
    check("a b c" -> "web", "a b c" -> "web", "x y" -> "web", "a b c" -> "web",
      "q" -> "news")
  }

  test("repeats across sources") {
    check("same text here" -> "web", "same text here" -> "news", "solo" -> "news",
      "same text here" -> "code", "two  spaces" -> "code", "two  spaces" -> "web")
  }

  test("null texts") {
    check((null, "web"), ("t u v", "web"), (null, "web"), (null, "news"),
      ("t u v", "news"), (null, "code"))
  }

  test("a single row") {
    check("only one document" -> "web")
  }

  test("one table with every case") {
    check("a b" -> "web", "a b" -> "web", "a b" -> "news", (null, "news"),
      ("c d e", "code"), (null, "news"), ("a b", "code"), ("f", "news"))
  }
}

object ExactDedupSpec {
  private final case class Doc(id: Long, text: Option[String], source: String)
}
