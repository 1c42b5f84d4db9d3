package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("custom expressions are callable from SQL once registered") {
    val r = spark.sql(
      """SELECT poly_hash('hello') AS p,
        |       dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |             array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |       size(token_hashes('a b c')) AS nt,
        |       size(shingle_hashes('a b c d')) AS ns,
        |       token_count(' a  b c ') AS tc,
        |       stop_count('the cat the dog', 'the', 'cat') AS sc""".stripMargin).first()
    assert(r.getLong(0) == 99162322L)
    assert(r.getDouble(1) == 11.0)
    assert(r.getInt(2) == 3 && r.getInt(3) == 2)
    assert(r.getLong(4) == 3L && r.getLong(5) == 3L)
    // the custom AGGREGATE registers too: one sketch over 3 keys
    val sk = spark.sql(
      "SELECT cms_sketch(CAST(id AS BIGINT)) AS sk FROM range(3)")
      .first().getSeq[Long](0)
    assert(sk.sum == 3L * graft.functions.CountMinSketchAgg.D)
  }

  test("non-string input to text expressions fails at analysis, not execution") {
    // checkInputDataTypes: an INT child must be rejected when the plan is
    // analyzed — previously it surfaced as a ClassCastException mid-task
    for (call <- Seq("token_count(42)", "stop_count(42, 'the')", "poly_hash(42)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $call").collect()
      }
      assert(e.getMessage.toLowerCase.contains("string"), s"$call: ${e.getMessage}")
    }
  }

  test("GraftSession.builder carries the engine configuration") {
    // the suite's session is built by GraftSession.builder(4), so its
    // conf is the configuration every main and the benchmark run under
    def conf(k: String): Option[String] = spark.conf.getOption(k)
    assert(conf("spark.serializer").contains("org.apache.spark.serializer.KryoSerializer"))
    assert(conf("spark.sql.session.timeZone").contains("UTC"))
    assert(conf("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
    assert(conf("spark.sql.extensions").contains(classOf[GraftExtensions].getName))
    assert(conf("spark.sql.shuffle.partitions").contains("4"))
    assert(conf("spark.hadoop.fs.file.impl").contains(classOf[ForkFreeLocalFileSystem].getName))
    assert(conf("spark.hadoop.fs.AbstractFileSystem.file.impl")
      .contains(classOf[ForkFreeLocalFs].getName))
    assert(conf("spark.sql.codegen.cache.maxEntries")
      .contains(GraftSession.CodegenCacheEntries.toString))
    assert(GraftExtensions.functions.map(_._1).toSet ==
      Set("dot_f", "poly_hash", "token_hashes", "shingle_hashes", "cms_sketch",
        "token_count", "stop_count"))
  }

  test("file: paths resolve to the fork-free filesystem through both Hadoop clients") {
    val hconf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), hconf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hconf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }

  test("the session must come before the first cached file: filesystem") {
    // Hadoop caches one FileSystem per scheme and user and ignores the
    // conf of later calls: once the session's filesystem is cached, a
    // conf that never heard of it gets the same instance...
    val cached = FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
    assert(cached.isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.get(URI.create("file:///"), new Configuration()) eq cached)
    // ...and in the other order the stock class would stick: an
    // uncached instance from a plain conf is not the fork-free one
    val stock = FileSystem.newInstance(URI.create("file:///"), new Configuration())
    try assert(!stock.isInstanceOf[ForkFreeLocalFileSystem]) finally stock.close()
  }
}
