package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** A Materializer copy is keyed by the subtree it holds and the stamp of
  * the files that subtree reads; no caller names it. */
class MaterializerSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def copyDir(df: DataFrame): Set[String] =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.toString).toSet

  test("two different subtrees over one table never share a copy") {
    val dir = Files.createTempDirectory("graft-matkeys").toString
    (1L to 10L).toDF("x").write.parquet(s"$dir/t.parquet")
    def t: DataFrame = Tables.table(spark, dir, "t")
    val subtrees: Seq[(() => DataFrame, Seq[Long])] = Seq(
      (() => t.filter(col("x") > 7), Seq(8L, 9L, 10L)),
      (() => t.filter(col("x") > 8), Seq(9L, 10L)),
      (() => t.filter(col("x") < 3), Seq(1L, 2L)),
      // same output name and type as the scans above
      (() => t.select((col("x") * 10).as("x")).filter(col("x") > 90), Seq(100L)),
      (() => t.agg(max(col("x")).as("x")), Seq(10L)),
      (() => t.agg(min(col("x")).as("x")), Seq(1L)))
    Materializer.clear()
    try {
      val copies = subtrees.map { case (build, want) =>
        val c = Materializer.materialize(build())
        assert(c.as[Long].collect().toSeq.sorted == want)
        copyDir(c)
      }
      assert(copies.distinct.size == subtrees.size, s"copies shared: $copies")
      assert(Materializer.liveCopies == subtrees.size)
      // each subtree built again reuses its own copy
      for (((build, _), dirs) <- subtrees.zip(copies))
        assert(copyDir(Materializer.materialize(build())) == dirs)
      assert(Materializer.liveCopies == subtrees.size)
      // a scan of a copy is returned as it is
      val again = Materializer.materialize(Materializer.materialize(subtrees.head._1()))
      assert(copyDir(again) == copies.head && Materializer.liveCopies == subtrees.size)
    } finally Materializer.clear()
  }

  test("subtrees that differ only in output names never share a copy") {
    val dir = Files.createTempDirectory("graft-matnames").toString
    (1L to 4L).map(x => (x, x * 10)).toDF("x", "y").write.parquet(s"$dir/t.parquet")
    def t: DataFrame = Tables.table(spark, dir, "t")
    // canonicalization erases alias names, so these pairs canonicalize equal
    val renamed = Seq(t.select(col("x").as("a")), t.select(col("x").as("b")))
    val swapped = Seq(t.select(col("x").as("a"), col("y").as("b")),
                      t.select(col("x").as("b"), col("y").as("a")))
    val aggs = Seq(t.agg(max(col("x")).as("hi"), min(col("x")).as("lo")),
                   t.agg(max(col("x")).as("lo"), min(col("x")).as("hi")))
    Materializer.clear()
    try {
      val all = (renamed ++ swapped ++ aggs).map(Materializer.materialize)
      assert(all.map(copyDir).distinct.size == all.size)
      assert(all.map(_.columns.toSeq) ==
        Seq(Seq("a"), Seq("b"), Seq("a", "b"), Seq("b", "a"), Seq("hi", "lo"), Seq("lo", "hi")))
      assert(all(1).select(col("b")).as[Long].collect().toSeq.sorted == Seq(1L, 2L, 3L, 4L))
      assert(all(2).select(col("a"), col("b")).as[(Long, Long)].collect().toSeq.sorted ==
        (1L to 4L).map(x => (x, x * 10)))
      assert(all(3).select(col("b"), col("a")).as[(Long, Long)].collect().toSeq.sorted ==
        (1L to 4L).map(x => (x, x * 10)))
      assert(all(4).select(col("hi"), col("lo")).as[(Long, Long)].collect().toSeq == Seq((4L, 1L)))
      assert(all(5).select(col("lo"), col("hi")).as[(Long, Long)].collect().toSeq == Seq((4L, 1L)))
    } finally Materializer.clear()
  }

  /** Copies one build of each query writes at the test scale factor.
    * q_leakage_safe_split builds its near-dup pair set in 10 calls that
    * need 6 copies; q_semantic_dedup writes its IVF assignment once. */
  for ((name, copies) <- Seq("q_leakage_safe_split" -> 6, "q_semantic_dedup" -> 1))
    test(s"$name writes $copies Materializer ${if (copies == 1) "copy" else "copies"}") {
      Materializer.clear()
      try {
        SparkEntry.queries(name)(spark, sf)
        assert(Materializer.liveCopies == copies)
      } finally Materializer.clear()
    }

  test("the corpus count follows an embeddings table rewritten in place") {
    val dir = Files.createTempDirectory("graft-nvec")
    def write(n: Int): Unit =
      spark.range(n).select(col("id").as("vec_id"),
          array(col("id").cast("float"), lit(1.0f)).as("embedding"))
        .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
    write(12)
    assert(Similarity.nVecOf(spark, dir.toString) == 12)
    write(30)
    assert(Similarity.nVecOf(spark, dir.toString) == 30)
  }
}
