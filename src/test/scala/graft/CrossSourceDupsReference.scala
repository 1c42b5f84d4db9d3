package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.documents

/** The self-join formulation of `Dedup.crossSourceDups`: the (hash,
  * source) counts joined to themselves on the hash for the a ≤ b pair
  * counts, left-joined onto a distinct-source spine for the zeros. Its
  * plan scans `documents` three times. It is the equality reference
  * CrossSourceDupsSpec holds the single-scan formulation to; nothing
  * else uses it. */
object CrossSourceDupsReference {
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val hs = documents(spark, dir)
      .select(md5(col("text")).as("h"), col("source"))
      .groupBy(col("h"), col("source")).agg(count(lit(1)).as("c"))
    val m = hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.source") <= col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        when(col("a.source") === col("b.source"),
          expr("a.c * (a.c - 1) div 2"))
          .otherwise(col("a.c") * col("b.c")).as("pairs"))
      .filter(col("pairs") > 0)
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("pairs")).as("n_dup_pairs"), count(lit(1)).as("n_groups"))
    val src = documents(spark, dir).select(col("source")).distinct()
    src.as("x").join(src.as("y"), col("x.source") <= col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .join(m, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_groups"), lit(0L)).as("n_groups"))
      .orderBy("source_a", "source_b")
  }
}
