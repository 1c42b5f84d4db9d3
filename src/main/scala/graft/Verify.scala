package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [query names...] — trailing names restrict
    // the run to a subset (driver passes none → full registry); a typo'd
    // name must fail loudly, not silently produce an empty dump
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queries...]")
    val (Array(sfDir, outDir), subsetNames) = args.splitAt(2)
    val unknown = subsetNames.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val subset = SparkEntry.queries
      .filter { case (n, _) => subsetNames.isEmpty || subsetNames.contains(n) }
    subset.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally Materializer.clear() // per-query scope for temp materializations
    }
    // Bench.js escapes every control char: a tab or CR in an oracle
    // query would otherwise make json.load reject the whole file
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => subsetNames.isEmpty || subsetNames.contains(k) }
      .map { case (k, v) => s"${Bench.js(k)}: ${Bench.js(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
