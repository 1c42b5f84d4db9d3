package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two-join formulation of `StreamingAnalytics.threewayJoin`: two
  * chained stream-stream inner equi-joins on (event_id, ts), each a
  * `StreamingSymmetricHashJoinExec`. It is the equality reference
  * ThreewayJoinSpec holds the keyed assembly to; nothing else uses it. */
object ThreewayJoinReference {
  def threewayJoin(pv: DataFrame, sd: DataFrame, tp: DataFrame): DataFrame = {
    val p = pv.withWatermark("ts", "1 minute")
    val s = sd.withWatermark("ts", "1 minute")
    val t = tp.withWatermark("ts", "1 minute")
    p.join(s, Seq("event_id", "ts"), "inner")
      .join(t, Seq("event_id", "ts"), "inner")
      .withColumn("engagement_score",
        col("page_views") * 0.4 + col("session_duration") * 0.3 +
          col("time_on_page") * 0.3)
  }
}
