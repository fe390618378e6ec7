package graft

import org.apache.spark.sql.SparkSession

/** The session factory for graft's mains (the frozen [[Bench]] and
  * [[Verify]] keep their own copies of the same settings). It holds the
  * join-planning posture the pipeline is tuned for: AQE with skew-join
  * splitting, no STATIC auto-broadcast (UDF-derived size estimates are
  * unreliable), a 32 MB runtime broadcast budget from real stage sizes,
  * UTC session time and no UI. The caller adds its own master (none for
  * `spark-submit`) and `spark.local.dir`. */
object Sessions {
  def builder(app: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(app)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "33554432")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
