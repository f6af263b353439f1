package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-oriented defaults every entry point
  * (tests, Verify, Bench, runners) shares.
  *
  * Settings chosen for the 100 TB posture (see SURVEY.md §4):
  *  - AQE on, with partition coalescing and skew-join splitting (hot
  *    conv_ids, north rule),
  *  - UTC session time zone for oracle parity,
  *  - locally ([[builder]]): shuffle partitions sized to cores, no UI.
  */
object GraftSession {
  /** The settings every entry point shares, local or spark-submit. */
  private[graft] def shared: SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")

  def builder(cores: Int): SparkSession.Builder =
    shared
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")

  def get(cores: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
