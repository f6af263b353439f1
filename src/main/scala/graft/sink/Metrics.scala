package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-run pipeline self-metrics table — the analog of the reference's
  * plugin counters (`pkg/pipeline/self_metrics.go`; e.g.
  * `mOutSuccessfulEventsTotal` / `mDiscardedEventsTotal` incremented per
  * processor, `ProcessorParseRegexNative.cpp:159`), realized as ONE
  * distributed aggregation over the routed output instead of mutable
  * in-process counters: rows per (sink, parse format), parse-failure
  * counts (fmt = raw), distinct conversations — appended to `_metrics`
  * keyed by run id.
  */
object Metrics {

  val table = "_metrics"

  /** Aggregate + append metrics for a routed DataFrame (must carry the
    * `__sink__` column; `fmt` is null when the processor line has no
    * multi-format parse). `n_convs` counts distinct `keys` tuples — the
    * sink's bucket keys, `conv_id` for the transcript pipeline. */
  def record(io: TableIO, runId: String, routed: DataFrame,
      keys: Seq[String]): Unit = {
    val fmt =
      if (routed.columns.contains("fmt")) col("fmt")
      else lit(null).cast("string")
    val rows = routed.groupBy(col("__sink__").as("sink"), fmt.as("fmt"))
      .agg(
        count(lit(1)).as("n_events"),
        count_distinct(col(keys.head), keys.tail.map(col): _*).as("n_convs"))
      .withColumn("run_id", lit(runId))
      .select("run_id", "sink", "fmt", "n_events", "n_convs")
    io.append(rows, table)
  }

  /** Whether `_metrics` holds any row for `runId`. */
  def recorded(spark: SparkSession, io: TableIO, runId: String): Boolean =
    io.exists(spark, table) &&
      !io.read(spark, table).where(col("run_id") === runId).isEmpty

  /** Parse-failure count for a run (fmt = raw rows kept by the
    * keep-source-on-fail contract). */
  def parseFailures(spark: SparkSession, io: TableIO, runId: String): Long =
    io.read(spark, table).where(col("run_id") === runId && col("fmt") === "raw")
      .agg(coalesce(sum("n_events"), lit(0L))).collect().head.getLong(0)
}
