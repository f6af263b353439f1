package graft.run

import org.apache.spark.sql.DataFrame
import graft.config.PipelineConfig
import graft.ops.AggOps
import graft.pipeline.TranscriptPipeline
import graft.sink.{Metrics, TableIO}

/** The one batch runner: any pipeline spec — by default the north-star
  * transcripts → parse → enrich → route, or the curation chain
  * ([[graft.pipeline.CurationPipeline.spec]]) — then resumable fan-out
  * write → per-sink aggregates → self-metrics, as one run. The spec's
  * `sink` section names the table, its bucket keys and count, and the
  * aggregate time bucket (no aggregates without one). `_metrics`
  * `n_events` per sink is the row count the run left in that sink.
  *
  * Resume contract: `run(runId)` may be invoked any number of times
  * after any partial failure; completed (sink, bucket) partitions are
  * skipped via the lineage table, incomplete ones are idempotently
  * re-overwritten. After the data write completes, the aggregates table
  * is recomputed FROM THE DURABLY WRITTEN routed table (not the input),
  * so aggregates always reflect exactly what the sinks contain.
  */
object PipelineRunner {

  final case class RunResult(runId: String, bucketsWritten: Int,
    complete: Boolean)

  def run(input: DataFrame, io: TableIO, runId: String,
      maxBuckets: Int = Int.MaxValue,
      spec: PipelineConfig.Spec = TranscriptPipeline.spec): RunResult = {
    val writer = spec.writer(io)

    val written = writer.write(spec(input), runId, maxBuckets)

    if (maxBuckets == Int.MaxValue) {
      // aggregates + self-metrics from the durably written table
      val back = io.read(input.sparkSession, writer.table)
      spec.sink.flatMap(_.aggBucket).foreach(b =>
        io.overwrite(AggOps.sinkAggregates(back, bucket = b),
          "sink_aggregates"))
      if (written > 0) Metrics.record(io, runId, back, writer.bucketKeys)
      RunResult(runId, written, complete = true)
    } else RunResult(runId, written, complete = false)
  }
}
