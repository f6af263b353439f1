package graft.run

import org.apache.spark.sql.DataFrame
import graft.config.PipelineConfig
import graft.ops.AggOps
import graft.pipeline.TranscriptPipeline
import graft.sink.{FanOutWriter, Metrics, TableIO}

/** Batch job entry: any pipeline spec — by default the north-star
  * transcripts → parse → enrich → route — then resumable fan-out write
  * → per-sink aggregates → self-metrics, as one run. The spec's `sink`
  * section names the table, its bucket keys and count, and the
  * aggregate time bucket.
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
    val sink = spec.sink.getOrElse(throw new IllegalArgumentException(
      "pipeline spec has no 'sink' section"))
    val writer = FanOutWriter(io, table = sink.table,
      numBuckets = sink.numBuckets, bucketKeys = sink.bucketKeys,
      sinks = spec.declaredSinks)

    val written = writer.write(spec(input), runId, maxBuckets)

    if (maxBuckets == Int.MaxValue) {
      // aggregates + self-metrics from the durably written table
      val back = io.read(input.sparkSession, sink.table)
      sink.aggBucket.foreach(b =>
        io.overwrite(AggOps.sinkAggregates(back, bucket = b),
          "sink_aggregates"))
      if (written > 0) Metrics.record(io, runId, back, sink.bucketKeys)
      RunResult(runId, written, complete = true)
    } else RunResult(runId, written, complete = false)
  }
}
