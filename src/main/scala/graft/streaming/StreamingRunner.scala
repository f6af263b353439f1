package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.config.PipelineConfig
import graft.pipeline.TranscriptPipeline
import graft.sink.TableIO

/** Structured-Streaming variant of the pipeline (SURVEY.md §2.11).
  *
  * The reference is wall-clock micro-batched (3 s sink flush,
  * `FlusherSLS.cpp:46`; Go flush timer `plugin_runner_v1.go:189`) with
  * no event-time semantics — the exact shape of Spark's
  * processing-time-trigger + `foreachBatch`. Each micro-batch reuses
  * THE SAME batch operators and the same resumable fan-out writer, with
  * the micro-batch id folded into the lineage run id: a replayed batch
  * (at-least-once source) re-overwrites its own (sink, bucket)
  * partitions — idempotent, so end-to-end effectively-once, mirroring
  * the reference's range-checkpoint design
  * (`ExactlyOnceQueueManager.h:41-56`) with the streaming checkpoint
  * taking the role of the file-offset checkpoint
  * (`CheckPointManager.h:40-52`).
  */
object StreamingRunner {

  /** Fan-out sink via foreachBatch + the resumable writer, over a
    * pipeline spec (by default the transcript pipeline) — the processor
    * line and router are the identical plan to batch (the operators are
    * all stateless projections/joins). The spec's `sink` section names
    * the table, its bucket keys and count. */
  def fanOutWriter(stream: DataFrame, io: TableIO, runPrefix: String,
      trigger: Trigger = Trigger.ProcessingTime("3 seconds"),
      checkpoint: Option[String] = None,
      spec: PipelineConfig.Spec = TranscriptPipeline.spec)
      : DataStreamWriter[Row] = {
    val writer = spec.writer(io)
    val w = spec(stream).writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writer.write(batch, s"$runPrefix-$batchId",
          batchPartition = Seq("__batch__" -> batchId)): Unit
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))
  }

  /** Event-time per-sink aggregates with watermarked 5-minute windows —
    * the north star's time-bucket counts as a streaming query. (The
    * reference has no event-time windows; this is the Spark-native
    * extension point, trivially added because the batch aggregate is
    * declarative.) */
  def windowedAggregates(stream: DataFrame, watermark: String = "1 hour",
      bucket: String = "5 minutes"): DataFrame =
    TranscriptPipeline(stream)
      .withWatermark("ts", watermark)
      .groupBy(col("__sink__"), window(col("ts"), bucket), col("tool"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("__sink__"), col("window.start").as("bucket"),
        col("tool"), col("n_events"))
}
