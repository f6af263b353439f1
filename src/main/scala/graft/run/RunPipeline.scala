package graft.run

import java.nio.file.{Files, Paths}
import graft.config.PipelineConfig
import graft.pipeline.TranscriptPipeline
import graft.sink.TableIO
import graft.sources.Transcripts

/** spark-submit entry point for the batch pipeline job:
  *
  * {{{
  * spark-submit --class graft.run.RunPipeline <jar> \
  *   <inputParquetDir|synthetic:N> <sinkRoot> <runId> [pipelineConfig]
  * }}}
  *
  * `pipelineConfig` is the local path of a YAML/JSON [[PipelineConfig]]
  * file with a `sink:` section; without it the job runs
  * [[TranscriptPipeline.spec]] (`examples/transcript_pipeline.yaml` is
  * the same pipeline as a file). `examples/curation_pipeline.yaml` runs
  * the curation job over a `(doc_id, text)` documents parquet.
  *
  * The same invocation works on a real cluster (`--master yarn/k8s`,
  * any executor count) and on local[N] — the job carries no
  * local-mode assumptions: parallelism comes from the scan and the
  * configured shuffle partitions, resume state lives in the sink-root
  * lineage table, and re-running the same runId after any failure
  * completes exactly the missing (sink, bucket) partitions
  * ([[PipelineRunner]]).
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: RunPipeline <inputDir|synthetic:N> <sinkRoot> <runId> [pipelineConfig]")
    val Array(input, sinkRoot, runId) = args.take(3)
    val spec = args.lift(3)
      .map(p => PipelineConfig.parse(Files.readString(Paths.get(p))))
      .getOrElse(TranscriptPipeline.spec)

    // the shared settings; default shuffle partitions and the UI stay on.
    // spark-submit provides the master; fall back to local[N] when run
    // directly (sbt runMain)
    val builder = graft.GraftSession.shared.appName(s"graft-pipeline-$runId")
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master("local[" +
        sys.env.getOrElse("SPARK_GRAFT_CPUS",
          Runtime.getRuntime.availableProcessors.toString) + "]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val df =
      if (input.startsWith("synthetic:"))
        Transcripts.generate(spark, input.stripPrefix("synthetic:").toLong)
      else spark.read.parquet(input)

    val result = PipelineRunner.run(df, TableIO(sinkRoot), runId, spec = spec)
    println(s"""{"runId":"${result.runId}","bucketsWritten":${result.bucketsWritten},"complete":${result.complete}}""")
    spark.stop()
  }
}
