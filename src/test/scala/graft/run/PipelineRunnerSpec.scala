package graft.run

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.config.PipelineConfig
import graft.pipeline.TranscriptPipeline
import graft.sink.TableIO
import graft.sources.Transcripts

/** One pipeline, one runner: the built-in transcript spec and its config
  * file are the same job, table for table. */
class PipelineRunnerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Every row of `df` as a sorted list of strings, columns by name. */
  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(c => col(c).cast("string")): _*).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq
  }

  test("TranscriptPipeline.spec and examples/transcript_pipeline.yaml " +
    "write identical routed, lineage, aggregate and metrics tables") {
    val input = Transcripts.generate(spark, 200, seed = 13)
    val yaml = PipelineConfig.parse(
      Files.readString(Paths.get("examples/transcript_pipeline.yaml")))
    assert(yaml.sink == TranscriptPipeline.spec.sink)
    assert(yaml.declaredSinks.sorted ==
      TranscriptPipeline.spec.declaredSinks.sorted)

    val roots = Seq(TranscriptPipeline.spec, yaml).map { spec =>
      val dir = Files.createTempDirectory("graft-runner").toString
      val res = PipelineRunner.run(input, TableIO(dir), "run-eq", spec = spec)
      assert(res.complete && res.bucketsWritten > 0)
      dir
    }
    def table(dir: String, t: String) = spark.read.parquet(s"$dir/$t")

    val routed = roots.map(d => rows(table(d, "events_routed")))
    assert(routed(0).size == input.count())
    assert(routed(0) == routed(1))
    val lineage = roots.map(d => rows(table(d, "_lineage")
      .select("sink", "bucket", "n_rows", "content_hash")))
    assert(lineage(0).size == 4 * 32)
    assert(lineage(0) == lineage(1))
    val aggs = roots.map(d => rows(table(d, "sink_aggregates")))
    assert(aggs(0).nonEmpty && aggs(0) == aggs(1))
    val metrics = roots.map(d => rows(table(d, "_metrics")))
    assert(metrics(0).nonEmpty && metrics(0) == metrics(1))
  }
}
