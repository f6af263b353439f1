package graft.run

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.config.PipelineConfig
import graft.pipeline.{CurationPipeline, TranscriptPipeline}
import graft.sink.TableIO
import graft.sources.Transcripts

/** One runner for every batch job: each built-in spec (transcript,
  * curation) and its config file are the same job, table for table. */
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
    val docs = {
      val s = spark
      import s.implicits._
      // 60 documents: 10, 20, 40 and 50 repeat 9, 19, 39 and 49
      // verbatim; 30 and 60 are 29 and 59 plus one word
      (1 to 60).map { i =>
        val k = if (i % 10 == 0) i - 1 else i
        (i.toLong, s"document $k discusses subject$k with distinct words " +
          s"alpha$k beta$k gamma$k delta$k epsilon$k" +
          (if (i % 15 == 0) " indeed" else ""))
      }.toDF("doc_id", "text")
    }
    val transcripts = Transcripts.generate(spark, 200, seed = 13)
    // (input, built-in spec, its config file, sinks, rows written)
    Seq(
      (transcripts, TranscriptPipeline.spec,
        "examples/transcript_pipeline.yaml", 4, transcripts.count()),
      (docs, CurationPipeline.spec, "examples/curation_pipeline.yaml", 1, 54L)
    ).foreach { case (input, builtIn, file, nSinks, nRows) =>
      val yaml = PipelineConfig.parse(Files.readString(Paths.get(file)))
      assert(yaml.sink == builtIn.sink)
      assert(yaml.declaredSinks.sorted == builtIn.declaredSinks.sorted)

      val roots = Seq(builtIn, yaml).map { spec =>
        val dir = Files.createTempDirectory("graft-runner").toString
        val res = PipelineRunner.run(input, TableIO(dir), "run-eq", spec = spec)
        assert(res.complete && res.bucketsWritten > 0)
        dir
      }
      def table(dir: String, t: String) = spark.read.parquet(s"$dir/$t")
      val out = builtIn.sink.get

      val routed = roots.map(d => rows(table(d, out.table)))
      assert(routed(0).size == nRows)
      assert(routed(0) == routed(1))
      val lineage = roots.map(d => rows(table(d, "_lineage")
        .select("sink", "bucket", "n_rows", "content_hash")))
      assert(lineage(0).size == nSinks * out.numBuckets)
      assert(lineage(0) == lineage(1))
      if (out.aggBucket.nonEmpty) {
        val aggs = roots.map(d => rows(table(d, "sink_aggregates")))
        assert(aggs(0).nonEmpty && aggs(0) == aggs(1))
      }
      val metrics = roots.map(d => rows(table(d, "_metrics")))
      assert(metrics(0).nonEmpty && metrics(0) == metrics(1))
    }
  }
}
