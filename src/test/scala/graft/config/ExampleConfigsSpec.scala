package graft.config

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.monotonically_increasing_id
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.sources.Transcripts

/** Every shipped example config must parse and run over the synthetic
  * transcript table (parity with the reference's example_config/ dir,
  * whose files its e2e suite loads). */
class ExampleConfigsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def exampleFiles: Seq[Path] = {
    val dir = Paths.get("examples")
    Files.list(dir).iterator.asScala
      .filter(_.toString.endsWith(".yaml")).toSeq.sortBy(_.toString)
  }

  test("all example YAMLs parse and execute over transcripts") {
    // doc_id: the curation stages key documents by it
    val input = Transcripts.generate(spark, 40, seed = 9)
      .withColumn("doc_id", monotonically_increasing_id())
    assert(exampleFiles.nonEmpty)
    exampleFiles.foreach { f =>
      val spec = PipelineConfig.parse(Files.readString(f))
      val out = spec(input)
      assert(out.columns.nonEmpty, s"$f produced no columns")
      out.write.format("noop").mode("overwrite").save() // must execute
    }
  }

  test("influx_export.yaml emits well-formed line protocol for the " +
    "latency metrics") {
    val input = Transcripts.generate(spark, 40, seed = 9)
    val spec = PipelineConfig.parse(
      Files.readString(Paths.get("examples/influx_export.yaml")))
    val lines = spec(input).select("line").collect().map(_.getString(0))
    assert(lines.nonEmpty)
    // latency_ms,role=…,tool=… value=<float> <seconds>
    assert(lines.forall(
      _.matches("""latency_ms,role=\S+,tool=\S+ value=\S+ \d+""")))
  }

  test("transcript_pipeline.yaml routes every role to its configured sink") {
    val input = Transcripts.generate(spark, 40, seed = 9)
    val spec = PipelineConfig.parse(
      Files.readString(Paths.get("examples/transcript_pipeline.yaml")))
    val out = spec(input)
    val sinks = out.groupBy("role", "__sink__").count().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sinks("assistant") == "sink_llm")
    assert(sinks("tool") == "sink_infra")
    assert(sinks("user") == "sink_user")
    assert(spec.sink.exists(_.table == "events_routed"))
  }
}
