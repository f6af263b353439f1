package graft.sink

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.pipeline.TranscriptPipeline
import graft.run.PipelineRunner
import graft.sources.Transcripts

/** Fan-out write + lineage checkpoint + idempotent resume (north rule:
  * kill mid-run → rerun → byte-identical sinks). */
class FanOutResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(): String =
    Files.createTempDirectory("graft-sink").toString

  private def input = Transcripts.generate(spark, 300, seed = 7)

  /** The transcript pipeline with `n` buckets per sink. */
  private def buckets(n: Int) = {
    val spec = TranscriptPipeline.spec
    spec.copy(sink = spec.sink.map(_.copy(numBuckets = n)))
  }

  private def routedFingerprint(dir: String): (Long, Long) = {
    val back = spark.read.parquet(s"$dir/events_routed")
    val cols = back.columns.sorted.map(c => col(c).cast("string"))
    val r = back.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  test("full run writes every routed row exactly once, partitioned by sink/bucket") {
    val dir = tmp()
    val res = PipelineRunner.run(input, TableIO(dir), "run-a", spec = buckets(8))
    assert(res.complete)
    val back = spark.read.parquet(s"$dir/events_routed")
    assert(back.count() == TranscriptPipeline(input).count())
    assert(back.select("__sink__").distinct().collect().map(_.getString(0)).toSet
      == Set("sink_llm", "sink_infra", "sink_user"))
    // lineage has one row per (sink, bucket) partition with counts
    val lin = spark.read.parquet(s"$dir/_lineage")
    val linTotal = lin.agg(sum("n_rows")).collect().head.getLong(0)
    assert(linTotal == back.count())
    // pack ids deterministic + unique per coordinate
    assert(lin.select("pack_id").distinct().count() == lin.count())
  }

  test("partial run + resume == clean one-shot run (byte-identical sinks)") {
    val dirA = tmp(); val dirB = tmp()
    // clean one-shot
    PipelineRunner.run(input, TableIO(dirA), "run-clean", spec = buckets(8))
    // crash after 5 of ~24 (sink,bucket) partitions
    val r1 = PipelineRunner.run(input, TableIO(dirB), "run-crash",
      maxBuckets = 5, spec = buckets(8))
    assert(!r1.complete && r1.bucketsWritten == 5)
    // resume to completion
    val r2 = PipelineRunner.run(input, TableIO(dirB), "run-crash", spec = buckets(8))
    assert(r2.complete)
    assert(routedFingerprint(dirA) == routedFingerprint(dirB))
  }

  test("re-running a completed run is a no-op (idempotent)") {
    val dir = tmp()
    PipelineRunner.run(input, TableIO(dir), "run-x", spec = buckets(8))
    val fp1 = routedFingerprint(dir)
    val res = PipelineRunner.run(input, TableIO(dir), "run-x", spec = buckets(8))
    assert(res.bucketsWritten == 0)
    assert(routedFingerprint(dir) == fp1)
    // lineage not duplicated
    val lin = spark.read.parquet(s"$dir/_lineage")
    assert(lin.select("sink", "bucket").distinct().count() == lin.count())
  }

  test("a file:// root resumes: rerun is a no-op, partial + resume == one-shot") {
    // lineage is found through the Hadoop FileSystem API, so a URI root
    // resumes exactly like a plain path (it once re-wrote every bucket)
    val dirA = tmp(); val dirB = tmp()
    val ioA = TableIO("file://" + dirA); val ioB = TableIO("file://" + dirB)
    def linRows(dir: String) = spark.read.parquet(s"$dir/_lineage").count()
    PipelineRunner.run(input, ioA, "run-uri", spec = buckets(8))
    val fp = routedFingerprint(dirA)
    val lin = linRows(dirA)
    val again = PipelineRunner.run(input, ioA, "run-uri", spec = buckets(8))
    assert(again.bucketsWritten == 0)
    assert(linRows(dirA) == lin)
    assert(routedFingerprint(dirA) == fp)
    val r1 = PipelineRunner.run(input, ioB, "run-uri",
      maxBuckets = 5, spec = buckets(8))
    assert(!r1.complete && r1.bucketsWritten == 5)
    val r2 = PipelineRunner.run(input, ioB, "run-uri", spec = buckets(8))
    assert(r2.complete && r2.bucketsWritten == lin - 5)
    assert(routedFingerprint(dirB) == fp)
  }

  test("a later run owns its declared partition space: empty sinks clear + zero-row lineage") {
    val s = spark; import s.implicits._
    val dir = tmp(); val io = TableIO(dir)
    def writer = FanOutWriter(io, numBuckets = 2, sinks = Seq("a", "b"))
    val both = Seq(("c1", "a", "x"), ("c2", "b", "y"))
      .toDF("conv_id", "__sink__", "payload")
    writer.write(both, "run-1")
    assert(spark.read.parquet(s"$dir/events_routed")
      .select("__sink__").distinct().count() == 2)
    // run-2 routes nothing to sink b: its attempted b-partitions must
    // come back EMPTY (not retain run-1 rows) with zero-row lineage
    val onlyA = Seq(("c3", "a", "z")).toDF("conv_id", "__sink__", "payload")
    writer.write(onlyA, "run-2")
    val back = spark.read.parquet(s"$dir/events_routed")
    assert(back.where(col("__sink__") === "b").count() == 0)
    assert(back.count() == 1)
    val lin = spark.read.parquet(s"$dir/_lineage")
      .where(col("run_id") === "run-2")
    assert(lin.count() == 4) // 2 sinks x 2 buckets, all attempted
    assert(lin.where(col("sink") === "b").agg(sum("n_rows"))
      .collect().head.getLong(0) == 0)
  }

  test("a zero-row run empties its partition space without crashing; lineage all-zero") {
    val s = spark; import s.implicits._
    val dir = tmp(); val io = TableIO(dir)
    def writer = FanOutWriter(io, numBuckets = 2, sinks = Seq("a", "b"))
    val both = Seq(("c1", "a", "x"), ("c2", "b", "y"))
      .toDF("conv_id", "__sink__", "payload")
    writer.write(both, "run-1")
    // run-2 has NO rows at all: the attempted space is cleared, the
    // schema-less read-back must not throw, lineage records zeros
    writer.write(both.limit(0), "run-2")
    val lin = spark.read.parquet(s"$dir/_lineage")
      .where(col("run_id") === "run-2")
    assert(lin.count() == 4)
    assert(lin.agg(sum("n_rows")).collect().head.getLong(0) == 0)
  }

  test("an undeclared routed sink fails the write loudly, never silently drops") {
    val s = spark; import s.implicits._
    val io = TableIO(tmp())
    val data = Seq(("c1", "rogue", "x")).toDF("conv_id", "__sink__", "payload")
    val e = intercept[Exception] {
      FanOutWriter(io, numBuckets = 2, sinks = Seq("a", "b"))
        .write(data, "run-x")
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + " " + messages(t.getCause)
    assert(messages(e).contains("rogue"))
  }

  test("aggregates table reflects exactly the written sinks") {
    val dir = tmp()
    PipelineRunner.run(input, TableIO(dir), "run-agg", spec = buckets(8))
    val aggs = spark.read.parquet(s"$dir/sink_aggregates")
    val total = aggs.agg(sum("n_events")).collect().head.getLong(0)
    assert(total == spark.read.parquet(s"$dir/events_routed").count())
  }

  test("self-metrics table: per (sink, fmt) counts sum to total; parse failures surfaced") {
    val dir = tmp()
    val io = TableIO(dir)
    PipelineRunner.run(input, io, "run-m", spec = buckets(4))
    val m = spark.read.parquet(s"$dir/_metrics")
    val total = m.agg(sum("n_events")).collect().head.getLong(0)
    assert(total == spark.read.parquet(s"$dir/events_routed").count())
    // garbage lines exist in the synthetic mix -> raw fmt failures > 0
    assert(Metrics.parseFailures(spark, io, "run-m") > 0)
    assert(m.select("fmt").distinct().count() >= 4) // nginx/json/kv/csv/raw...
  }

  test("lineage content_hash is source-independent (column order / int-vs-long)") {
    // the main path hashes read-back parquet, fallbacks hash the input
    // plan — identical content must hash equal through either shape
    val dir = tmp()
    val io = TableIO(dir)
    val sqlc = spark
    import sqlc.implicits._
    val a = Seq(("s1", 0, 7L, "x"), ("s1", 1, 8L, "y"))
      .toDF("__sink__", "__bucket__", "batch", "payload")
    // reordered columns, batch narrowed to int (parquet read-back shape)
    val b = a.select(col("payload"), col("batch").cast("int").as("batch"),
      col("__sink__"), col("__bucket__"))
    Lineage.record(io, "run-h1", a)
    Lineage.record(io, "run-h2", b)
    val lin = spark.read.parquet(s"$dir/_lineage")
      .select("run_id", "sink", "bucket", "n_rows", "content_hash")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(lin(("run-h1", "s1", 0)) == lin(("run-h2", "s1", 0)))
    assert(lin(("run-h1", "s1", 1)) == lin(("run-h2", "s1", 1)))
  }

  test("maxRecordsPerFile bounds rows per file (LogGroup batching parity)") {
    val dir = tmp()
    val io = TableIO(dir, maxRecordsPerFile = 200)
    PipelineRunner.run(input, io, "run-files", spec = buckets(2))
    val files = new java.io.File(s"$dir/events_routed")
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val perFile = parquetFiles(files).map { f =>
      spark.read.parquet(f.getAbsolutePath).count()
    }
    assert(perFile.nonEmpty && perFile.forall(_ <= 200))
  }
}
