package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.ops.AggOps
import graft.pipeline.TranscriptPipeline
import graft.sink.TableIO
import graft.sources.Transcripts

final case class Turn(conv_id: String, turn_idx: Int, role: String,
  text: String, tool: String, ts: Timestamp)

/** Structured-Streaming variant: foreachBatch fan-out reusing the batch
  * writer, watermarked window aggregates, token-bucket rate limit. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(1735689600000L + s * 1000) // 2025-01-01

  private def turnsOf(df: org.apache.spark.sql.DataFrame): Seq[Turn] =
    df.as[Turn].collect().toSeq

  /** The transcript spec with `n` buckets per sink. */
  private def buckets(n: Int) = {
    val spec = TranscriptPipeline.spec
    spec.copy(sink = spec.sink.map(_.copy(numBuckets = n)))
  }

  test("foreachBatch fan-out: streaming micro-batches produce the same sinks as batch") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val io = TableIO(dir)
    val input = Transcripts.generate(spark, 60, seed = 3)
    val all = turnsOf(input)
    val (b1, b2) = all.splitAt(all.size / 2)

    val mem = MemoryStream[Turn](spark)
    val q = StreamingRunner.fanOutWriter(mem.toDF(), io, "st",
        spec = buckets(4), trigger = Trigger.ProcessingTime(0L),
        checkpoint = Some(s"$dir/_ckpt"))
      .start()
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(s"$dir/events_routed")
    val batch = TranscriptPipeline(input)
    assert(streamed.count() == batch.count())
    // routed-row-set equality (order-independent)
    val sCols = streamed.columns.sorted
      .filterNot(c => c == "__bucket__" || c == "__batch__")
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.select(xxhash64(sCols.map(c => col(c).cast("string")): _*).as("h"))
        .agg(bit_xor(col("h"))).collect().head.getLong(0)
    assert(fp(streamed) == fp(batch.select(sCols.map(col): _*)))
    // per-micro-batch lineage recorded
    val lin = spark.read.parquet(s"$dir/_lineage")
    assert(lin.select("run_id").distinct().count() >= 1)
  }

  test("query restart from checkpoint: no duplicates, no gaps") {
    val dir = Files.createTempDirectory("graft-restart").toString
    val io = TableIO(dir)
    val input = Transcripts.generate(spark, 40, seed = 21)
    val all = turnsOf(input)
    val (b1, b2) = all.splitAt(all.size / 2)

    val mem = MemoryStream[Turn](spark)
    def startQuery() = StreamingRunner.fanOutWriter(mem.toDF(), io, "rs",
        spec = buckets(2), trigger = Trigger.ProcessingTime(0L),
        checkpoint = Some(s"$dir/_ckpt"))
      .start()

    val q1 = startQuery()
    mem.addData(b1: _*)
    q1.processAllAvailable(); q1.stop()
    // restart against the same checkpoint; only b2 should process
    mem.addData(b2: _*)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()

    val written = spark.read.parquet(s"$dir/events_routed")
    assert(written.count() == TranscriptPipeline(input).count())
    // exactly-once at row granularity: no (conv_id, turn_idx) duplicates
    assert(written.select("conv_id", "turn_idx").distinct().count()
      == written.count())
  }

  test("windowed aggregates: event-time 5-minute buckets with watermark") {
    val mem = MemoryStream[Turn](spark)
    val q = StreamingRunner.windowedAggregates(mem.toDF())
      .writeStream.format("memory").queryName("winagg")
      .outputMode("append").start()
    // two windows: 00:00-00:05 and 00:10-00:15, role=user -> sink_user
    mem.addData(
      Turn("c1", 0, "user", "hi", "none", ts(10)),
      Turn("c1", 1, "user", "hi", "none", ts(20)),
      Turn("c2", 0, "user", "hi", "none", ts(620)))
    q.processAllAvailable()
    // advance watermark far: 2h later closes both windows
    mem.addData(Turn("c9", 0, "user", "hi", "none", ts(7800)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("winagg")
      .select("__sink__", "bucket", "n_events").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    assert(out.contains(("sink_user", ts(0).getTime, 2L)))
    assert(out.contains(("sink_user", ts(600).getTime, 1L)))
  }

  test("streaming dedup: first occurrence wins across micro-batches; " +
    "state holds between batches") {
    val mem = MemoryStream[Turn](spark)
    val q = StreamingDedup.exact(mem.toDF())
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    // batch 1: A twice (within-batch dup) + B
    mem.addData(
      Turn("c1", 0, "user", "doc A", "none", ts(0)),
      Turn("c1", 1, "user", "doc A", "none", ts(1)),
      Turn("c2", 0, "user", "doc B", "none", ts(2)))
    q.processAllAvailable()
    // batch 2: A again (cross-batch dup) + new C
    mem.addData(
      Turn("c3", 0, "user", "doc A", "none", ts(60)),
      Turn("c4", 0, "user", "doc C", "none", ts(61)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("sdedup").select("conv_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(kept == Set(("c1", "doc A"), ("c2", "doc B"), ("c4", "doc C")))
  }

  test("streaming curation composition: the batch quality gate chains " +
    "with cross-batch dedup on a live stream") {
    val mem = MemoryStream[Turn](spark)
    val good = "a perfectly reasonable document with more than ten " +
      "distinct words inside it"
    // the gate is a pure codegen'd filter, so the BATCH operator
    // composes onto a streaming frame unchanged
    val q = StreamingDedup.exact(
      graft.run.CurationPipeline.qualityGate(mem.toDF()))
      .writeStream.format("memory").queryName("scur")
      .outputMode("append").start()
    mem.addData(
      Turn("c1", 0, "user", good, "none", ts(0)),
      Turn("c2", 0, "user", "too short", "none", ts(1))) // gated
    q.processAllAvailable()
    mem.addData(
      Turn("c3", 0, "user", good, "none", ts(60)), // cross-batch dup
      Turn("c4", 0, "user", good + " more", "none", ts(61)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("scur").select("conv_id").collect()
      .map(_.getString(0)).toSet
    assert(kept == Set("c1", "c4"))
  }

  test("streaming dedup within watermark: in-horizon dup drops, " +
    "long-expired key re-admits") {
    val mem = MemoryStream[Turn](spark)
    val q = StreamingDedup.windowed(mem.toDF(), tsCol = "ts",
      delay = "10 seconds")
      .writeStream.format("memory").queryName("sdedupw")
      .outputMode("append").start()
    mem.addData(
      Turn("c1", 0, "user", "doc A", "none", ts(0)),
      Turn("c2", 0, "user", "doc A", "none", ts(3))) // in-horizon dup
    q.processAllAvailable()
    // advance the watermark far past the horizon, then replay the key
    mem.addData(Turn("c9", 0, "user", "doc Z", "none", ts(600)))
    q.processAllAvailable()
    mem.addData(Turn("c3", 0, "user", "doc A", "none", ts(620)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("sdedupw").select("conv_id").collect()
      .map(_.getString(0)).toSet
    // c1 admitted, c2 dropped (same key inside the horizon), c3
    // re-admitted after state eviction
    assert(kept == Set("c1", "c9", "c3"))
  }

  test("token bucket: limit N per period per key, refill over event time, deterministic") {
    // 1 token/sec, capacity 2; events at t=0,0.2,0.4,1.5,10 for key A
    val rows = Seq(
      Turn("A", 0, "user", "e0", "none", new Timestamp(0L)),
      Turn("A", 1, "user", "e1", "none", new Timestamp(200L)),
      Turn("A", 2, "user", "e2", "none", new Timestamp(400L)),
      Turn("A", 3, "user", "e3", "none", new Timestamp(1500L)),
      Turn("A", 4, "user", "e4", "none", new Timestamp(10000L)),
      Turn("B", 0, "user", "f0", "none", new Timestamp(0L)))
    val df = rows.toDF()
    val kept = TokenBucketRateLimit(df, Seq("conv_id"), limit = 2,
        periodSeconds = 2, tieBreak = Seq("turn_idx"))
      .select("conv_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // A: e0 (2->1), e1 (1->0 after +0.2 refill => 1.2 -> keep, 0.2),
    // e2 (+0.2 => 0.4 -> drop), e3 (+1.1 => 1.5 -> keep),
    // e4 (refill to cap 2 -> keep). B independent bucket.
    assert(kept == Set(("A", "e0"), ("A", "e1"), ("A", "e3"), ("A", "e4"),
      ("B", "f0")))
  }

  test("token bucket: adjacent multi-field keys never collide; null field is its own key") {
    // ("ab","c") vs ("a","bc") concatenate identically without length
    // prefixes; a null tool must not collide with the string "null"
    val rows = Seq(
      Turn("ab", 0, "c", "k1", "none", ts(0)),
      Turn("a", 0, "bc", "k2", "none", ts(0)),
      Turn("z", 0, "r", "k3", null, ts(0)),
      Turn("z", 1, "r", "k4", "null", ts(0)))
    val kept = TokenBucketRateLimit(rows.toDF(), Seq("conv_id", "role"),
        limit = 1, periodSeconds = 3600, tieBreak = Seq("turn_idx"))
      .select("text").collect().map(_.getString(0)).toSet
    assert(kept.contains("k1") && kept.contains("k2"))
    val keptTool = TokenBucketRateLimit(rows.toDF(), Seq("tool"),
        limit = 1, periodSeconds = 3600, tieBreak = Seq("turn_idx"))
      .select("text").collect().map(_.getString(0)).toSet
    assert(keptTool.intersect(Set("k3", "k4")) == Set("k3", "k4"))
  }

  test("streaming multiline: an open record carries across micro-batches until its close") {
    val mem = MemoryStream[(String, Long, String)](spark)
    val lines = mem.toDF().toDF("__source__", "line_no", "text")
    val q = StreamingMultiline(lines,
      startPattern = Some("^java\\.lang"), continuePattern = Some("^\\tat "))
      .writeStream.format("memory").queryName("sml")
      .outputMode("append").start()
    // batch 1 opens a record mid-stack: nothing may be emitted yet
    mem.addData(("f1", 0L, "boot ok"), ("f1", 1L, "java.lang.Error: x"),
      ("f1", 2L, "\tat A.a(A.java:1)"))
    q.processAllAvailable()
    val afterB1 = spark.table("sml").collect()
      .map(_.getAs[String]("merged_text")).toSet
    assert(afterB1 == Set("boot ok")) // only the unmatched prefix line
    // batch 2 continues then closes the record with a non-continue line
    mem.addData(("f1", 3L, "\tat B.b(B.java:2)"), ("f1", 4L, "done"))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("sml").collect()
      .map(r => (r.getLong(1), r.getAs[String]("merged_text"))).toSet
    assert(all.contains(
      (1L, "java.lang.Error: x\n\tat A.a(A.java:1)\n\tat B.b(B.java:2)")))
    assert(all.map(_._2).contains("done")) // closing line unmatched
    assert(all.map(_._2).contains("boot ok"))
  }

  test("streaming multiline matches the batch operator on the same lines (no drift)") {
    val rows = Seq(
      ("s1", 0L, "java.lang.Error: a"), ("s1", 1L, "\tat X.x(X.java:1)"),
      ("s1", 2L, "plain"), ("s1", 3L, "java.lang.Error: b"),
      ("s2", 0L, "orphan"))
    val s = spark; import s.implicits._
    val batchOut = AggOps.MultilineMerge(
      startPattern = Some("^java\\.lang"), continuePattern = Some("^\\tat "),
      convCol = "__source__", orderCol = "line_no")(
      rows.toDF("__source__", "line_no", "text"))
      .collect().map(r => (r.getString(0), r.getAs[String]("merged_text"))).toSet
    val mem = MemoryStream[(String, Long, String)](spark)
    val q = StreamingMultiline(mem.toDF().toDF("__source__", "line_no", "text"),
      startPattern = Some("^java\\.lang"), continuePattern = Some("^\\tat "))
      .writeStream.format("memory").queryName("sml_ab")
      .outputMode("append").start()
    mem.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamOut = spark.table("sml_ab").collect()
      .map(r => (r.getString(0), r.getAs[String]("merged_text"))).toSet
    // the still-open record ("java.lang.Error: b") is the only delta:
    // batch flushes at EOF, the stream keeps it pending
    assert(batchOut -- streamOut ==
      Set(("s1", "java.lang.Error: b")))
    assert(streamOut.subsetOf(batchOut))
  }

  test("token bucket: kill + restart from checkpoint restores state; replay order-independent") {
    // at-least-once parity (reference CheckPointManager.h:40-52): a
    // restarted job must make the SAME keep/drop decisions.
    val srcDir = Files.createTempDirectory("graft-tb-src").toString
    val ckpt = Files.createTempDirectory("graft-tb-ckpt").toString
    val outDir = Files.createTempDirectory("graft-tb-out").toString
    val schema = Seq.empty[Turn].toDF().schema
    def startQuery() = TokenBucketRateLimit(
        spark.readStream.schema(schema).parquet(srcDir),
        Seq("conv_id"), limit = 1, periodSeconds = 3600,
        tieBreak = Seq("turn_idx"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(outDir): Unit
      }
      .start()
    def keptSoFar(): Set[String] =
      spark.read.parquet(outDir).select("text").collect()
        .map(_.getString(0)).toSet
    // batch 1: two A events -> only the first has a token
    Seq(Turn("A", 0, "user", "a0", "none", ts(0)),
      Turn("A", 1, "user", "a1", "none", ts(1))).toDF()
      .write.mode("append").parquet(srcDir)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    assert(keptSoFar() == Set("a0"))
    // kill + restart: batch 2 arrives 10 s later — the restored bucket
    // is still empty, so a2 MUST be dropped (lost state would keep it)
    Seq(Turn("A", 2, "user", "a2", "none", ts(10))).toDF()
      .write.mode("append").parquet(srcDir)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    assert(keptSoFar() == Set("a0"))
    // replay determinism: identical batch in shuffled row order yields
    // the identical keep set (per-key (ts, tieBreak) ordering)
    val rows = Seq(
      Turn("K", 3, "user", "k3", "none", ts(3)),
      Turn("K", 0, "user", "k0", "none", ts(0)),
      Turn("K", 2, "user", "k2", "none", ts(0)),
      Turn("K", 1, "user", "k1", "none", ts(1)))
    def keptOf(input: Seq[Turn]) =
      TokenBucketRateLimit(input.toDF(), Seq("conv_id"), limit = 2,
        periodSeconds = 3600, tieBreak = Seq("turn_idx"))
        .select("text").collect().map(_.getString(0)).toSet
    assert(keptOf(rows) == keptOf(rows.reverse))
    assert(keptOf(rows) == Set("k0", "k2")) // ts then turn_idx order
  }

  test("token bucket in a real stream: state persists across micro-batches") {
    val mem = MemoryStream[Turn](spark)
    val limited = TokenBucketRateLimit(mem.toDF(), Seq("conv_id"),
      limit = 1, periodSeconds = 3600, tieBreak = Seq("turn_idx"))
    val q = limited.writeStream.format("memory").queryName("tb")
      .outputMode("append").start()
    mem.addData(Turn("A", 0, "user", "a0", "none", ts(0)))
    q.processAllAvailable()
    // second batch, same key, 1 s later: no tokens left -> dropped
    mem.addData(Turn("A", 1, "user", "a1", "none", ts(1)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("tb").select("text").collect().map(_.getString(0)).toSet
    assert(kept == Set("a0"))
  }
}
