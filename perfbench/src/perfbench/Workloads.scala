package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{Callable, ConcurrentHashMap, Executors}
import scala.collection.mutable
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, coalesce, col, count, lit, sum, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.SparkEntry
import graft.pipeline.TranscriptPipeline
import graft.run.PipelineRunner
import graft.sink.TableIO
import graft.streaming.StreamingRunner
import Util._

final case class Args(workload: String, seed: Int, seconds: Double, trace: Boolean,
    work: String, cores: Int, traces: String, fingerprints: String,
    convs: Option[Long], files: Option[Int], queries: String, inject: String,
    writeFingerprints: Boolean)

/** Counters of one timed operation (a run, a drain or a query). */
final case class OpStats(op: String, wall: Double, startMs: Long, endMs: Long,
    cpu: Double, peakMb: Double, files: Long, bytes: Long,
    shuffleBytes: Long, readBytes: Long, outParts: Long)

abstract class Workload(val spark: SparkSession, val probe: Probe, val a: Args,
    val report: Report) {
  def sc = spark.sparkContext

  /** Input generation, materialization and warm-up; returns its seconds. */
  def setup(): Double
  /** Timed operations for `a.seconds`, reported as end-to-end metrics. */
  def measure(setupS: Double): Unit
  /** Untraced and traced operations, reported as per-layer metrics. */
  def trace(): Unit

  protected def endToEnd(setupS: Double, turnsPerS: Double, opS: Double, cpuS: Double,
      units: Seq[Double], outPerIn: Double, files: Double, peakMb: Double): Unit = {
    val (tailV, pct, beyond) = if (units.isEmpty) (0.0, 0.0, 0) else tail(units)
    log(f"units=${units.size} tail=p$pct%.1f with $beyond beyond")
    report.metric("setup_s", setupS, "s")
    report.metric("turns_per_s", turnsPerS, "turns/s")
    report.metric("sweep_s", opS, "s")
    report.metric("cpu_s", cpuS, "s")
    report.metric("batch_p50_s", if (units.isEmpty) 0.0 else median(units), "s")
    report.metric("batch_tail_s", tailV, "s")
    report.metric("out_bytes_per_in_byte", outPerIn, "ratio")
    report.metric("files_written", files, "count")
    report.metric("peak_exec_mem_mb", peakMb, "MB")
    report.metric("ok_frac", report.okFrac, "ratio")
  }

  protected def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Run `f` as operation `op`; its counters once every event is in. */
  protected def timedOp(op: String, sinkRoot: Option[String])(f: => Unit): OpStats = {
    val startMs = System.currentTimeMillis()
    val (_, wall) = timed(Probe.withOp(sc, op)(f))
    val endMs = System.currentTimeMillis()
    Bus.drain(sc)
    val c = probe.opCounters(op)
    val (files, bytes) = sinkRoot.map(dirStats).getOrElse((0L, 0L))
    val last = probe.opJobs(op).lastOption
    OpStats(op, wall, startMs, endMs, c.cpuS, c.peakMem / 1048576.0, files, bytes,
      c.shuffleWrite, c.inBytes, last.map(_.resultTasks.toLong).getOrElse(0L))
  }

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A copy of the first `n` parquet files of `dir`, the input of a
    * warm-up that pays the first-run costs on less data. */
  protected def firstFiles(dir: String, n: Int, to: String): String = {
    Files.createDirectories(Paths.get(to))
    new File(dir).listFiles.filter(_.getName.endsWith(".parquet")).sortBy(_.getName).take(n)
      .foreach(f => Files.copy(f.toPath, Paths.get(to, f.getName)))
    to
  }

  /** Per-sink totals of `column` in a parquet table, grouped by `key`. */
  protected def perSink(path: String, key: String, column: Option[String]): Map[String, Long] = {
    val df = spark.read.parquet(path)
    val agg = column.fold(df.groupBy(col(key)).agg(count(lit(1))))(c =>
      df.groupBy(col(key)).agg(sum(col(c))))
    agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  protected def compare(what: String, got: Map[String, Long], want: Map[String, Long]): Seq[String] = {
    val keys = got.keySet ++ want.keySet
    if (keys.forall(k => got.getOrElse(k, 0L) == want.getOrElse(k, 0L))) Nil
    else Seq(s"$what per sink ${got.toSeq.sorted.mkString(",")} != expected ${want.toSeq.sorted.mkString(",")}")
  }

  protected def writeTrace(ops: Seq[(String, Long, Long, Seq[Action])]): Unit = {
    val path = s"${a.traces}/${a.workload}-seed${a.seed}.json"
    Util.write(path, Layers.spans(a.workload, a.seed, ops))
    log(s"trace written to $path")
  }
}

/** Pipeline workloads share the prefix runs that price the fused
  * projection layers. */
abstract class PipelineWorkload(spark: SparkSession, probe: Probe, a: Args, report: Report)
    extends Workload(spark, probe, a, report) {

  /** (wall, cpu) medians of scan, +parse, +enrich and +route into noop. */
  protected def prefixPrices(input: String, reps: Int = 3): Map[String, (Double, Double)] = {
    def src = spark.read.parquet(input)
    val plans: Seq[(String, () => DataFrame)] = Seq(
      "scan" -> (() => src),
      "parse" -> (() => TranscriptPipeline.parse(src)),
      "enrich" -> (() => TranscriptPipeline.enrich(TranscriptPipeline.parse(src))),
      "route" -> (() => TranscriptPipeline(src)))
    plans.map { case (name, plan) =>
      val runs = (1 to reps).map(r => timedOp(s"prefix-$name-$r", None)(noop(plan())))
      name -> (median(runs.map(_.wall)), median(runs.map(_.cpu)))
    }.toMap
  }

  protected def medianLayers(all: Seq[collection.Map[String, Double]]): mutable.Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    all.headOption.foreach(_.keys.foreach(k => out(k) = median(all.map(_(k)))))
    out
  }
}

/** One fresh `PipelineRunner.run` — the call `RunPipeline.main` makes —
  * per operation, each into an empty TableIO root. */
final class BatchJob(spark: SparkSession, probe: Probe, a: Args, report: Report)
    extends PipelineWorkload(spark, probe, a, report) {
  val convs = a.convs.getOrElse(20000L)
  val input = s"${a.work}/input"
  var turns = 0L
  var inBytes = 0L
  private var expected = Map.empty[String, Long]
  private var runs = 0

  def setup(): Double = {
    val (_, genS) = timed(Inputs.transcripts(spark, input, convs, a.seed, files = 8))
    val (_, countS) = timed {
      expected = Inputs.expectedPerSink(spark, input)
      turns = expected.values.sum
      inBytes = dirStats(input)._2
    }
    log(s"batch_job input: $convs conversations, $turns turns, $inBytes bytes")
    // the warm-up run reads half of the eight input files
    val (_, warmS) = timed {
      val warm = firstFiles(input, 4, s"${a.work}/input-warm")
      run("warm-up", warm, Inputs.expectedPerSink(spark, warm))
    }
    log(f"set-up: generation $genS%.2f s, counts $countS%.2f s, warm-up $warmS%.2f s")
    genS + countS + warmS
  }

  /** One checked run; None when it threw or failed its output check. */
  private def run(op: String, in: String = input,
      want: Map[String, Long] = expected): Option[OpStats] = {
    val root = s"${a.work}/sink-$op"
    val first = runs == 0
    runs += 1
    report.attempted += 1
    try {
      val src = if (a.inject == "throw" && first) in + "-missing" else in
      val stats = timedOp(op, Some(root)) {
        PipelineRunner.run(spark.read.parquet(src), TableIO(root), op): Unit
      }
      log(f"$op ${stats.wall}%.3f s, cpu ${stats.cpu}%.3f s")
      if (a.inject == "wrong" && first) dropOneFile(s"$root/events_routed")
      val errs = check(root, want)
      if (errs.isEmpty) Some(stats) else { report.fail(op, errs.mkString("; ")); None }
    } catch {
      case e: Throwable => report.fail(op, describe(e)); None
    } finally rm(root)
  }

  private def dropOneFile(table: String): Unit = {
    val files = Iterator.iterate(Seq(new File(table)))(_.flatMap(f =>
      Option(f.listFiles).map(_.toSeq).getOrElse(Nil))).take(5).flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    files.headOption.foreach(_.delete())
  }

  /** Per-sink row counts must equal the CASE over `role` on the input, in
    * the routed table and in the three tables derived from it. */
  private def check(root: String, want: Map[String, Long]): Seq[String] =
    compare("events_routed rows", perSink(s"$root/events_routed", "__sink__", None), want) ++
      compare("_lineage n_rows", perSink(s"$root/_lineage", "sink", Some("n_rows")), want) ++
      compare("sink_aggregates n_events",
        perSink(s"$root/sink_aggregates", "__sink__", Some("n_events")), want) ++
      compare("_metrics n_events", perSink(s"$root/_metrics", "sink", Some("n_events")), want)

  def measure(setupS: Double): Unit = {
    val t0 = System.nanoTime()
    val ok = mutable.ArrayBuffer.empty[OpStats]
    var i = 0
    while ((i < 1 || secs(t0) < a.seconds) && i < 50) {
      run(s"run-$i").foreach(ok += _)
      i += 1
    }
    val walls = ok.map(_.wall).toSeq
    endToEnd(setupS, if (ok.isEmpty) 0.0 else turns / median(walls), med(walls),
      med(ok.map(_.cpu).toSeq), walls, med(ok.map(_.bytes.toDouble).toSeq) / inBytes,
      med(ok.map(_.files.toDouble).toSeq), med(ok.map(_.peakMb).toSeq))
  }

  def trace(): Unit = {
    setup()
    val untraced, traced = mutable.ArrayBuffer.empty[OpStats]
    val t0 = System.nanoTime()
    var i = 0
    // alternate the order within each pair: later runs are a little
    // warmer, which would otherwise read as tracing overhead
    def untracedRun(): Unit = run(s"untraced-$i").foreach(untraced += _)
    def tracedRun(): Unit = {
      probe.detail = true
      try run(s"traced-$i").foreach(traced += _) finally probe.detail = false
    }
    while ((i < 2 || secs(t0) < a.seconds) && i < 20) {
      if (i % 2 == 0) { untracedRun(); tracedRun() } else { tracedRun(); untracedRun() }
      i += 1
    }
    if (traced.isEmpty || untraced.isEmpty) { Layers.emit(report, Map.empty); return }
    val prefix = prefixPrices(input)
    val layers = medianLayers(traced.toSeq.map { s =>
      val jobs = probe.opJobs(s.op)
      Layers.pipeline(probe.actions(s.op), s.startMs, s.endMs, s.cpu, prefix,
        s.files) ++ PipelineWorkload.sparkCounts(jobs)
    })
    val untracedS = median(untraced.map(_.wall).toSeq)
    layers("trace.op_wall_s") = median(traced.map(_.wall).toSeq)
    layers("trace.op_cpu_s") = median(traced.map(_.cpu).toSeq)
    layers("trace.untraced_op_s") = untracedS
    layers("trace.overhead_frac") = layers("trace.op_wall_s") / untracedS - 1
    Layers.emit(report, layers)
    writeTrace(traced.toSeq.map(s => (s.op, s.startMs, s.endMs, probe.actions(s.op))))
  }
}

object PipelineWorkload {
  def sparkCounts(jobs: Seq[JobRec]): Map[String, Double] = {
    val c = jobs.foldLeft(new Counters)(_ += _.counters)
    Map("spark.jobs" -> jobs.size.toDouble, "spark.tasks" -> c.tasks.toDouble,
      "spark.gc_s" -> c.gcMs / 1000.0)
  }
}

/** `StreamingRunner.fanOutWriter` draining a backlog of parquet files with
  * `Trigger.AvailableNow` and one file per micro-batch: a closed loop,
  * each batch starts after the previous one commits. */
final class StreamBacklog(spark: SparkSession, probe: Probe, a: Args, report: Report)
    extends PipelineWorkload(spark, probe, a, report) {
  val files = a.files.getOrElse(4)
  val convs = a.convs.getOrElse(1000L)
  val backlog = s"${a.work}/backlog"
  var turns = 0L
  var inBytes = 0L
  private var expected = Map.empty[String, Long]
  private val progress = new ConcurrentHashMap[UUID, mutable.ArrayBuffer[StreamingQueryProgress]]()

  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val buf = progress.computeIfAbsent(e.progress.id, _ => mutable.ArrayBuffer.empty)
      buf.synchronized(buf += e.progress): Unit
    }
  })

  def setup(): Double = {
    val (_, genS) = timed(Inputs.transcripts(spark, backlog, convs, a.seed, files))
    val (_, countS) = timed {
      expected = Inputs.expectedPerSink(spark, backlog)
      turns = expected.values.sum
      inBytes = dirStats(backlog)._2
    }
    log(s"stream_backlog input: $files files, $turns turns, $inBytes bytes")
    // the warm-up drain takes the backlog's first file
    val (_, warmS) = timed {
      val warm = firstFiles(backlog, 1, s"${a.work}/backlog-warm")
      val want = Inputs.expectedPerSink(spark, warm)
      drain("warm-up", warm, want, want.values.sum)
    }
    log(f"set-up: generation $genS%.2f s, counts $countS%.2f s, warm-up $warmS%.2f s")
    genS + countS + warmS
  }

  /** One checked drain: (stats, its micro-batches), or None on failure. */
  private def drain(op: String, dir: String, want: Map[String, Long],
      wantTurns: Long): Option[(OpStats, Seq[StreamingQueryProgress])] = {
    val root = s"${a.work}/sink-$op"
    try {
      val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      var id: UUID = null
      val stats = timedOp(op, Some(root)) {
        val q = StreamingRunner.fanOutWriter(stream, TableIO(root), op,
          trigger = Trigger.AvailableNow(),
          checkpoint = Some(s"${a.work}/checkpoint-$op")).start()
        id = q.id
        q.awaitTermination()
      }
      val batches = Option(progress.get(id)).map(b => b.synchronized(b.toSeq)).getOrElse(Nil)
        .filter(_.numInputRows > 0).sortBy(_.batchId)
      report.attempted += batches.size
      log(f"$op ${stats.wall}%.3f s, cpu ${stats.cpu}%.3f s, batches " +
        batches.map(b => f"${b.batchDuration / 1000.0}%.2f").mkString(" "))
      val lineageRuns = spark.read.parquet(s"$root/_lineage").select("run_id").distinct()
        .collect().map(_.getString(0)).toSet
      val missing = batches.map(b => s"$op-${b.batchId}").filterNot(lineageRuns)
      val errs =
        (if (batches.map(_.numInputRows).sum == wantTurns) Nil
         else Seq(s"sum of numInputRows ${batches.map(_.numInputRows).sum} != backlog turns $wantTurns")) ++
          (if (missing.isEmpty) Nil else Seq(s"batches without lineage rows: ${missing.mkString(",")}")) ++
          compare("events_routed rows", perSink(s"$root/events_routed", "__sink__", None), want) ++
          compare("_lineage n_rows", perSink(s"$root/_lineage", "sink", Some("n_rows")), want)
      if (errs.isEmpty) Some((stats, batches))
      else { errs.foreach(report.fail(op, _)); None }
    } catch {
      case e: Throwable =>
        report.attempted += 1
        report.fail(op, describe(e))
        None
    } finally rm(root)
  }

  def measure(setupS: Double): Unit = {
    val t0 = System.nanoTime()
    val ok = mutable.ArrayBuffer.empty[(OpStats, Seq[StreamingQueryProgress])]
    var i = 0
    while ((i < 1 || secs(t0) < a.seconds) && i < 20) {
      drain(s"drain-$i", backlog, expected, turns).foreach(ok += _)
      i += 1
    }
    val walls = ok.map(_._1.wall).toSeq
    val batchS = ok.flatMap(_._2).map(_.batchDuration / 1000.0).toSeq
    endToEnd(setupS, if (ok.isEmpty) 0.0 else turns / median(walls), med(walls),
      med(ok.map(_._1.cpu).toSeq), batchS, med(ok.map(_._1.bytes.toDouble).toSeq) / inBytes,
      med(ok.map(_._1.files.toDouble).toSeq), med(ok.map(_._1.peakMb).toSeq))
  }

  def trace(): Unit = {
    setup()
    val untraced = drain("untraced", backlog, expected, turns)
    probe.detail = true
    val traced = try drain("traced", backlog, expected, turns) finally probe.detail = false
    (untraced, traced) match {
      case (Some((u, _)), Some((s, batches))) =>
        val prefix = prefixPrices(backlog)
        val layers = Layers.pipeline(probe.actions(s.op), s.startMs, s.endMs, s.cpu,
          prefix, s.files) ++ PipelineWorkload.sparkCounts(probe.opJobs(s.op))
        def part(k: String) = batches.map(b =>
          Option(b.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0
        layers("streaming.add_batch_s") = part("addBatch")
        layers("streaming.planning_s") = part("queryPlanning")
        layers("streaming.get_batch_s") = part("getBatch")
        layers("streaming.wal_commit_s") = part("walCommit")
        layers("trace.op_wall_s") = s.wall
        layers("trace.op_cpu_s") = s.cpu
        layers("trace.untraced_op_s") = u.wall
        layers("trace.overhead_frac") = s.wall / u.wall - 1
        Layers.emit(report, layers)
        writeTrace(Seq((s.op, s.startMs, s.endMs, probe.actions(s.op))))
      case _ => Layers.emit(report, Map.empty)
    }
  }
}

/** Every selected query of `SparkEntry.queries ++ SparkEntry.benchQueries`
  * written to noop over the fixed sweep tables. Each query's fingerprint
  * is checked once per invocation, in set-up, outside the timed region. */
final class OperatorSweep(spark: SparkSession, probe: Probe, a: Args, report: Report)
    extends Workload(spark, probe, a, report) {
  val dir = s"${a.work}/sweep-tables"
  val all = SparkEntry.queries ++ SparkEntry.benchQueries
  val selected: Seq[String] = a.queries match {
    case "default" => SweepModules.default
    case "all" => all.keys.toSeq.sorted
    case list => list.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
  }
  private var passes = 0
  private var good = Set.empty[String]

  /** The program caches two ANN indexes under /tmp, keyed by the table
    * directory; remove them so every pass builds its own. */
  private def cleanOutside(): Unit =
    if (selected.exists(SweepModules.outsideWorkDir)) {
      val key = dir.replaceAll("[^A-Za-z0-9]", "_")
      Seq("graft_lsh_index_", "graft_blsh_index_").foreach(p => rm(s"/tmp/$p$key"))
    }

  def setup(): Double = {
    SweepModules.problems(all.keySet).foreach(report.fail("coverage", _))
    selected.filterNot(all.contains).foreach(q => report.fail("selection", s"unknown query '$q'"))
    val (_, genS) = timed(Inputs.sweepTables(spark, dir))
    // the transcript view is cached per (session, dir) on first use; the
    // check then doubles as the warm-up of every query
    val (_, warmS) = timed {
      noop(all("turn_order")(spark, dir))
      good = check(selected.filter(all.contains))
    }
    log(f"set-up: generation $genS%.2f s, warm-up and check $warmS%.2f s")
    genS + warmS
  }

  /** One timed pass; the stats of the queries that ran. */
  private def pass(tag: String): Seq[(String, OpStats)] = {
    val first = passes == 0
    passes += 1
    cleanOutside()
    val ran = selected.filter(all.contains).zipWithIndex.flatMap { case (q, i) =>
      report.attempted += 1
      try {
        val stats = timedOp(s"q-$tag-$q", None) {
          if (a.inject == "throw" && first && i == 0) throw new RuntimeException("injected failure")
          noop(all(q)(spark, dir))
        }
        log(f"$q%-28s ${stats.wall}%.3f s")
        Some(q -> stats)
      } catch {
        case e: Throwable => report.fail(q, describe(e)); None
      }
    }
    cleanOutside()
    ran
  }

  /** The queries whose output matches the stored fingerprint. Each check
    * also writes the query to noop once, the plan a pass times: one run
    * before the timed pass leaves the JIT far from warm. The checks are
    * outside the timed region and mostly first planning and codegen, so
    * they run on `a.cores` threads of the harness. */
  private def check(queries: Seq[String]): Set[String] = {
    val stored = Fingerprints.expected(a.fingerprints)
    val pool = Executors.newFixedThreadPool(a.cores)
    val fps = try {
      val pending = queries.map(q => q -> pool.submit(new Callable[Either[String, (Long, Long)]] {
        def call() = try {
          val df = all(q)(spark, dir)
          noop(df)
          val (fp, s) = timed(Fingerprints.of(
            if (a.inject == "wrong" && q == queries.head) df.where(lit(false)) else df))
          log(f"checked $q%-28s $s%.3f s")
          Right(fp)
        } catch {
          case e: Throwable => Left(describe(e))
        }
      }))
      pending.map { case (q, f) => q -> f.get() }
    } finally pool.shutdown()
    cleanOutside()
    fps.filter {
      case (q, Left(err)) => report.fail(q, err); false
      case (q, Right(fp)) => stored.get(q) match {
        case Some(want) if want == fp => true
        case Some(want) => report.fail(q, s"fingerprint $fp != stored $want"); false
        case None => report.fail(q, "no stored fingerprint"); false
      }
    }.map(_._1).toSet
  }

  def measure(setupS: Double): Unit = {
    val t0 = System.nanoTime()
    val runs = mutable.ArrayBuffer.empty[Seq[(String, OpStats)]]
    var last = 0.0
    while ((runs.isEmpty || secs(t0) + last <= a.seconds) && runs.size < 20) {
      val t1 = System.nanoTime()
      runs += pass(s"p${runs.size}")
      last = secs(t1)
    }
    // per-query medians over passes, for queries that ran every time and
    // produced the stored output
    val everyPass = runs.flatten.groupBy(_._1).filter(_._2.size == runs.size)
    val perQuery = everyPass.filter { case (q, _) => good(q) }.toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.map(_._2) }
    def total(f: OpStats => Double) = perQuery.map(s => median(s.map(f))).sum
    val walls = perQuery.map(s => median(s.map(_.wall)))
    val sweepS = walls.sum
    endToEnd(setupS, if (sweepS > 0) Inputs.SweepEvents * walls.size / sweepS else 0.0, sweepS,
      total(_.cpu), walls, total(_.shuffleBytes.toDouble) / math.max(1.0, total(_.readBytes.toDouble)),
      total(_.outParts.toDouble), if (perQuery.isEmpty) 0.0 else perQuery.map(s => median(s.map(_.peakMb))).max)
  }

  def trace(): Unit = {
    setup()
    // untraced, traced, untraced: later passes are a little warmer, which
    // would otherwise read as tracing overhead
    val first = pass("untraced-0")
    probe.detail = true
    val traced = try pass("traced") finally probe.detail = false
    val untraced = first ++ pass("untraced-1")
    val v = mutable.LinkedHashMap.empty[String, Double]
    traced.groupBy { case (q, _) => SweepModules.table(q) }.foreach { case (m, rs) =>
      v(s"ops.$m.wall_s") = rs.map(_._2.wall).sum
      v(s"ops.$m.cpu_s") = rs.map(_._2.cpu).sum
    }
    v ++= PipelineWorkload.sparkCounts(traced.flatMap { case (_, s) => probe.opJobs(s.op) })
    // every job of a pass runs under its query's tag
    v("spark.unattributed_cpu_s") = 0.0
    v("trace.op_wall_s") = traced.map(_._2.wall).sum
    v("trace.op_cpu_s") = traced.map(_._2.cpu).sum
    // the mean of the passes before and after the traced one
    v("trace.untraced_op_s") = untraced.map(_._2.wall).sum / 2
    v("trace.overhead_frac") = v("trace.op_wall_s") / v("trace.untraced_op_s") - 1
    v("trace.wall_sum_s") = v("trace.op_wall_s")
    Layers.emit(report, v)
    writeTrace(traced.map { case (_, s) => (s.op, s.startMs, s.endMs, probe.actions(s.op)) })
  }

  /** Store the fingerprint of every selected query's output. */
  def writeFingerprints(): Unit = {
    setup()
    val fps = selected.map { q =>
      report.attempted += 1
      log(s"fingerprinting $q")
      q -> Fingerprints.of(all(q)(spark, dir))
    }
    cleanOutside()
    Util.write(a.fingerprints, Fingerprints.render(Fingerprints.expected(a.fingerprints) ++ fps))
    log(s"stored ${fps.size} fingerprints in ${a.fingerprints}")
  }
}

/** Order-independent fingerprint of a query output: row count and the
  * bit_xor of xxhash64 over its columns sorted by name, cast to string.
  * Stored as `query<TAB>rows<TAB>hash` lines. */
object Fingerprints {
  def of(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c => col(s"`$c`").cast("string"))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private var cache: Option[(String, Map[String, (Long, Long)])] = None

  def expected(path: String): Map[String, (Long, Long)] = cache match {
    case Some((p, m)) if p == path => m
    case _ =>
      val f = new File(path)
      val m = if (!f.exists) Map.empty[String, (Long, Long)] else {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().filter(_.nonEmpty).map(_.split('\t')).map(p =>
          p(0) -> (p(1).toLong, p(2).toLong)).toMap
        finally src.close()
      }
      cache = Some(path -> m)
      m
  }

  def render(m: Map[String, (Long, Long)]): String =
    m.toSeq.sortBy(_._1).map { case (q, (n, h)) => s"$q\t$n\t$h\n" }.mkString
}
