package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run. Every workload prints every name;
  * a layer the workload does not exercise reads 0. */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "sources.scan.wall_s" -> "s", "sources.scan.cpu_s" -> "s",
    "pipeline.parse.wall_s" -> "s", "pipeline.parse.cpu_s" -> "s",
    "pipeline.enrich.wall_s" -> "s", "pipeline.enrich.cpu_s" -> "s",
    "pipeline.route.wall_s" -> "s", "pipeline.route.cpu_s" -> "s",
    "sink.write.wall_s" -> "s", "sink.write.cpu_s" -> "s",
    "sink.write.shuffle_bytes" -> "bytes", "sink.write.spill_bytes" -> "bytes",
    "sink.write.out_bytes" -> "bytes", "sink.write.files" -> "count",
    "sink.write.jobs" -> "count",
    "sink.lineage.wall_s" -> "s", "sink.lineage.cpu_s" -> "s",
    "sink.lineage.jobs" -> "count", "sink.lineage.files_read" -> "count",
    "sink.aggregates.wall_s" -> "s", "sink.aggregates.cpu_s" -> "s",
    "sink.aggregates.shuffle_bytes" -> "bytes",
    "sink.metrics.wall_s" -> "s", "sink.metrics.cpu_s" -> "s",
    "sink.metrics.shuffle_bytes" -> "bytes",
    "streaming.add_batch_s" -> "s", "streaming.planning_s" -> "s",
    "streaming.get_batch_s" -> "s", "streaming.wal_commit_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.gc_s" -> "s",
    "spark.unattributed_cpu_s" -> "s", "spark.unattributed_wall_s" -> "s",
  ) ++ SweepModules.priced.flatMap(m => Seq(s"ops.$m.wall_s" -> "s", s"ops.$m.cpu_s" -> "s")) ++ Seq(
    "trace.op_wall_s" -> "s", "trace.op_cpu_s" -> "s", "trace.untraced_op_s" -> "s",
    "trace.overhead_frac" -> "ratio", "trace.wall_sum_s" -> "s")

  def emit(report: Report, values: collection.Map[String, Double]): Unit = {
    // a sweep over more than the default queries prices more modules
    val extra = values.keySet.filter(k => k.startsWith("ops.") && !names.exists(_._1 == k))
    val unknown = values.keySet -- names.map(_._1) -- extra
    require(unknown.isEmpty, s"unregistered layer metrics: $unknown")
    names.foreach { case (n, u) => report.metric(n, values.getOrElse(n, 0.0), u) }
    extra.toSeq.sorted.foreach(n => report.metric(n, values(n), "s"))
  }

  /** Wall seconds charged to each action: the time since the previous
    * action ended (so driver work before an action, such as planning,
    * listing or partition deletes, is charged to it); the time after the
    * last action is charged to that action too. The charges sum to the
    * operation's wall time. */
  def charge(actions: Seq[Action], startMs: Long, endMs: Long): Seq[(Action, Double)] = {
    var prev = startMs
    val charged = actions.map { a =>
      val c = math.max(0L, a.end - prev)
      prev = math.max(prev, a.end)
      a -> c / 1000.0
    }
    if (charged.isEmpty) charged
    else charged.init :+ (charged.last._1 -> (charged.last._2 + math.max(0L, endMs - prev) / 1000.0))
  }

  /** Layer prices of one traced pipeline operation (batch run or stream
    * drain). `prefix` holds (wall, cpu) of the scan, +parse, +enrich and
    * +route prefix runs into noop; the write layer's own price is its jobs
    * minus the route prefix they contain. */
  def pipeline(actions: Seq[Action], startMs: Long, endMs: Long, opCpuS: Double,
      prefix: Map[String, (Double, Double)], sinkFiles: Long): mutable.Map[String, Double] = {
    val v = mutable.LinkedHashMap.empty[String, Double]
    val charged = charge(actions, startMs, endMs)
    def wall(l: String) = charged.collect { case (a, c) if a.layer == l => c }.sum
    def of(l: String) = actions.filter(_.layer == l)
    def counters(l: String) = of(l).foldLeft(new Counters)(_ += _.counters)
    def jobs(l: String) = of(l).map(_.jobs.size).sum.toDouble

    val steps = Seq("scan" -> "sources.scan", "parse" -> "pipeline.parse",
      "enrich" -> "pipeline.enrich", "route" -> "pipeline.route")
    var before = (0.0, 0.0)
    steps.foreach { case (p, name) =>
      val (w, c) = prefix(p)
      v(s"$name.wall_s") = w - before._1
      v(s"$name.cpu_s") = c - before._2
      before = (w, c)
    }
    val write = counters("sink.write")
    v("sink.write.wall_s") = wall("sink.write") - before._1
    v("sink.write.cpu_s") = write.cpuS - before._2
    v("sink.write.shuffle_bytes") = write.shuffleWrite.toDouble
    v("sink.write.spill_bytes") = write.spillBytes.toDouble
    v("sink.write.out_bytes") = write.outBytes.toDouble
    v("sink.write.files") = sinkFiles.toDouble
    v("sink.write.jobs") = jobs("sink.write")
    val lineage = counters("sink.lineage")
    v("sink.lineage.wall_s") = wall("sink.lineage")
    v("sink.lineage.cpu_s") = lineage.cpuS
    v("sink.lineage.jobs") = jobs("sink.lineage")
    v("sink.lineage.files_read") = lineage.filesRead.toDouble
    for (l <- Seq("sink.aggregates", "sink.metrics")) {
      val c = counters(l)
      v(s"$l.wall_s") = wall(l)
      v(s"$l.cpu_s") = c.cpuS
      v(s"$l.shuffle_bytes") = c.shuffleWrite.toDouble
    }
    val attributed = Seq("sink.write", "sink.lineage", "sink.aggregates", "sink.metrics")
    v("spark.unattributed_cpu_s") = opCpuS - attributed.map(counters(_).cpuS).sum
    v("spark.unattributed_wall_s") = wall("unattributed")
    v("trace.wall_sum_s") = charged.map(_._2).sum
    v
  }

  /** Spans of traced operations — operation → action (layer) → stage —
    * with their counters, as one JSON document. */
  def spans(workload: String, seed: Int, ops: Seq[(String, Long, Long, Seq[Action])]): String = {
    def counters(c: Counters) = mutable.LinkedHashMap[String, Any](
      "cpu_s" -> c.cpuS, "tasks" -> c.tasks, "gc_s" -> c.gcMs / 1000.0,
      "shuffle_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spillBytes,
      "in_bytes" -> c.inBytes, "out_bytes" -> c.outBytes, "files_read" -> c.filesRead,
      "peak_exec_mem_bytes" -> c.peakMem)
    val out = mutable.ArrayBuffer.empty[Any]
    for ((op, start, end, actions) <- ops) {
      out += mutable.LinkedHashMap[String, Any]("id" -> op, "kind" -> "operation",
        "name" -> op, "parent" -> None, "start_ms" -> start, "end_ms" -> end) ++
        counters(actions.foldLeft(new Counters)(_ += _.counters))
      for (a <- actions) {
        val aid = s"$op/${a.name}"
        out += mutable.LinkedHashMap[String, Any]("id" -> aid, "kind" -> "layer",
          "name" -> a.layer, "parent" -> op, "start_ms" -> a.start, "end_ms" -> a.end,
          "jobs" -> a.jobs.map(_.id)) ++ counters(a.counters)
        for (j <- a.jobs; s <- j.stages)
          out += mutable.LinkedHashMap[String, Any]("id" -> s"$aid/stage-${s.id}.${s.attempt}",
            "kind" -> "stage", "name" -> s.name, "parent" -> aid, "job" -> j.id,
            "start_ms" -> s.start, "end_ms" -> s.end) ++ counters(s.counters)
      }
    }
    Json(mutable.LinkedHashMap("workload" -> workload, "seed" -> seed, "spans" -> out))
  }
}
