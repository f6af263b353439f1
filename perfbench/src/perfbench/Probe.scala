package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Task counters summed over a set of tasks (peak memory is a max). */
final class Counters {
  var tasks, cpuNs, gcMs, peakMem, shuffleWrite, spillBytes, outBytes, inBytes, filesRead = 0L

  def add(m: TaskMetrics): Unit = {
    tasks += 1
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    peakMem = math.max(peakMem, m.peakExecutionMemory)
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.diskBytesSpilled
    outBytes += m.outputMetrics.bytesWritten
    inBytes += m.inputMetrics.bytesRead
  }

  def +=(o: Counters): this.type = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    peakMem = math.max(peakMem, o.peakMem)
    shuffleWrite += o.shuffleWrite; spillBytes += o.spillBytes
    outBytes += o.outBytes; inBytes += o.inBytes; filesRead += o.filesRead
    this
  }

  def cpuS: Double = cpuNs / 1e9
}

final class StageRec(val id: Int, val attempt: Int, val name: String) {
  var start, end = -1L
  val counters = new Counters
}

final class JobRec(val id: Int, val op: String, val exec: Long,
    val details: String, val start: Long, val resultTasks: Int) {
  var end = -1L
  var ok = true
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val counters = new Counters
}

/** A SQL execution, reduced at event time to what attribution needs
  * (the plan text itself can run to megabytes). */
final class ExecRec(val id: Long, val root: Long, val details: String,
    val writeTarget: String, val readsLineage: Boolean, val start: Long) {
  var end = -1L
  var filesRead = 0L
}

/** One priced unit of driver work: a SQL execution that ran jobs, or a
  * Spark job outside any SQL execution (file listing). */
final case class Action(layer: String, name: String, start: Long, end: Long,
    jobs: Seq[JobRec], filesRead: Long) {
  def counters: Counters = {
    val c = jobs.foldLeft(new Counters)(_ += _.counters)
    c.filesRead = filesRead
    c
  }
}

/** SparkListener that tags every job with the harness operation that was
  * running when it started (the `perfbench.op` local property, which
  * Spark copies into broadcast, AQE and stream-execution threads) and
  * sums task metrics per job, stage and operation. */
final class Probe extends SparkListener {
  /** Off: only job and per-operation counters are kept (untraced runs);
    * on: stages and SQL executions too, for layer attribution. */
  @volatile var detail = false
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val execs = mutable.HashMap.empty[Long, ExecRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[(Int, Int), StageRec]
  private val perOp = mutable.HashMap.empty[String, Counters]
  // scan nodes report files read as a driver-side metric: accumulator id
  // of each "number of files read" metric → its SQL execution
  private val filesReadAccums = mutable.HashMap.empty[Long, Long]

  private def noteFileMetrics(exec: Long, plan: SparkPlanInfo): Unit = {
    plan.metrics.filter(_.name == "number of files read")
      .foreach(m => filesReadAccums(m.accumulatorId) = exec)
    plan.children.foreach(noteFileMetrics(exec, _))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).getOrElse(new Properties)
    val j = new JobRec(e.jobId, Option(p.getProperty(Probe.OpKey)).getOrElse(""),
      Option(p.getProperty("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L),
      e.stageInfos.headOption.map(_.details).getOrElse(""), e.time,
      if (e.stageInfos.isEmpty) 0 else e.stageInfos.maxBy(_.stageId).numTasks)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (detail) synchronized {
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach { j =>
      val s = new StageRec(i.stageId, i.attemptNumber(), i.name)
      s.start = i.submissionTime.getOrElse(System.currentTimeMillis())
      stages((i.stageId, i.attemptNumber())) = s
      j.stages += s
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.end = i.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      j.counters.add(m)
      perOp.getOrElseUpdate(j.op, new Counters).add(m)
      stages.get((e.stageId, e.stageAttemptId)).foreach(_.counters.add(m))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if detail => synchronized {
      execs(s.executionId) = new ExecRec(s.executionId,
        s.rootExecutionId.getOrElse(s.executionId), s.details,
        Probe.writeTarget(s.physicalPlanDescription),
        s.physicalPlanDescription.contains("/" + Probe.LineageTable + "]") ||
          s.physicalPlanDescription.contains("/" + Probe.LineageTable + ","),
        s.time)
      noteFileMetrics(s.executionId, s.sparkPlanInfo)
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate if detail => synchronized {
      noteFileMetrics(u.executionId, u.sparkPlanInfo)
    }
    case d: SparkListenerDriverAccumUpdates => synchronized {
      d.accumUpdates.foreach { case (id, v) =>
        filesReadAccums.get(id).flatMap(execs.get).foreach(_.filesRead += v)
      }
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ => ()
  }

  /** Counters over every task of operation `op`. */
  def opCounters(op: String): Counters = synchronized {
    perOp.getOrElse(op, new Counters)
  }

  def opJobs(op: String): Seq[JobRec] = synchronized {
    jobs.values.filter(_.op == op).toSeq
  }

  /** The priced actions of `op`, in start order. An execution that
    * contains others (a micro-batch around its sink's writes) is not an
    * action: jobs run directly under it are priced as bare jobs. */
  def actions(op: String): Seq[Action] = synchronized {
    val opJobs = jobs.values.filter(_.op == op).toSeq
    val containers = execs.values.filter(x => x.root != x.id).map(_.root).toSet
    def bare(j: JobRec) = j.exec < 0 || containers(j.exec)
    val sql = opJobs.filterNot(bare).groupBy(_.exec).toSeq.map { case (id, js) =>
      execs.get(id) match {
        case Some(x) =>
          Action(Probe.classify(x.details, x.writeTarget, x.readsLineage, sql = true),
            s"sql-$id", x.start, if (x.end > 0) x.end else js.map(_.end).max, js, x.filesRead)
        case None =>
          Action("unattributed", s"sql-$id", js.map(_.start).min, js.map(_.end).max, js, 0L)
      }
    }
    val plain = opJobs.filter(bare).map(j =>
      Action(Probe.classify(j.details, "", readsLineage = false, sql = false),
        s"job-${j.id}", j.start, j.end, Seq(j), 0L))
    (sql ++ plain).sortBy(a => (a.start, a.end))
  }
}

object Probe {
  val OpKey = "perfbench.op"
  val LineageTable = "_lineage"

  def withOp[A](sc: SparkContext, op: String)(f: => A): A = {
    sc.setLocalProperty(OpKey, op)
    try f finally sc.setLocalProperty(OpKey, null)
  }

  private val InsertNode = """\(\d+\) Execute InsertIntoHadoopFsRelationCommand""".r

  /** Last path segment of the output of an InsertIntoHadoopFsRelation
    * command in a formatted plan description (the first path of the
    * command node's Arguments), or "" for plans that write nothing. */
  def writeTarget(plan: String): String =
    InsertNode.findFirstMatchIn(plan).map { m =>
      val args = plan.indexOf("Arguments: ", m.end)
      val p = if (args < 0) -1 else plan.indexOf("file:", args)
      if (p < 0) ""
      else plan.substring(p).takeWhile(c => c != ',' && c != ' ' && c != '\n' && c != ']')
        .split('/').lastOption.getOrElse("")
    }.getOrElse("")

  /** Layer of a unit of driver work (`sql`: a SQL execution, else a bare
    * job). Writes are named by their target table, lineage reads by their
    * source; everything else by the innermost graft frame of its call site
    * (TableIO is the storage helper every layer shares, so it is
    * skipped). */
  def classify(details: String, writeTarget: String, readsLineage: Boolean,
      sql: Boolean): String = writeTarget match {
    case LineageTable => "sink.lineage"
    case "_metrics" => "sink.metrics"
    case "sink_aggregates" => "sink.aggregates"
    case "events_routed" => "sink.write"
    case _ if readsLineage => "sink.lineage"
    case _ =>
      val frames = details.split('\n').iterator.map(_.trim)
        .filter(f => f.startsWith("graft.") && !f.startsWith("graft.sink.TableIO"))
      if (!frames.hasNext) "unattributed"
      else {
        val f = frames.next()
        if (f.startsWith("graft.sink.Lineage")) "sink.lineage"
        else if (f.startsWith("graft.sink.Metrics")) "sink.metrics"
        // jobs outside SQL (file listing, footer reads) that the writer
        // starts come from reading its own table back for lineage
        else if (f.startsWith("graft.sink.FanOutWriter"))
          if (sql) "sink.write" else "sink.lineage"
        // the runner's own reads feed the per-sink aggregates (and metrics)
        else if (f.startsWith("graft.run.PipelineRunner") || f.startsWith("graft.ops.AggOps"))
          "sink.aggregates"
        else "unattributed"
      }
  }
}
