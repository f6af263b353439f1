package graft.sink

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.SparkTestSession

/** A small fan-out micro-batch is written by one wave of tasks, not one
  * task. Its shuffle is far below AQE's 1 MB coalescing floor, which
  * used to collapse the 200 shuffle partitions of a `RunPipeline`-style
  * session to a single task writing every partition file in turn. */
class FanOutWriteWidthSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
  private val sinks = Seq("sink_a", "sink_b", "sink_c")
  private val nRows = 600

  /** A session like `RunPipeline`'s: the default 200 shuffle partitions. */
  private lazy val wide: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "200")
    s
  }

  private def tmp(): String =
    Files.createTempDirectory("graft-width").toString

  /** `nRows` routed rows over `sinkNames`, all in micro-batch `batch`. */
  private def routed(s: SparkSession, batch: Long,
      sinkNames: Seq[String] = sinks): DataFrame =
    s.range(nRows).select(
      concat(lit("c"), (col("id") % 97).cast("string")).as("conv_id"),
      element_at(array(sinkNames.map(lit): _*),
        (col("id") % sinkNames.size + 1).cast("int")).as("__sink__"),
      sha2(col("id").cast("string"), 256).as("payload"),
      lit(batch).as("__batch__"))

  /** 3 sinks × 8 buckets, one `__batch__` directory per micro-batch. */
  private def write(io: TableIO, df: DataFrame, batch: Long): Int =
    FanOutWriter(io, numBuckets = 8, sinks = sinks)
      .write(df, s"run-$batch", batchPartition = Seq("__batch__" -> batch))

  private def fingerprint(dir: String): (Long, Long) = {
    val back = spark.read.parquet(s"$dir/events_routed")
    val cols = back.columns.sorted.map(c => col(c).cast("string"))
    val r = back.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** (tasks, records written) of every stage `body` runs in `s`. */
  private def stages(s: SparkSession)(body: => Unit): Seq[(Int, Long)] = {
    val sc = s.sparkContext
    val group = java.util.UUID.randomUUID().toString
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val done = new ConcurrentLinkedQueue[(Int, Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(ours.add)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val written = Option(i.taskMetrics).fold(0L)(_.outputMetrics.recordsWritten)
        done.add((i.stageId, i.numTasks, written))
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "fan-out write width")
    try {
      body
      // listener events are asynchronous: wait for the data write's stage
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(done.asScala.exists { case (id, _, w) =>
          ours.contains(id) && w == nRows })
      }
      done.asScala.toSeq.collect { case (id, n, w) if ours.contains(id) => (n, w) }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a micro-batch's write runs more than one task, one file per partition dir") {
    val dir = tmp()
    val ran = stages(wide)(write(TableIO(dir), routed(wide, 7), 7))
    val writeStage = ran.filter(_._2 == nRows)
    assert(writeStage.size == 1, ran)
    assert(writeStage.head._1 > 1, s"write stage ran ${writeStage.head._1} task(s)")

    val root = new java.io.File(s"$dir/events_routed")
    val leaves = for {
      s <- root.listFiles().toSeq if s.isDirectory
      b <- s.listFiles().toSeq if b.isDirectory
      batch <- b.listFiles().toSeq if batch.isDirectory
    } yield batch
    assert(leaves.size == sinks.size * 8)
    leaves.foreach { d =>
      val data = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(data.length == 1, s"$d holds ${data.length} data files")
    }

    val ref = tmp()
    write(TableIO(ref), routed(spark, 7), 7)
    assert(fingerprint(dir) == fingerprint(ref))
    assert(fingerprint(dir)._1 == nRows)
  }

  test("the write leaves the session's coalescing floor and overwrite mode as they were") {
    val s = wide
    def confs = (s.conf.getAll.get(minSize), s.conf.getAll.get(overwriteMode))
    val states = Seq(
      (None, None),
      (Some("2097152"), Some("static")))
    for ((min, mode) <- states) {
      min.fold(s.conf.unset(minSize))(s.conf.set(minSize, _))
      mode.fold(s.conf.unset(overwriteMode))(s.conf.set(overwriteMode, _))
      val before = confs
      assert(before == (min, mode))

      val dir = tmp(); val io = TableIO(dir)
      write(io, routed(s, 7), 7)
      assert(confs == before)
      // the write's own dynamic overwrite mode holds under a static
      // session: writing batch 8 keeps batch 7
      write(io, routed(s, 8), 8)
      assert(confs == before)
      assert(s.read.parquet(s"$dir/events_routed")
        .where(col("__batch__") === 7).count() == nRows)

      // an undeclared sink fails the write through raise_error
      val e = intercept[Exception] {
        write(TableIO(tmp()), routed(s, 9, sinks :+ "rogue"), 9)
      }
      def messages(t: Throwable): String =
        if (t == null) "" else t.getMessage + " " + messages(t.getCause)
      assert(messages(e).contains("rogue"))
      assert(confs == before)
    }
    s.conf.unset(minSize)
    s.conf.unset(overwriteMode)
  }
}
