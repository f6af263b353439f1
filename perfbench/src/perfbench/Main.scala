package perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import Util._

/** Benchmark harness entry point; `perfbench/run.py` builds and starts it.
  *
  * {{{
  * perfbench.Main --workload batch_job|stream_backlog|operator_sweep
  *   --seed N --seconds S --trace 0|1 --work DIR --cores N --traces DIR
  *   --fingerprints FILE [--convs N] [--files N] [--queries default|all|q1,q2]
  *   [--inject throw|wrong] [--write-fingerprints]
  * perfbench.Main --check-coverage
  * }}}
  *
  * The last stdout line is the JSON result; the exit code is non-zero when
  * any operation failed or failed its output check.
  */
object Main {

  private def parse(argv: Array[String]): Map[String, String] = {
    val flags = Set("--write-fingerprints", "--check-coverage")
    var rest = argv.toList
    val out = Map.newBuilder[String, String]
    while (rest.nonEmpty) rest match {
      case f :: tail if flags(f) => out += f -> "1"; rest = tail
      case k :: v :: tail if k.startsWith("--") => out += k -> v; rest = tail
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    out.result()
  }

  /** The coverage guard on its own: the real table must be complete, and
    * the guard must catch both an unpriced query and a stale entry. */
  private def checkCoverage(): Int = {
    val keys = (SparkEntry.queries ++ SparkEntry.benchQueries).keySet
    val real = SweepModules.problems(keys)
    val unpriced = SweepModules.problems(keys + "new_query")
    val stale = SweepModules.problems(keys, SweepModules.table + ("gone_query" -> "AggOps"))
    val defaultOk = SweepModules.default.forall(keys) &&
      SweepModules.priced.forall(m =>
        SweepModules.default.exists(q => SweepModules.table(q) == m))
    real.foreach(p => log(s"coverage: $p"))
    val ok = real.isEmpty && unpriced == Seq("query 'new_query' has no module") &&
      stale == Seq("module table names unknown query 'gone_query'") && defaultOk
    log(s"coverage guard ${if (ok) "ok" else "FAILED"}: ${keys.size} queries, " +
      s"${SweepModules.modules.size} modules, ${SweepModules.default.size} in the default sweep")
    if (ok) 0 else 1
  }

  private def session(a: Args): SparkSession = {
    // configured as RunPipeline.main configures its session (AQE with skew
    // join, UTC, default shuffle partitions, local[N] when run directly),
    // plus the UI settings `sbt runMain` passes and local scratch dirs
    val s = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[${a.cores}]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val kv = parse(argv)
    if (kv.contains("--check-coverage")) sys.exit(checkCoverage())
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val a = Args(
      workload = need("--workload"), seed = need("--seed").toInt,
      seconds = need("--seconds").toDouble, trace = need("--trace") == "1",
      work = need("--work"), cores = need("--cores").toInt, traces = need("--traces"),
      fingerprints = need("--fingerprints"),
      convs = kv.get("--convs").map(_.toLong), files = kv.get("--files").map(_.toInt),
      queries = kv.getOrElse("--queries", "default"), inject = kv.getOrElse("--inject", ""),
      writeFingerprints = kv.contains("--write-fingerprints"))
    require(Set("batch_job", "stream_backlog", "operator_sweep")(a.workload),
      s"unknown workload ${a.workload}")

    val t0 = System.nanoTime()
    val spark = session(a)
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val sessionS = secs(t0)
    val report = new Report
    val w = a.workload match {
      case "batch_job" => new BatchJob(spark, probe, a, report)
      case "stream_backlog" => new StreamBacklog(spark, probe, a, report)
      case _ => new OperatorSweep(spark, probe, a, report)
    }
    try {
      if (a.writeFingerprints) w.asInstanceOf[OperatorSweep].writeFingerprints()
      else if (a.trace) w.trace()
      else w.measure(sessionS + w.setup())
    } catch {
      case e: Throwable => report.fail(a.workload, describe(e))
    }
    report.errors.foreach(e => log(s"error: $e"))
    spark.stop()
    log(f"total ${secs(t0)}%.1f s")
    println(report.json)
    sys.exit(if (report.failed == 0 && report.attempted > 0) 0 else 1)
  }
}
