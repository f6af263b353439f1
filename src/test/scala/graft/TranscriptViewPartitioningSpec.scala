package graft

import java.nio.file.Files
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cached transcript view must give every query the same rows
  * whatever the session's shuffle partitions, and queries must read it
  * in one wave of `defaultParallelism` tasks, not one task per cached
  * block. */
class TranscriptViewPartitioningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A small `events` table in the sf test-data shape, written to a
    * fresh directory. Two directories get the same rows, so each
    * session caches its own view (the cache is shared by plan). */
  private def eventsDir(): String = {
    val dir = Files.createTempDirectory("graft-view").toString
    val id = col("id")
    def h(salt: Int) = abs(xxhash64(id, lit(salt)))
    spark.range(0, 2000, 1, 2).select(
      id.as("event_id"),
      expr("timestamp_micros(1704067200000000 + id * 1296000000)").as("ts"),
      pmod(h(1), lit(40L)).as("user_id"),
      element_at(array(Seq("signup", "error", "click", "view", "purchase")
        .map(lit): _*), (pmod(h(2), lit(5)) + 1).cast("int")).as("event_type"),
      round(pmod(h(3), lit(10000)) / 100.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(4), lit(100)), lit("}")).as("props"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  /** Row count and an order-independent content hash. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c => col(s"`$c`").cast("string"))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The query over `dir`, or None when it needs a table other than
    * `events` (only `events.parquet` exists there). */
  private def build(name: String, s: SparkSession, dir: String): Option[DataFrame] =
    try Some(SparkEntry.queries(name)(s, dir))
    catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" &&
          !e.getMessage.contains("events.parquet") => None
    }

  /** True when every leaf of the plan is the cached view or a constant
    * table: the query's only input is the transcript view. */
  private def viewOnly(df: DataFrame): Boolean = {
    val leaves = df.queryExecution.withCachedData.collectLeaves()
    leaves.exists(_.isInstanceOf[InMemoryRelation]) &&
      leaves.forall(l => l.isInstanceOf[InMemoryRelation] ||
        l.isInstanceOf[LocalRelation])
  }

  test("every view-only query gives the same rows at 200 shuffle " +
    "partitions as at the test default, and reads the view in one wave") {
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "200")
    val narrow = spark.newSession()
    val (wideDir, narrowDir) = (eventsDir(), eventsDir())

    // the premise: at 200 shuffle partitions the cached view holds 200
    // blocks, and a narrow query over it still plans one wave of tasks
    val parsed = SparkEntry.queries("regex_parse")(wide, wideDir)
    val cached = parsed.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.getNumPartitions
    }
    assert(cached.contains(200), cached)
    assert(parsed.rdd.getNumPartitions <= par, parsed.rdd.getNumPartitions)

    val viewQueries = SparkEntry.queries.keys.toSeq.sorted.flatMap(n =>
      build(n, wide, wideDir).filter(viewOnly).map(n -> _))
    assert(viewQueries.size >= 40, viewQueries.map(_._1))
    val differ = viewQueries.flatMap { case (n, df) =>
      val a = fingerprint(df)
      val b = fingerprint(SparkEntry.queries(n)(narrow, narrowDir))
      if (a == b) None else Some(s"$n: $a at 200 vs $b at the default")
    }
    assert(differ.isEmpty, differ.mkString("\n"))
  }
}
