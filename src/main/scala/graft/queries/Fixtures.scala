package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.oracle.TranscriptView
import graft.sink.TableIO

/** What the query records share: the table readers, the one transcript
  * view cache, the fixtures several queries derive their input from, and
  * the regexes their oracle SQL repeats. */
object Fixtures {

  /** Table scan with an adaptive width floor: a small-SF parquet file
    * arrives as ONE split (10 MB < files.maxPartitionBytes), which
    * serializes every downstream per-row projection onto one core —
    * fingerprint_bottomk measured 3.3 s single-split vs 0.38 s at 32.
    * At production scale the scan already has ≥ parallelism splits and
    * the condition is false, so no shuffle is added where it would
    * hurt. */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val par = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  // The transcript view derivation includes a per-user row_number()
  // window; deriving it once per QUERY adds 1-4 s of fixed overhead to
  // every sweep entry. Cache + materialize once per (session, dir) so
  // per-operator timings measure the operator. (Session-keyed: entries
  // die with their session; MEMORY_AND_DISK bounds heap at big SF.)
  // The window leaves spark.sql.shuffle.partitions cached blocks (200
  // by default) and AQE does not coalesce a cached plan, so every query
  // would run one task per block. Queries read the cache through a
  // coalesce to defaultParallelism instead: one wave of tasks, no
  // shuffle. The cached plan itself stays as it is: packing it into
  // fewer, larger blocks changes the bytes every cached scan reads.
  // This is the only cache: every query file reads the view through it.
  private val viewCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def transcripts(spark: SparkSession, dir: String): DataFrame =
    viewCache.getOrElseUpdate((spark, dir), {
      val df = TranscriptView.load(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize eagerly, outside any query's timing
      df.coalesce(spark.sparkContext.defaultParallelism)
    })

  /** Deterministic Prometheus exposition-format lines derived from the
    * transcript table: plain samples, labeled samples (incl. trailing
    * comma and escaped label values), second- and millisecond-resolution
    * timestamps, a trailing comment, plus comment / malformed / blank
    * lines that the parser must skip or drop. */
  def promFixture(t: DataFrame): DataFrame = {
    val m8 = pmod(col("turn_idx"), lit(8))
    t.withColumn("line",
      when(m8 === 0, concat(lit("req_total{tool=\""), col("tool"),
          lit("\",role=\""), col("role"), lit("\"} "), col("turn_idx")))
        .when(m8 === 1, lit("# TYPE req_total counter"))
        .when(m8 === 2, concat(lit("mem_bytes "), col("turn_idx"),
          lit(".5 1700000000")))
        .when(m8 === 3, lit("lat_ms{q=\"a\\nb\",p=\"c\\\"d\"} 2.5e3 1700000123456"))
        .when(m8 === 4, concat(lit("bad{tool=\""), col("tool"), lit("\" 1")))
        .when(m8 === 5, concat(lit("up{role=\""), col("role"), lit("\",} 1")))
        .when(m8 === 6, lit("x:y_total 3.25 # c"))
        .otherwise(lit("   ")))
  }

  /** Sorted `k=v` join of a label map — a portable, hash-comparable
    * rendering of map<string,string> for the oracle. */
  def promLabelsStr(labels: Column): Column =
    array_join(transform(array_sort(map_entries(labels)),
      e => concat(e.getField("key"), lit("="), e.getField("value"))), ",")

  /** Build-once index cache keyed on the sf dir, at
    * `/tmp/graft_<table>_<dir>`: repeated invocations (the bench runs a
    * query several times) measure the path-scoped LOOKUP, not index
    * construction, and nothing leaks per call. The cache is the
    * `<table>.done` marker written AFTER `write` (dynamic partition
    * overwrite suppresses _SUCCESS): a crashed mid-write index is
    * rebuilt, never served. */
  def cachedIndex(dir: String, table: String)(write: TableIO => Unit): TableIO = {
    val root = new java.io.File(
      s"/tmp/graft_${table}_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    val io = TableIO(root.toString)
    val done = new java.io.File(root, s"$table.done")
    if (!done.exists()) {
      write(io)
      done.createNewFile()
    }
    io
  }

  // oracle side: the nginx access-log and CSV-row shapes, as DuckDB regexes
  val nginxRx = """^(\S+) - (\S+) \[([^\]]+)\] "(\w+) (\S+) ([^"]+)" ([0-9]+) ([0-9]+) "([^"]*)" "([^"]*)"$"""
  val csvRx = """^([^,"]+),([0-9]+),"([^"]*)",([0-9]+)$"""
}
