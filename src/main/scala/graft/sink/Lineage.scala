package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition lineage / checkpoint / metrics table (north rule:
  * "checkpoints per-partition progress into an Iceberg lineage/metrics
  * table so it resumes idempotently").
  *
  * One row per (run_id, sink, bucket) that has been durably written:
  * {{{
  *   run_id    string  — logical job run (same id across retries!)
  *   sink      string  — routed sink table name
  *   bucket    int     — shard-hash bucket = the checkpoint unit
  *   n_rows    long    — rows written (metrics)
  *   content_hash long — order-independent payload hash (xor of row
  *                        xxhash64) — cross-run equality evidence
  *   pack_id   string  — deterministic lineage id: md5(run|sink|bucket),
  *                        the analog of the reference's __pack_id__
  *                        (aggregator_base.go:140-147) but derived from
  *                        CONTENT coordinates, not task attempt, so
  *                        retries produce the identical id
  * }}}
  *
  * Completion marking is atomic at bucket granularity: the data write
  * (dynamic partition overwrite, [[TableIO.overwritePartitions]]) lands
  * before the lineage append, so a crash between the two re-runs the
  * bucket — which is safe, because re-writing a bucket partition
  * replaces it byte-for-byte (idempotent at-least-once = effective
  * exactly-once).
  */
object Lineage {

  val table = "_lineage"

  /** Buckets already completed for `runId` per sink. */
  def completed(spark: SparkSession, io: TableIO, runId: String): DataFrame = {
    if (!io.exists(spark, table))
      return spark.emptyDataFrame
        .withColumn("sink", lit(""))
        .withColumn("bucket", lit(0))
        .limit(0)
    io.read(spark, table)
      .where(col("run_id") === runId)
      .select("sink", "bucket").distinct()
  }

  /** Deterministic pack id for a (run, sink, bucket) coordinate. */
  def packId(runId: String): org.apache.spark.sql.Column =
    md5(concat_ws("|", lit(runId), col("sink"), col("bucket")).cast("binary"))

  /** Append lineage rows for freshly-written data: one row per
    * (sink, bucket) with row count + content hash, computed
    * distributed (single aggregation, no driver data). `expected`
    * (bounded, ≤ sinks × buckets) lists every ATTEMPTED partition;
    * attempted coordinates with no data still get a zero-row lineage
    * record so a resume sees them as complete. */
  def record(io: TableIO, runId: String, written: DataFrame,
      sinkCol: String = "__sink__", bucketCol: String = "__bucket__",
      expected: Seq[(String, Int)] = Nil): Unit = {
    val spark = written.sparkSession
    // Canonicalize before hashing — SORTED column names, values cast to
    // string — so the hash is SOURCE-INDEPENDENT: the fan-out writer
    // hashes the read-back parquet, other callers (and the writer's
    // empty-write fallback) hash a plan, and the two differ in column
    // order and in partition-column types (a long __batch__ in the plan
    // is inferred int on read-back). Identical content must hash equal
    // through either path or cross-run equality evidence is useless.
    val allCols = written.columns.filterNot(c => c == sinkCol || c == bucketCol)
      .sorted.map(c => col(c).cast("string"))
    val grouped = written
      .select(col(sinkCol).as("sink"), col(bucketCol).as("bucket"),
        xxhash64(allCols: _*).as("__h__"))
      .groupBy("sink", "bucket")
      // bit_xor: order-independent and overflow-free under ANSI mode
      .agg(count(lit(1)).as("n_rows"), bit_xor(col("__h__")).as("content_hash"))
    val withEmpty = if (expected.isEmpty) grouped else {
      import spark.implicits._
      // ≤ sinks × buckets rows on both sides. The coordinate list in ONE
      // partition probes the broadcast counts, so a run appends one
      // lineage file, not one per task ([[completed]] re-reads them all
      // on every later call). Coalescing the joined rows instead put the
      // final aggregation of every partition in one task (64 MB peak).
      val exp = expected.toDF("sink", "bucket").coalesce(1)
      exp.join(broadcast(grouped), Seq("sink", "bucket"), "left")
        .select(col("sink"), col("bucket"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          coalesce(col("content_hash"), lit(0L)).as("content_hash"))
    }
    val rows = withEmpty
      .withColumn("run_id", lit(runId))
      .withColumn("pack_id", packId(runId))
      .select("run_id", "sink", "bucket", "n_rows", "content_hash", "pack_id")
    io.append(rows, table)
  }
}
