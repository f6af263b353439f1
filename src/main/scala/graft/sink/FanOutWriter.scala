package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.GroupOps

/** Resumable fan-out writer: the Spark realization of the reference's
  * router → aggregator → flusher tail (logstore router fan-out +
  * shard-hash partitioning + batched sink, §2.5/§2.6 of SURVEY.md).
  *
  * Data lands in ONE distributed pass:
  * `write.partitionBy(__sink__, __bucket__)` with dynamic partition
  * overwrite — no per-sink driver loop, so 2 sinks or 200 cost the same
  * single shuffle-free write (the routing column IS the partition key).
  *
  * The checkpoint unit is the (sink, bucket) partition: a crash between
  * data write and lineage append simply re-overwrites that partition on
  * resume — byte-identical, so at-least-once execution gives
  * exactly-once table state (same contract as the reference's range
  * checkpoints, `ExactlyOnceQueueManager.h:41-56`, without the disk
  * buffer machinery).
  */
final case class FanOutWriter(
    io: TableIO,
    table: String = "events_routed",
    numBuckets: Int = 32,
    bucketKeys: Seq[String] = Seq("conv_id"),
    // the COMPLETE routed-sink name set, when statically known (it
    // always is: the router's rule list names every sink). Non-empty ⇒
    // the candidate (sink, bucket) set is enumerated on the driver with
    // NO data scan; empty ⇒ fall back to a distinct() pass over the
    // data — fine at test scale, a second full scan at 100 TB.
    sinks: Seq[String] = Nil) {

  private def shard = GroupOps.ShardHash(bucketKeys, numBuckets)

  /** Add the shard bucket column (deterministic content hash — same row
    * always lands in the same bucket at any parallelism). */
  def bucketed(routed: DataFrame): DataFrame =
    routed.withColumn("__bucket__", shard.bucketColumn)

  /** Write all (sink, bucket) partitions not yet recorded in lineage for
    * `runId`. `maxBuckets` artificially truncates the write (tests use it
    * to simulate a mid-run crash). Returns the number of buckets written.
    *
    * `batchPartition` lists, in directory order, constant partition
    * columns below (sink, bucket) and THIS call's value for each; the
    * writer adds them to the data. Streaming passes its micro-batch id,
    * so a REPLAYED batch overwrites only its own partitions while
    * successive batches append.
    */
  def write(routed: DataFrame, runId: String,
      maxBuckets: Int = Int.MaxValue,
      batchPartition: Seq[(String, Any)] = Nil): Int = {
    val spark = routed.sparkSession
    val data0 = bucketed(batchPartition.foldLeft(routed) {
      case (df, (c, v)) => df.withColumn(c, lit(v))
    })
    // A declared sink set is a CONTRACT: a routed row with an
    // undeclared sink would be silently dropped on resume and never
    // lineage-recorded, so fail the write loudly instead — the check
    // rides the write pass, no extra scan.
    val data =
      if (sinks.isEmpty) data0
      else data0.withColumn("__sink__",
        when(col("__sink__").isin(sinks: _*), col("__sink__"))
          .otherwise(raise_error(concat(
            lit("routed sink not in FanOutWriter.sinks: "),
            col("__sink__")))))

    val done = Lineage.completed(spark, io, runId)

    // Candidate partitions: statically sinks × numBuckets (no data
    // scan); the distinct() pass over the data is only the fallback when
    // the sink set was not declared.
    val candidates: Seq[(String, Int)] =
      if (sinks.nonEmpty)
        for (s <- sinks.distinct.sorted; b <- 0 until numBuckets) yield (s, b)
      else data.select(col("__sink__"), col("__bucket__"))
        .distinct().collect().toSeq
        .map(r => (r.getString(0), r.getInt(1)))

    val allBuckets = candidates.filterNot(done).sorted.take(maxBuckets)
    if (allBuckets.isEmpty) return 0

    // Common path (fresh complete run): nothing done, nothing truncated
    // → write the whole input with NO pending filter. Resume/partial
    // runs use an exact bounded isin predicate (≤ sinks × buckets).
    val pending =
      if (done.isEmpty && allBuckets.length == candidates.length) data
      else {
        val keep = allBuckets.map { case (s, b) => s"$s|$b" }
        data.where(
          concat_ws("|", col("__sink__"), col("__bucket__")).isin(keep: _*))
      }

    // This run OWNS the attempted partition space: clear attempted
    // directories first (bounded driver-side deletes), because dynamic
    // partition overwrite only replaces partitions present in the data
    // — an attempted-but-now-empty partition would otherwise keep stale
    // rows from an earlier run (and poison the read-back lineage).
    io.deletePartitions(spark, table, allBuckets,
      subdirs = batchPartition.map { case (c, v) => c -> String.valueOf(v) })

    // TableIO.overwritePartitions owns the one-shuffle-per-partition-key
    // clustering (each (sink, bucket) partition written by a single
    // task — without it, tasks × partitions small files; measured 3072
    // files for 96 partitions). maxRecordsPerFile still splits
    // oversized partitions (LogGroup batching parity).
    io.overwritePartitions(pending, table,
      Seq("__sink__", "__bucket__") ++ batchPartition.map(_._1))
    // Lineage from the WRITTEN table, not from the input plan: reading
    // back compressed parquet restricted to the attempted partitions
    // (OR-of-equalities -> partition pruning) is far cheaper than
    // re-running parse/enrich/route.
    val attempted = allBuckets.map { case (s, b) =>
      col("__sink__") === s && col("__bucket__") === b
    }.reduce(_ || _)
    val thisBatch = batchPartition.foldLeft(lit(true)) {
      case (acc, (c, v)) => acc && col(c) === v
    }
    // A fully-empty write leaves no parquet footers to infer a schema
    // from — fall back to the (empty) input plan so the zero-row
    // lineage records still land. Only that schema-inference failure is
    // expected; any other read error must stay loud (a swallowed corrupt
    // footer would silently record zero lineage).
    val lineageSource =
      try io.read(spark, table).where(attempted && thisBatch)
      catch {
        case _: org.apache.spark.sql.AnalysisException => pending.limit(0)
      }
    // attempted-but-empty partitions get zero-row lineage so resume
    // marks them complete instead of re-attempting forever
    Lineage.record(io, runId, lineageSource, expected = allBuckets)
    allBuckets.length
  }
}
