package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-shaped table layer over parquet directories.
  *
  * No Iceberg runtime jar exists in this sandbox (verified against
  * /opt/spark/jars), so this layer supplies the Iceberg semantics the
  * pipeline actually relies on — partitioned appends, idempotent
  * overwrite-by-partition (the Iceberg `overwritePartitions` /
  * `replaceWhere` contract), snapshot-ish metadata via the lineage table
  * ([[Lineage]]) — behind one small surface, so a real Iceberg catalog
  * (`df.writeTo(t).overwritePartitions()`) drops in without touching
  * operator code.
  *
  * Batching parity with the reference sink
  * (`core/plugin/flusher/sls/FlusherSLS.cpp:46-59`: ≤4000 logs per
  * LogGroup): `maxRecordsPerFile` bounds rows per written file; parquet
  * zstd replaces the reference's LZ4 group compression
  * (`core/common/compression/`).
  */
final case class TableIO(root: String,
    maxRecordsPerFile: Long = 4000,
    compression: String = "zstd") {

  def path(table: String): String = s"$root/$table"

  private def writer(df: DataFrame) =
    df.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("compression", compression)

  /** Plain append (new files, new data). */
  def append(df: DataFrame, table: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = writer(df).mode("append")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path(table))
  }

  /** Idempotent overwrite of exactly the partitions present in `df`
    * (dynamic partition overwrite — Iceberg's `overwritePartitions`).
    * Re-writing the same logical partition replaces, never duplicates:
    * this is what makes checkpoint resume exactly-once at the partition
    * granularity. */
  def overwritePartitions(df: DataFrame, table: String,
      partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "overwritePartitions needs partition columns")
    val spark = df.sparkSession
    // shuffle on the partition columns first: without it every writer
    // task emits one file into every partition dir it touches —
    // tasks × dirs tiny files (the banded-LSH index measured 60k files
    // for 2k vectors, 80 s build, 7 s reads; 1 file/dir reads in <1 s).
    // One AQE-coalesced shuffle per index build is the right trade at
    // any scale: readers pay file-open and listing cost forever.
    // AQE coalesces that shuffle by bytes, never below minPartitionSize
    // (1 MB by default), but a partitioned write costs per file: a
    // fan-out micro-batch's ~0.6 MB shuffle collapsed to ONE task that
    // wrote all 96 partition files in turn (1.7–2.0 s of wall time for
    // 0.6–0.75 CPU-s). With the floor lifted for this write only, AQE's
    // parallelism-first target (shuffle bytes ÷ defaultParallelism)
    // gives one wave of tasks; a shuffle over defaultParallelism MB
    // plans exactly as before. Each partition dir still gets one task.
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prev = spark.conf.getAll.get(minSize)
    spark.conf.set(minSize, "1")
    try
      writer(df.repartition(partitionCols.map(df.col): _*))
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(path(table))
    finally prev match {
      case Some(v) => spark.conf.set(minSize, v)
      case None => spark.conf.unset(minSize)
    }
  }

  /** Full overwrite (small control tables only). */
  def overwrite(df: DataFrame, table: String): Unit =
    writer(df).mode("overwrite").parquet(path(table))

  /** One partition's directory, `<table>/<col>=<value>/…` in the given
    * order, named with Spark's own Hive partition-path escaping (a null
    * or empty value is the default-partition directory), so it matches
    * what the writer produced even for special characters. */
  private def partitionPath(table: String,
      partition: Seq[(String, Any)]): org.apache.hadoop.fs.Path = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    new org.apache.hadoop.fs.Path((path(table) +: partition.map {
      case (c, v) => ExternalCatalogUtils.getPartitionPathString(c,
        Option(v).map(String.valueOf).orNull)
    }).mkString("/"))
  }

  /** Delete specific partition directories (bounded, driver-side — the
    * declared partition space is ≤ sinks × buckets). Dynamic partition
    * overwrite only replaces partitions PRESENT in the written data;
    * a run that owns a declared partition space must clear the
    * attempted-but-now-empty ones too, or stale rows from an earlier
    * run survive in them. `subdirs` appends deeper partition levels
    * (e.g. streaming's `__batch__=<id>`). Paths go through the Hadoop
    * FileSystem API (scheme-aware, no listFiles NPE). */
  def deletePartitions(spark: SparkSession, table: String,
      pairs: Seq[(String, Int)],
      subdirs: Seq[(String, String)] = Nil): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    pairs.foreach { case (s, b) =>
      val target = partitionPath(table,
        Seq("__sink__" -> s, "__bucket__" -> b) ++ subdirs)
      val fs = target.getFileSystem(conf)
      if (fs.exists(target)) fs.delete(target, true): Unit
    }
  }

  /** Read ONLY the listed partitions of `table`: their directories go
    * to the reader as explicit paths, with `basePath` recovering the
    * partition columns. Pruning by a predicate over the table root
    * reads the same rows but DISCOVERS every partition directory first
    * (measured: 6 s of listing for a 4096-directory index whose probe
    * set is 144 directories, 0.77 s path-scoped). A metastore-backed
    * catalog prunes server-side; on a bare parquet directory the
    * partition paths are that catalog. Partitions without a directory
    * are skipped (bounded driver-side existence checks); `None` when
    * none exists. */
  def readPartitions(spark: SparkSession, table: String,
      partitions: Seq[Seq[(String, Any)]]): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = partitions.map(partitionPath(table, _)).distinct
      .filter(p => p.getFileSystem(conf).exists(p))
    Option.when(paths.nonEmpty)(spark.read.option("basePath", path(table))
      .parquet(paths.map(_.toString): _*))
  }

  /** Bucketed write (Hive-style layout via `saveAsTable`): rows are
    * hash-partitioned into `numBuckets` files per partition by
    * `bucketCols`, and the bucketing metadata lets Catalyst plan
    * co-located joins/aggregations on the bucket keys with NO exchange —
    * the at-rest analog of the reference's shard-hash routing
    * (`aggregator_shardhash.go:65-105`): at 100 TB, repeated joins on
    * conv_id against bucketed tables skip the dominant shuffle entirely.
    * Requires a session with a warehouse dir (any SparkSession default).
    */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val w = writer(df).mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .option("path", path(table))
      .format("parquet")
      .saveAsTable(tableName(table))
  }

  /** Read a bucketed table (bucket metadata preserved). */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(tableName(table))

  private def tableName(table: String): String =
    "graft_" + table.replaceAll("[^A-Za-z0-9_]", "_") + "_" +
      Integer.toHexString(root.hashCode).replace("-", "m")

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(path(table))

  /** Through the Hadoop FileSystem API, like [[deletePartitions]], so a
    * `file://`, `hdfs://` or `s3a://` root is seen too. */
  def exists(spark: SparkSession, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
