package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-based log ingestion — the batch analog of the reference's
  * `input_file` tailing source (`core/plugin/input/InputFile.cpp:61-189`,
  * discovery `core/file_server/FileDiscoveryOptions.*`, reader
  * `core/file_server/reader/LogFileReader.cpp`): glob-discovered text
  * files, each event tagged with its source path (`__source__`, the
  * reference's `__tag__:__path__`), optionally with stable per-file line
  * numbers so the multiline splitter can re-segment exactly as the
  * sequential reader would.
  *
  * Two tiers:
  *  - [[lines]]: the 100 TB path — a plain distributed text scan
  *    (files split across tasks, no ordering guarantee beyond what the
  *    operators need; parsing/filtering/routing are all order-free);
  *  - [[wholeFileLines]]: one file = one row (`wholetext`) split into
  *    `(line_no, text)` — exact reader-order semantics, one task per
  *    file, the same unit-of-work model as the reference's per-file
  *    reader. Use for multiline assembly; bounded by file size like the
  *    reference's in-memory LogBuffer.
  *
  * Offset checkpointing maps onto Structured Streaming's file source
  * (`readStream.text` + checkpoint) — see `streaming/StreamingRunner`;
  * the lineage table plays the role of the reference's
  * dev+inode+offset checkpoint (`core/checkpoint/CheckPointManager.h`).
  */
object LogFiles {

  /** Distributed line scan of `glob`, each line tagged with its file. */
  def lines(spark: SparkSession, glob: String,
      sourceCol: String = "__source__"): DataFrame =
    spark.read.textFile(glob).toDF("text")
      .withColumn(sourceCol, col("_metadata.file_path"))

  /** One task per file: read whole files, split to ordered lines
    * (`line_no` starts at 0; a trailing newline does not produce an
    * empty last line — LogFileReader discards it, `:93` presumption
    * note in ProcessorSplitMultilineLogStringNative.cpp). */
  def wholeFileLines(spark: SparkSession, glob: String,
      sourceCol: String = "__source__"): DataFrame = {
    val whole = spark.read.option("wholetext", "true").textFile(glob)
      .toDF("__content__")
      .withColumn(sourceCol, col("_metadata.file_path"))
    whole
      .select(col(sourceCol), posexplode(
        split(regexp_replace(col("__content__"), "\n$", ""), "\n"))
        .as(Seq("line_no", "text")))
      .select(col(sourceCol), col("line_no").cast("int"), col("text"))
  }

  /** CSV convenience reader with source tagging (the reference's Go
    * file input supports this via processors; Spark reads it natively
    * with full pushdown). */
  def csv(spark: SparkSession, glob: String, header: Boolean = true,
      sourceCol: String = "__source__"): DataFrame =
    spark.read.option("header", header.toString).csv(glob)
      .withColumn(sourceCol, col("_metadata.file_path"))
}
