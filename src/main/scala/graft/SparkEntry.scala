package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.TranscriptPipeline
import graft.queries._
import graft.queries.Fixtures.transcripts

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2), each with equivalent DuckDB SQL in `oracleSql`.
  * Both are views of the [[graft.queries.Query]] records, which declare
  * each query's builder and its oracle SQL together, one file per SURVEY
  * group under `graft.queries`. Transcript-shaped queries run over
  * [[graft.oracle.TranscriptView]] — a deterministic derivation from the
  * driver's `events` parquet whose defining SQL is portable across Spark
  * and DuckDB, so the oracle verifies the full
  * parse→enrich→route→aggregate pipeline.
  */
object SparkEntry {

  private[graft] val records: Seq[Query] = ProcessorQueries.all ++
    InputQueries.all ++ WireQueries.all ++ CurationQueries.all ++
    SimilarityQueries.all

  /** Flagship: full pipeline on sf0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame = {
    val t = transcripts(spark, "/root/testdata/sf0.001")
    TranscriptPipeline.aggregates(TranscriptPipeline(t))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    records.map(q => q.name -> q.build).toMap

  /** Bench-only entries ([[CurationQueries.bench]]) — NOT part of the
    * driver's oracle contract. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    CurationQueries.bench.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    records.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
