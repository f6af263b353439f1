package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.PipelineConfig
import graft.functions.Cols
import graft.ops.{DedupOps, RouteOps}

/** End-to-end training-data curation: the LLM-data operators composed
  * the way a real pre-training ingest run uses them —
  *
  *   quality/repetition gate → exact dedup → MinHash-LSH near-dup
  *   candidates → duplicate-cluster resolution → survivor write through
  *   the resumable fan-out writer.
  *
  * The job is defined once, as [[spec]], which
  * [[graft.run.PipelineRunner.run]] runs; `examples/curation_pipeline.yaml`
  * is the same spec as a config file. The optional Dolma-shaped stages
  * are registry types too, so a config or a Scala spec inserts them:
  * `paragraph_dedup` FIRST (so the gate judges the cleaned text, not
  * shared footers) and `decontaminate` after the gate (cheapest corpus
  * left when the broadcast overlap join runs).
  *
  * Scale shape, stage by stage: the gate is a pure per-row projection
  * (every signal is a higher-order-function fold over the word array —
  * no explode, no shuffle); exact dedup is one hash aggregation on the
  * content hash; the only joins near-dup detection performs are the
  * bounded band-bucket self-join and the per-iteration label joins of
  * [[DedupOps.resolveDuplicates]] (lineage-truncated); the final write
  * is the same single-pass partitioned write every other pipeline uses,
  * so a crash at any point resumes by lineage with byte-identical
  * survivors (every stage is a deterministic function of the corpus).
  *
  * Every stage reads `doc_id` and `text`. The gate thresholds are tuned
  * so each gate bites on the synthetic corpus; at production scale they
  * come from corpus calibration, not from this file.
  */
object CurationPipeline {

  private val minWords = 10
  private val minDistinctRatio = 0.3
  private val maxTopBigramFrac = 0.12
  val minHash: DedupOps.MinHashLSH = DedupOps.MinHashLSH(
    numHashes = 16, bands = 4, shingleSize = 3, threshold = 0.5)
  val maxIter = 20

  /** Largest repeat-count of any word bigram, as a per-row fold:
    * sort the bigram array, then count the longest equal run. The same
    * statistic as `TextOps.repetitionStats`' top_bigram count, but
    * computed WITHOUT explode+groupBy+join-back — at 10^12 docs the
    * difference between a projection and three shuffles. */
  private def maxBigramRun(w: Column): Column = {
    val bgs = when(size(w) >= 2,
      array_sort(transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", slice(w, i, lit(2))))))
      .otherwise(array().cast("array<string>"))
    Cols.let(bgs) { sorted =>
      aggregate(sorted,
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (st, x) => {
          val run = when(x === st.getField("prev"), st.getField("run") + 1L)
            .otherwise(lit(1L))
          Cols.let(run)(r =>
            struct(x.as("prev"), r.as("run"),
              greatest(st.getField("best"), r).as("best")))
        },
        st => st.getField("best"))
    }
  }

  /** Quality/repetition gate — one codegen'd filter projection. */
  def qualityGate(docs: DataFrame): DataFrame =
    docs.filter(Cols.let(DedupOps.words(col("text"))) { w =>
      val nw = size(w)
      nw >= minWords &&
        size(array_distinct(w)).cast("double") / nw >= minDistinctRatio &&
        maxBigramRun(w).cast("double") / (nw - 1) <= maxTopBigramFrac
    })

  /** Exact dedup: keep the smallest id of each identical-text group. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val keepIds = docs
      .groupBy(md5(col("text").cast("binary")).as("__md5__"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    docs.join(keepIds, Seq("doc_id"), "left_semi")
  }

  /** Near dedup: keep the smallest id of each MinHash-LSH duplicate
    * component (docs in no component survive trivially). */
  def nearDedup(docs: DataFrame): DataFrame = {
    val resolved = DedupOps.resolveDuplicates(minHash.pairs(docs),
      maxIter = maxIter)
    val losers = resolved.filter(!col("keep")).select(col("id").as("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** The whole job: gate, exact dedup, near dedup; every survivor goes
    * to sink `curated` of `documents_curated`, 16 `doc_id` buckets. */
  val spec: PipelineConfig.Spec = PipelineConfig.Spec(
    processors = Seq(qualityGate _, exactDedup _, nearDedup _),
    router = Some(RouteOps.LogstoreRouter("doc_id", Nil,
      defaultSink = "curated")),
    sink = Some(PipelineConfig.SinkSpec("documents_curated", 16,
      Seq("doc_id"), None)))

  /** The curated survivor set: the processor line of [[spec]]. A
    * document survives iff it passes the gate, is the smallest id of its
    * exact-duplicate group, and is the smallest id of its near-duplicate
    * component. */
  def survivors(docs: DataFrame): DataFrame =
    spec.processors.foldLeft(docs)((d, s) => s(d))
}
