package graft.run

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.config.PipelineConfig
import graft.ops.DedupOps
import graft.pipeline.CurationPipeline
import graft.sink.TableIO

/** End-to-end curation: gate → exact dedup → near-dup resolution →
  * resumable survivor write, run by [[PipelineRunner]]. Fixture corpus
  * has one planted instance of every elimination path, so the survivor
  * set pins each stage. */
class CurationResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** 20 distinct-word base docs + planted exact dups, near dups (a
    * 3-chain), a low-distinct-ratio doc, a repeated-bigram doc, and a
    * too-short doc. */
  private def corpus = {
    val s = spark
    import s.implicits._
    val base = (1 to 20).map { i =>
      (i.toLong, s"unique document number $i talks about topic$i " +
        s"with plenty of distinct words alpha$i beta$i gamma$i delta$i")
    }
    val exactDup = Seq(
      (21L, "identical content duplicated verbatim across many mirror sites of the corpus"),
      (22L, "identical content duplicated verbatim across many mirror sites of the corpus"))
    val near = "the quick brown fox jumps over the lazy dog while seven wizards brew potions quietly"
    val nearDup = Seq(
      (31L, near),
      (32L, near.replace("quietly", "loudly")),
      (33L, near + " indeed")) // one appended word: high-jaccard variant
    val lowQuality = Seq(
      (41L, Seq.fill(30)("spam").mkString(" ")), // distinct ratio 1/30
      (42L, Seq.fill(15)("lorem ipsum").mkString(" ")), // one bigram dominates
      (43L, "too short")) // under minWords
    (base ++ exactDup ++ nearDup ++ lowQuality).toDF("doc_id", "text")
  }

  /** Whether the resolver converges, within the pipeline's `maxIter`,
    * on the near-dup candidate pairs of `docs` after `stages`. */
  private def resolverConverges(docs: DataFrame,
      stages: Seq[PipelineConfig.Stage]): Boolean = {
    val pairs = CurationPipeline.minHash
      .pairs(stages.foldLeft(docs)((d, s) => s(d)))
    DedupOps.resolveDuplicatesDetailed(pairs,
      maxIter = CurationPipeline.maxIter)._2
  }

  test("survivor set eliminates exactly the planted losers") {
    val surv = CurationPipeline.survivors(corpus)
    assert(resolverConverges(corpus,
      Seq(CurationPipeline.qualityGate _, CurationPipeline.exactDedup _)))
    val ids = surv.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == ((1 to 20).map(_.toLong).toSet + 21L + 31L))
    // 22 exact-dup loser; 32/33 near-dup losers; 41/42/43 gated
  }

  test("near-dup chain resolves to ONE component (transitivity, not just pairs)") {
    val pairs = CurationPipeline.minHash
      .pairs(CurationPipeline.qualityGate(corpus))
    val ab = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 31-32 and 31-33 (and likely 32-33) are candidates; survivors keep
    // only the component minimum even if some direct pair is missing
    assert(ab.contains((31L, 32L)) && ab.contains((31L, 33L)))
  }

  test("kill mid-write, rerun same runId: identical survivors, no dup rows") {
    val dirA = Files.createTempDirectory("graft-cur").toString
    val dirB = Files.createTempDirectory("graft-cur").toString
    val spec = CurationPipeline.spec.copy(
      sink = CurationPipeline.spec.sink.map(_.copy(numBuckets = 8)))
    def run(dir: String, runId: String, maxBuckets: Int = Int.MaxValue) =
      PipelineRunner.run(corpus, TableIO(dir), runId, maxBuckets, spec)
    val clean = run(dirA, "cur-clean")
    assert(clean.bucketsWritten == 8 && clean.complete)
    assert(resolverConverges(corpus,
      Seq(CurationPipeline.qualityGate _, CurationPipeline.exactDedup _)))
    // crash after 3 of 8 buckets
    val crash = run(dirB, "cur-crash", maxBuckets = 3)
    assert(crash.bucketsWritten == 3)
    val resume = run(dirB, "cur-crash")
    assert(resume.bucketsWritten == 5) // only the missing buckets
    def fingerprint(dir: String) = {
      val back = spark.read.parquet(s"$dir/documents_curated")
      val cols = back.columns.sorted.map(c => col(c).cast("string"))
      val r = back.select(xxhash64(cols: _*).as("h"))
        .agg(count(lit(1)), bit_xor(col("h"))).collect().head
      (r.getLong(0), r.getLong(1))
    }
    assert(fingerprint(dirA) == fingerprint(dirB))
    // survivor identity matches the direct computation
    val direct = CurationPipeline.survivors(corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val back = spark.read.parquet(s"$dirB/documents_curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(back == direct)
    // the runner's self-metrics count exactly the curated rows
    val nEvents = spark.read.parquet(s"$dirB/_metrics")
      .where(col("run_id") === "cur-crash" && col("sink") === "curated")
      .select("n_events").collect().map(_.getLong(0))
    assert(nEvents.toSeq == Seq(back.size.toLong))
    // re-running a completed run is a no-op
    assert(run(dirB, "cur-crash").bucketsWritten == 0)
  }

  test("optional stages: paragraph boilerplate removal and benchmark " +
    "decontamination compose into the survivor chain") {
    val s = spark
    import s.implicits._
    // 10-word footer: long enough to pass the gate on its own
    val footer = "subscribe to our newsletter for updates terms and privacy policy"
    val extra = Seq(
      (51L, "merchant analytics payload discussing revenue cohorts retention " +
        "funnels churn seasonality forecasts dashboards alerts and " +
        "attribution models for growing storefront operators\n\n" + footer),
      (52L, "travel blog payload describing mountain villages rivers markets " +
        "festivals trails lodges guides seasons packing advice and local " +
        "cuisine for curious wanderers\n\n" + footer),
      (53L, footer)) // footer-only doc: nothing left after stage 0
    val docs = corpus.union(extra.toDF("doc_id", "text"))
    // one eval probe = doc 5's first 8 words (planted leakage)
    val bench = Seq((900L, "unique document number 5 talks about topic5 with"))
      .toDF("bench_id", "text")
    // paragraph dedup first, decontamination after the gate
    val cleanAndGate: Seq[PipelineConfig.Stage] = Seq(
      DedupOps.ParagraphDedup().apply _, CurationPipeline.qualityGate _,
      DedupOps.Decontaminate(n = 8).survivors(_, bench))
    val stages = cleanAndGate ++
      Seq(CurationPipeline.exactDedup _, CurationPipeline.nearDedup _)
    val surv = PipelineConfig.Spec(stages, router = None).apply(docs)
    assert(resolverConverges(docs,
      cleanAndGate :+ (CurationPipeline.exactDedup _)))
    val ids = surv.select("doc_id").collect().map(_.getLong(0)).toSet
    val baseKeep = (1 to 20).map(_.toLong).toSet + 21L + 31L
    // doc 5 decontaminated; 53 emptied by boilerplate removal then gated;
    // 51 keeps the footer (first occurrence), 52 keeps only its body
    assert(ids == baseKeep - 5L + 51L + 52L)
    val t52 = surv.where(col("doc_id") === 52L)
      .select("text").collect().head.getString(0)
    assert(!t52.contains("newsletter") && t52.contains("travel blog payload"))
    val t51 = surv.where(col("doc_id") === 51L)
      .select("text").collect().head.getString(0)
    assert(t51.contains("newsletter"))
    // with the stages OFF the same corpus keeps 5 and 53 — the
    // eliminations above are attributable to the optional stages
    val plain = CurationPipeline.survivors(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(plain == baseKeep + 51L + 52L + 53L)
  }
}
