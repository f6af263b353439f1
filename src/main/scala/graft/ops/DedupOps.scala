package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Training-data deduplication operators over a `documents`-shaped table
  * (`doc_id`, `text`). Four tiers, coarsest→finest:
  *
  *  1. exact (md5 groupBy) — one shuffle on the fingerprint;
  *  2. MinHash + LSH banding — the 100 TB near-dup path: signatures are
  *     per-row projections (no shuffle), candidate generation is ONE
  *     shuffle on `(band, bucket)`, and only bucket-colliding pairs are
  *     compared. All-pairs work never happens;
  *  3. SimHash — a single 32/64-bit sketch per document, Hamming-ball
  *     lookup by bucketing on bit-slices;
  *  4. exact n-gram Jaccard — inverted-index self-join on shingles;
  *     quadratic in the worst case, used to verify the sketch tiers at
  *     small scale (and with a frequency cap on hot shingles at scale).
  *
  * All signatures are pure Catalyst higher-order-function expressions
  * (`transform`/`aggregate`/`array_min`) — no UDFs, no RDDs — so they run
  * inside the projection that reads the parquet scan.
  */
object DedupOps {

  /** Normalized word array of `textCol` (lower, whitespace-collapsed). */
  def words(textCol: Column): Column =
    split(regexp_replace(lower(textCol), "\\s+", " "), " ")

  /** Distinct word `n`-gram shingles; docs with fewer than `n` words
    * (incl. empty/null text) yield an EMPTY array rather than erroring —
    * parser totality (`sequence(1, size-n+1)` would otherwise produce a
    * descending range and `slice(w, 0, n)` throws under ANSI mode).
    * The words expression is let-bound so it evaluates once per row,
    * not once per shingle ([[graft.functions.Cols.let]]). */
  def shingles(wordsCol: Column, n: Int): Column =
    graft.functions.Cols.let(wordsCol)(w =>
      coalesce(
        when(size(w) >= n,
          array_distinct(transform(
            sequence(lit(1), size(w) - (n - 1)),
            i => concat_ws(" ", slice(w, i, lit(n)))))),
        array().cast("array<string>")))

  /** Exact dedup: group identical (md5) texts, keep the smallest id. */
  def exact(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Per-salt affine mixers for MinHash: `h_k(x) = (x·A_k + B_k) mod
    * 2^32` over one strong 32-bit base hash per shingle — the standard
    * one-strong-hash + universal-family construction. One md5 (or
    * xxhash) per shingle instead of `numHashes` of them: measured the
    * base hash dominates signature cost. A_k odd < 2^30 keeps x·A_k
    * within int64 in every engine; constants derive from md5 so the
    * DuckDB oracle can reproduce them. */
  def minhashSalts(numHashes: Int): IndexedSeq[(Long, Long)] =
    (0 until numHashes).map { k =>
      val hex = PortableHash.md5Hex(s"mh:$k")
      val a = (java.lang.Long.parseLong(hex.substring(0, 8), 16) %
        (1L << 30)) | 1L
      val b = java.lang.Long.parseLong(hex.substring(8, 16), 16)
      (a, b)
    }

  /** MinHash signature + LSH banding near-duplicate detection.
    *
    * `numHashes` independent permutations approximated by per-salt
    * affine mixes of one base hash ([[minhashSalts]]); `bands` bands of
    * `numHashes/bands` rows each: documents sharing any band bucket
    * become candidate pairs (classic banding: a pair with Jaccard j
    * collides w.p. 1-(1-j^r)^b). Estimated Jaccard = fraction of equal
    * signature slots; pairs below `threshold` are discarded.
    *
    * Scale shape: signature computation is embarrassingly parallel; the
    * only shuffle is the band-bucket self-join, whose fan-out is bounded
    * by bucket occupancy, not n². Hot buckets (boilerplate docs) should
    * be capped with a count filter at 100 TB — see `maxBucketSize`.
    */
  final case class MinHashLSH(
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      maxBucketSize: Int = 0, // 0 = unlimited (verification); >0 caps hot buckets
      portable: Boolean = true) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    private val rows = numHashes / bands
    private val salts = minhashSalts(numHashes)

    /** (idCol, mh: array<long>) — one row per doc with its signature.
      * The base-hash array is let-bound: md5/xxhash runs ONCE per
      * shingle, each of the `numHashes` slots is a cheap affine mix. */
    def signatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
      val w = words(col(textCol))
      val base = (s: Column) =>
        if (portable) PortableHash.md32(s) else PortableHash.fast32(s, 0)
      df.select(col(idCol), shingles(w, shingleSize).as("__sh__"))
        .where(size(col("__sh__")) > 0)
        .select(col(idCol),
          graft.functions.Cols.let(transform(col("__sh__"), base)) { bh =>
            array(salts.map { case (a, b) =>
              array_min(transform(bh, x =>
                pmod(x * lit(a) + lit(b), lit(1L << 32))))
            }: _*)
          }.as("mh"))
    }

    /** (idCol, mh, band, bucket) — exploded LSH bands. */
    def banded(sig: DataFrame, idCol: String): DataFrame = {
      val d = sig.withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      d.withColumn("bucket",
        md5(concat(col("band").cast("string"), lit("|"),
          array_join(slice(col("mh"), col("band") * rows + 1, lit(rows)), ","))
          .cast("binary")))
    }

    /** Candidate pairs with estimated Jaccard ≥ threshold:
      * (doc_a, doc_b, est_jaccard). */
    def pairs(df: DataFrame, idCol: String = "doc_id",
        textCol: String = "text"): DataFrame = {
      val sig = signatures(df, idCol, textCol)
      val b0 = banded(sig, idCol)
      val b = if (maxBucketSize > 0) {
        // cap hot buckets: boilerplate-heavy corpora otherwise quadratic
        val counts = b0.groupBy("band", "bucket").count()
          .where(col("count") <= maxBucketSize).drop("count")
        b0.join(counts, Seq("band", "bucket"))
      } else b0
      val a = b.select(col(idCol).as("doc_a"), col("mh").as("ma"),
        col("band"), col("bucket"))
      val c = b.select(col(idCol).as("doc_b"), col("mh").as("mb"),
        col("band"), col("bucket"))
      estJaccard(a.join(c, Seq("band", "bucket"))
        .where(col("doc_a") < col("doc_b")), "doc_a", "doc_b")
    }

    /** The distinct (a, b) signature pairs of `cand` (a, b, ma, mb) with
      * their estimated Jaccard (the share of equal slots), kept at ≥
      * threshold: (a, b, est_jaccard). */
    private def estJaccard(cand: DataFrame, a: String, b: String): DataFrame = {
      val matches = size(filter(
        zip_with(col("ma"), col("mb"), (x, y) => (x === y).cast("int")),
        v => v === 1))
      cand.select(col(a), col(b), col("ma"), col("mb")).distinct()
        .withColumn("est_jaccard",
          round(matches.cast("double") / numHashes, 4))
        .where(col("est_jaccard") >= threshold)
        .select(a, b, "est_jaccard")
    }

    /** INCREMENTAL near-dup: candidate pairs between a NEW document
      * batch and an already-signed corpus — the daily-ingest shape at
      * 100 TB, where re-sketching the whole corpus per batch is the
      * difference between minutes and days. `existingSig` is a
      * signature table previously produced by [[signatures]] (persist
      * it partitioned/bucketed by id); only the new batch is sketched,
      * and the join touches corpus signatures, not corpus text.
      * Returns (doc_new, doc_old, est_jaccard); combine with
      * `pairs(newDocs)` for new-vs-new duplicates. */
    def pairsAgainst(newDocs: DataFrame, existingSig: DataFrame,
        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
      val nb = banded(signatures(newDocs, idCol, textCol), idCol)
        .select(col(idCol).as("doc_new"), col("mh").as("ma"),
          col("band"), col("bucket"))
      val ob = banded(existingSig, idCol)
        .select(col(idCol).as("doc_old"), col("mh").as("mb"),
          col("band"), col("bucket"))
      estJaccard(nb.join(ob, Seq("band", "bucket"))
        .where(col("doc_new") =!= col("doc_old")), "doc_new", "doc_old")
    }
  }

  /** Resolve near-duplicate PAIRS into keep/drop decisions: connected
    * components by iterative min-label propagation, survivor = the
    * minimum id of each component.
    *
    * Duplicate clusters from LSH candidate generation are near-cliques
    * (every member shares a bucket with most others), so propagation
    * converges in 2-3 rounds; a pointer-jump (path-doubling) step per
    * round makes even pathological chains converge in O(log diameter)
    * rounds, with `maxIter` as the final bound. The
    * per-iteration work is two hash joins + one aggregation — all
    * shuffle-partitioned by id, no driver data; the driver only
    * coordinates the loop and checks the (scalar) convergence count,
    * exactly how GraphX/Pregel iterate.
    *
    * Returns (id, component, keep). */
  def resolveDuplicates(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 10): DataFrame =
    resolveDuplicatesDetailed(pairs, aCol, bCol, maxIter)._1

  /** [[resolveDuplicates]] plus an explicit `converged` flag: `false`
    * means the loop exited via `maxIter` with labels still moving — a
    * component whose graph diameter exceeds `maxIter` would otherwise
    * SILENTLY resolve into several components (extra keep=true
    * survivors). Callers that must not over-keep should raise `maxIter`
    * (or pre-densify candidate pairs) when this comes back false.
    *
    * Every generation is lineage-truncated with an eager
    * `localCheckpoint` (the iterative join otherwise grows the logical
    * plan exponentially through the pointer-jump self-join), and no
    * generation is ever `unpersist()`ed — see the loop comments. */
  def resolveDuplicatesDetailed(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 10): (DataFrame, Boolean) = {
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .distinct().cache()
    // every labels generation is an EAGER localCheckpoint, so each is
    // self-contained data: dropping the reference to the parent
    // generation can never strand a cached child whose recompute path
    // walks into freed checkpoint blocks (the at-scale
    // executor-loss/eviction hazard). Old generations' blocks are freed
    // by the ContextCleaner once unreferenced — never unpersist()ed
    // explicitly, which on a checkpointed generation would delete the
    // very blocks that ARE the data.
    var labels = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id"))).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val lu = labels.select(col("id").as("u"), col("comp").as("cu"))
      val lv = labels.select(col("id").as("v"), col("comp").as("cv"))
      val withLabels = edges.join(lu, "u").join(lv, "v")
        .select(col("u"), col("v"), least(col("cu"), col("cv")).as("cand"))
      val msgs = withLabels.select(col("u").as("id"), col("cand"))
        .union(withLabels.select(col("v").as("id"), col("cand")))
        .groupBy("id").agg(min(col("cand")).as("cand"))
      // the propagation result is lineage-truncated (localCheckpoint)
      // BEFORE the self-join below: the jump references prop twice, so
      // an un-truncated plan would double in size every iteration —
      // exponential plan growth between checkpoints
      val prop = labels.join(msgs, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("cand"), col("comp"))).as("comp"))
        .localCheckpoint()
      // pointer jump (path doubling): follow comp → label(comp) once per
      // round, so the reachable min-label distance DOUBLES instead of
      // advancing one hop — chains converge in O(log diameter) rounds
      // (comp is always a node id, so the self-join always resolves)
      val next = prop.join(
        prop.select(col("id").as("comp"), col("comp").as("__cc__")),
        Seq("comp"), "left")
        .select(col("id"), coalesce(col("__cc__"), col("comp")).as("comp"))
        .localCheckpoint() // eager: materialized before prop/labels are dropped
      val changed = next.join(labels.select(col("id"),
          col("comp").as("prev")), "id")
        .where(col("comp") =!= col("prev")).limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"resolveDuplicates exited at maxIter=$maxIter without converging; " +
          "components with diameter > maxIter are split (extra survivors)")
    (labels.withColumn("keep", col("comp") === col("id")), converged)
  }

  /** SimHash document sketch: each token votes ±1 on `bits` bit
    * positions according to its hash; positive sums become 1-bits.
    * Near-duplicates have small Hamming distance. Computed per-row with
    * one `aggregate` over the token array — zero shuffle.
    */
  final case class SimHash(bits: Int = 32, portable: Boolean = true) {
    require(bits <= 62)

    private def h(s: Column): Column =
      if (portable) PortableHash.md32(s) else PortableHash.fast32(s, 0)

    /** long column: the simhash of `textCol`.
      *
      * Hash each token ONCE into a let-bound array (the hash must be a
      * lambda variable, or Catalyst recomputes the md5 per (token,
      * bit): 32× the hashing cost — measured). Then one scalar-
      * accumulator `aggregate` PER BIT counting set bits: the ±1 vote
      * sum is positive iff 2·popcount_b > n, so the old per-token
      * 32-slot `zip_with` accumulator (one fresh array allocation per
      * token — the dominant cost, r3 plan audit) collapses into
      * allocation-free long adds. Bit tests are integer shiftright
      * (never pow/floor doubles — exact past 53-bit sketches). */
    def sketch(textCol: Column): Column =
      graft.functions.Cols.let(transform(words(textCol), t => h(t))) { th =>
        when(th.isNotNull, {
          val n = size(th)
          (0 until bits).map { b =>
            val cnt = aggregate(th, lit(0L), (acc, hv) =>
              acc + call_function("shiftright", hv, lit(b))
                .bitwiseAND(lit(1L)))
            when(cnt * 2 > n, lit(1L << b)).otherwise(lit(0L))
          }.reduce(_ + _)
        })
      }

    def apply(df: DataFrame, idCol: String = "doc_id",
        textCol: String = "text"): DataFrame =
      df.select(col(idCol), sketch(col(textCol)).as("simhash"))

    /** Hamming distance between two sketch columns. */
    def hamming(a: Column, b: Column): Column =
      bit_count(a.bitwiseXOR(b))

    /** Near-dup pairs with Hamming distance ≤ maxDist, candidate-joined
      * on bit-slice buckets (pigeonhole: distance ≤ k ⇒ some one of k+1
      * slices equal) — the scalable SimHash join. */
    def pairs(df: DataFrame, maxDist: Int, idCol: String = "doc_id",
        textCol: String = "text"): DataFrame = {
      val slices = maxDist + 1
      val width = bits / slices
      // materialize the (id, simhash) table BEFORE the self-join: it is
      // tiny (16 bytes/doc — the "materialize dim tables before big
      // joins" lesson), and without the barrier the join evaluates the
      // sketch expression FOUR times per doc — once per side, plus once
      // per side inside the scan, because the join keys' IsNotNull
      // filter pushes down with the whole sketch tree substituted
      // (measured: 4.9 s → 2.x s on the sf0.1 pair join)
      val sk = apply(df, idCol, textCol).localCheckpoint()
      // Integer bit arithmetic (shiftright + mask): double-division
      // bucketing loses low bits past 53-bit sketches and would silently
      // drop near-dup pairs.
      val sliced = sk.withColumn("slice",
          explode(sequence(lit(0), lit(slices - 1))))
        .withColumn("key",
          expr(s"shiftright(simhash, slice * $width)")
            .bitwiseAND(lit((1L << width) - 1)))
      val a = sliced.select(col(idCol).as("doc_a"), col("simhash").as("sa"),
        col("slice"), col("key"))
      val b = sliced.select(col(idCol).as("doc_b"), col("simhash").as("sb"),
        col("slice"), col("key"))
      a.join(b, Seq("slice", "key")).where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb").distinct()
        .withColumn("dist", hamming(col("sa"), col("sb")).cast("int"))
        .where(col("dist") <= maxDist)
        .select("doc_a", "doc_b", "dist")
    }
  }

  /** Exact n-gram Jaccard similarity via inverted-index self-join:
    * explode shingles, equi-join on shingle, count intersections, then
    * |A∩B| / (|A|+|B|-|A∩B|). The ground-truth tier for the sketches.
    *
    * `maxShingleFreq > 0` drops shingles shared by more than that many
    * documents from the candidate join (one boilerplate shingle in 10⁶
    * docs is a 10¹² pair blow-up — same hot-key cap as
    * [[MinHashLSH.maxBucketSize]]). Doc sizes |A|,|B| are counted BEFORE
    * the cap, so reported Jaccard is a lower bound for pairs whose
    * overlap included capped shingles — the standard web-dedup
    * approximation. 0 = no cap (exact verification tier).
    */
  final case class NgramJaccard(shingleSize: Int = 3, threshold: Double = 0.2,
      maxShingleFreq: Int = 0) {
    def pairs(df: DataFrame, idCol: String = "doc_id",
        textCol: String = "text"): DataFrame = {
      val sh0 = df
        .select(col(idCol), shingles(words(col(textCol)), shingleSize).as("sh"))
        .where(size(col("sh")) > 0)
        .select(col(idCol), size(col("sh")).as("n"),
          explode(col("sh")).as("s"))
      val sh = if (maxShingleFreq > 0) {
        val keep = sh0.groupBy("s").count()
          .where(col("count") <= maxShingleFreq).drop("count")
        sh0.join(keep, "s")
      } else sh0
      val a = sh.select(col(idCol).as("doc_a"), col("n").as("na"), col("s"))
      val b = sh.select(col(idCol).as("doc_b"), col("n").as("nb"), col("s"))
      a.join(b, "s").where(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(first("na").as("na"), first("nb").as("nb"),
          count(lit(1)).as("i"))
        .withColumn("jaccard", round(
          col("i").cast("double") / (col("na") + col("nb") - col("i")), 4))
        .where(col("i").cast("double") / (col("na") + col("nb") - col("i"))
          >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    }
  }

  /** Benchmark decontamination: flag training documents that share any
    * word `n`-gram with an evaluation/benchmark set (the GPT-3 appendix
    * C / PaLM-style n-gram overlap rule; n = 8..13 in practice).
    *
    * Scale shape: the benchmark side is an eval set — thousands of
    * rows, not billions — so its shingle table is BROADCAST and the
    * corpus is never shuffled: parquet scan → per-row shingle explode →
    * broadcast hash join → partially-aggregated (doc, bench) counts.
    * One wide pass over the corpus, zero corpus shuffles before the
    * final (much smaller) overlap aggregation. */
  final case class Decontaminate(n: Int = 8, minOverlap: Int = 1,
      idCol: String = "doc_id", textCol: String = "text") {

    private def grams(df: DataFrame, id: Column, text: Column,
        as: String): DataFrame =
      df.select(id.as(as), explode(shingles(words(text), n)).as("__gram__"))

    /** (doc, bench, n_overlap) pairs: the number of DISTINCT shared
      * n-grams (shingles() is distinct per side already), at least
      * `minOverlap`. */
    def pairs(docs: DataFrame, bench: DataFrame,
        benchIdCol: String = "bench_id",
        benchTextCol: String = "text"): DataFrame =
      grams(docs, col(idCol), col(textCol), idCol)
        .join(broadcast(
          grams(bench, col(benchIdCol), col(benchTextCol), benchIdCol)
            .distinct()), Seq("__gram__"))
        .groupBy(col(idCol), col(benchIdCol))
        .agg(count(lit(1)).as("n_overlap"))
        .where(col("n_overlap") >= minOverlap)

    /** The clean corpus: docs with NO benchmark overlap (left-anti on
      * the contaminated id set). */
    def survivors(docs: DataFrame, bench: DataFrame,
        benchIdCol: String = "bench_id",
        benchTextCol: String = "text"): DataFrame =
      docs.join(
        pairs(docs, bench, benchIdCol, benchTextCol)
          .select(col(idCol)).distinct(),
        Seq(idCol), "left_anti")
  }

  /** Paragraph-level exact dedup (Dolma/CCNet-style): drop every
    * paragraph after its FIRST occurrence across the whole corpus —
    * boilerplate headers/footers/navigation collapse to one copy —
    * and rebuild each document from its surviving paragraphs in order.
    *
    * First occurrence is the `(doc, position)`-smallest holder of the
    * paragraph hash, computed with a partially-aggregated
    * `groupBy(hash).agg(min(struct(doc, pos)))` + join back — NOT a
    * window over the hash partition, which a hot boilerplate paragraph
    * (billions of copies of one footer at 100 TB) would turn into a
    * single-task straggler; the groupBy combines map-side and the join
    * back is AQE-skew-splittable. Paragraphs shorter than `minChars`
    * never dedup (the Dolma rule for empty/trivial lines). */
  final case class ParagraphDedup(delim: String = "\n\n",
      minChars: Int = 1, idCol: String = "doc_id",
      textCol: String = "text") {

    private val delimRe = java.util.regex.Pattern.quote(delim)

    /** Exploded paragraphs with their keep verdicts:
      * (id, passthrough cols…, __pos__, __para__, __keep__). */
    def paragraphs(df: DataFrame): DataFrame = {
      val passthrough = df.columns.toSeq
        .filterNot(c => c == idCol || c == textCol)
      // null text reads as empty: posexplode(null) emits NO rows and
      // would silently drop the whole document from the rebuilt corpus
      val paras = df.select(col(idCol) +: passthrough.map(col) :+
          posexplode(split(coalesce(col(textCol), lit("")), delimRe))
            .as(Seq("__pos__", "__para__")): _*)
        .withColumn("__ph__", md5(col("__para__").cast("binary")))
      val firsts = paras
        .where(length(col("__para__")) >= minChars)
        .groupBy(col("__ph__"))
        .agg(min(struct(col(idCol), col("__pos__"))).as("__first__"))
      paras.join(firsts, Seq("__ph__"), "left")
        .withColumn("__keep__",
          col("__first__").isNull || // below minChars: never deduped
            (col("__first__").getField(idCol) === col(idCol) &&
              col("__first__").getField("__pos__") === col("__pos__")))
        .drop("__ph__", "__first__")
    }

    /** Documents rebuilt from surviving paragraphs (every input doc
      * stays present; a fully-duplicate doc comes back with empty text)
      * plus kept/dropped counts. Every non-text input column rides
      * through unchanged and the rebuilt text keeps the configured
      * `textCol` name, so the op composes as a config stage. Reassembly
      * uses the stable ordered-concat idiom: windowed collect_list over
      * the doc partition (bounded by paragraphs-per-doc), null-skipping
      * for dropped paragraphs. */
    def apply(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val passthrough = df.columns.toSeq
        .filterNot(c => c == idCol || c == textCol)
      val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos__"))
      val full = byDoc.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      paragraphs(df)
        .select(col(idCol) +: passthrough.map(col) :+
          row_number().over(byDoc).as("__rn__") :+
          array_join(collect_list(
            when(col("__keep__"), col("__para__"))).over(full), delim)
            .as(textCol) :+
          sum(when(col("__keep__"), 1L).otherwise(0L)).over(full)
            .as("n_kept") :+
          sum(when(col("__keep__"), 0L).otherwise(1L)).over(full)
            .as("n_dropped"): _*)
        .where(col("__rn__") === 1)
        .drop("__rn__")
    }
  }
}
