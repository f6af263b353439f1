package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Similarity search over an embedding column (`array<float>`).
  *
  * Tiers:
  *  - brute-force cosine top-k: exact baseline — one broadcast of the
  *    query vector, one pass over the corpus, `TakeOrderedAndProject`
  *    physical top-k (no full sort);
  *  - sign-LSH (random hyperplanes): each vector gets a small bucket id
  *    from the signs of `planes` fixed pseudo-random projections;
  *    candidates = same bucket → exact rerank. At 100 TB the bucket id
  *    is a partition/bucketing column, so a query touches one bucket,
  *    not the corpus. Multi-probe = OR over neighboring buckets.
  *  - pairwise near-dup: all candidate pairs with cosine ≥ τ, for
  *    embedding-based dedup; exact (verification tier) or LSH-bucketed.
  *
  * Hyperplane weights are ±1 derived from md5 at PLAN TIME (driver-side
  * constants, [[PortableHash.md5Hex]]), so the same buckets are
  * reproducible in any engine — and the per-row cost is a fused
  * multiply-add over the array, no hashing at runtime.
  */
object SimilarityOps {

  /** Cosine similarity of two equally-sized numeric array columns. */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(ad, lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(bd, lit(0.0), (acc, x) => acc + x * x))
    // a zero vector has no cosine: null, not an ANSI DIVIDE_BY_ZERO
    try_divide(dot, na * nb)
  }

  /** (idCol, extra cols…, __v__, __n__): the double-cast vector plus its
    * HOISTED norm — computed once per row, before any pair join, so the
    * per-pair work is one fused dot product (CLAUDE.md HOF lesson).
    * Shared by every pair/ranking path in this file. */
  private def normed(df: DataFrame, idCol: String, vecCol: String,
      extra: Seq[String] = Nil): DataFrame = {
    val vd = transform(col(vecCol), x => x.cast("double"))
    df.select(col(idCol) +: extra.map(col) :+ vd.as("__v__") :+
      sqrt(aggregate(vd, lit(0.0), (acc, x) => acc + x * x)).as("__n__"): _*)
  }

  /** (rank, id) for a scored candidate set: `orderBy.limit(k)` plans as
    * `TakeOrderedAndProject` (no full sort), then the ≤k survivors fold
    * into ONE bounded array that is sorted and position-exploded. No
    * `row_number` over an unpartitioned Window anywhere — that pattern
    * moves ALL data to one task the moment a caller lifts the limit.
    * Ranks by ROUNDED cosine (4 dp) with the id tiebreak — the
    * engine-portable ranking rule: an unrounded rank-k boundary flips
    * on last-ulp summation-order differences between engines. A null
    * cosine (zero vector) ranks last in both sorts. */
  private def rankTopK(scored: DataFrame, k: Int, idCol: String): DataFrame =
    scored.withColumn("__rc__", round(col("cos"), 4))
      .orderBy(col("__rc__").desc, col(idCol)).limit(k)
      .agg(array_sort(collect_list(struct(
        coalesce(-col("__rc__"), lit(Double.PositiveInfinity)).as("nc"),
        col(idCol).as("id")))).as("__top__"))
      .select(posexplode(col("__top__")).as(Seq("__p__", "__s__")))
      .select((col("__p__") + 1).cast("int").as("rank"),
        col("__s__").getField("id").as(idCol))

  /** The ONE query vector, double-cast (a bounded control-plane read);
    * `None` for an empty query set. */
  private def queryVector(query: DataFrame,
      vecCol: String): Option[Array[Double]] =
    query.select(transform(col(vecCol), x => x.cast("double"))).take(1)
      .headOption.map(_.getSeq[Double](0).toArray)

  /** The serving shape every approximate tier shares: read the query
    * vector, let `candidates` pick the rows to score from it (`None`:
    * nothing can match), then rerank them exactly against the query
    * vector as a literal (broadcast-free). An empty query set or
    * candidate set gives an empty (rank, id) result typed by `from`. */
  private def serve(query: DataFrame, k: Int, idCol: String,
      vecCol: String, from: => DataFrame)(
      candidates: Array[Double] => Option[DataFrame]): DataFrame =
    queryVector(query, vecCol).flatMap { qv =>
      val qVec = array(qv.map(lit).toIndexedSeq: _*)
      candidates(qv).map(c =>
        rankTopK(c.withColumn("cos", cosine(col(vecCol), qVec)), k, idCol))
    }.getOrElse(
      from.limit(0).select(lit(0).cast("int").as("rank"), col(idCol)))

  /** Driver-side dot product over the common prefix, folded left to
    * right like the Catalyst `aggregate` it mirrors. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var d = 0
    while (d < math.min(a.length, b.length)) { s += a(d) * b(d); d += 1 }
    s
  }

  /** The rounded cosine (4 dp, the engine-portable rule) of vectors `a`
    * and `b` with their hoisted norms; a zero norm gives null. */
  private def roundedCos(a: Column, na: Column, b: Column, nb: Column): Column =
    round(try_divide(aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
      (acc, x) => acc + x), na * nb), 4)

  /** The pair check of every near-dup path: `prepped` ([[normed]], plus
    * `keys`) joined with itself on `keys` (every pair when there are
    * none) into (vec_a, vec_b) with vec_a < vec_b, kept when the rounded
    * cosine reaches `threshold`: (vec_a, vec_b, keys…, cos). */
  private def verifiedPairs(prepped: DataFrame, idCol: String,
      keys: Seq[String], threshold: Double): DataFrame = {
    def side(s: String) = prepped.select(keys.map(col) ++ Seq(
      col(idCol).as(s"vec_$s"), col("__v__").as(s"v$s"),
      col("__n__").as(s"n$s")): _*)
    side("a").join(side("b"), keys).where(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        roundedCos(col("va"), col("na"), col("vb"), col("nb")))
      .where(col("cos") >= threshold)
      .select((("vec_a" +: "vec_b" +: keys) :+ "cos").map(col): _*)
  }

  /** ±1 hyperplane weight from the parity of md5(key)'s first hex digit:
    * a plan-time constant any engine can reproduce. */
  private def planeWeight(key: String): Double =
    if ((Integer.parseInt(PortableHash.md5Hex(key).substring(0, 1), 16) & 1) == 1)
      1.0 else -1.0

  /** Bucket id of the double-cast vector `vd` under the hyperplanes
    * `planes`: bit p set iff dot(vd, planes(p)) > 0, where elements past
    * either array's end count as 0 (the driver-side [[signBucket]] and
    * the oracle's out-of-range reads agree). */
  private def signBits(vd: Column, planes: Array[Array[Double]]): Column =
    planes.indices.map { p =>
      val dot = aggregate(zip_with(vd, array(planes(p).map(lit): _*),
        (x, y) => coalesce(x * y, lit(0.0))), lit(0.0), (acc, x) => acc + x)
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** [[signBits]] for ONE driver-side vector, folded like the Catalyst
    * `aggregate`. */
  private def signBucket(qv: Array[Double], planes: Array[Array[Double]]): Long =
    planes.indices.map(p => if (dot(qv, planes(p)) > 0) 1L << p else 0L).sum

  /** Exact top-k by cosine against one query vector (broadcast). */
  def bruteForceTopK(corpus: DataFrame, query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = query.select(col(vecCol).as("__qv__"))
    val scored = corpus.crossJoin(broadcast(q))
      .withColumn("cos", cosine(col(vecCol), col("__qv__")))
    rankTopK(scored, k, idCol)
  }

  /** Single-table sign-LSH over `planes` fixed hyperplanes with ±1
    * weights derived deterministically from md5(plane:dim) parity.
    *
    * BUILDING BLOCK / cheap low-recall tier: one table requires a true
    * neighbor to agree on every plane, so its measured recall@10 on the
    * synthetic corpus is ≈ 0.1 — fine for coarse bucketing (the
    * near-dup candidate generator) but NOT for serving ANN. The
    * production ANN path is [[BandedSignLsh]] (multi-table banding,
    * measured recall ≈ 0.85+ via [[annRecall]]). */
  final case class SignLsh(planes: Int = 8, dims: Int = 64) {
    require(planes <= 30)

    /** Plan-time weight matrix: w(p)(d) ∈ {-1,+1}. */
    val weights: Array[Array[Double]] =
      Array.tabulate(planes, dims)((p, d) => planeWeight(s"$p:$d"))

    /** Bucket id column: bit p set iff dot(vec, w_p) > 0. The cast
      * vector is let-bound so it is built once, not once per plane. */
    def bucket(vecCol: Column): Column =
      graft.functions.Cols.let(transform(vecCol, x => x.cast("double")))(
        signBits(_, weights))

    /** ANN top-k: restrict to the query's bucket, exact cosine rerank.
      * Returns (rank, idCol) like the brute-force tier. One-shot: the
      * corpus bucket column is recomputed per query — repeated queries
      * at scale want [[writeIndex]] + [[topKIndexed]]. */
    def topK(corpus: DataFrame, query: DataFrame, k: Int,
        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
      val q = query.select(col(vecCol).as("__qv__"),
        bucket(col(vecCol)).as("__qb__"))
      val cand = corpus.withColumn("__b__", bucket(col(vecCol)))
        .join(broadcast(q), col("__b__") === col("__qb__"))
      val scored = cand
        .withColumn("cos", cosine(col(vecCol), col("__qv__")))
      rankTopK(scored, k, idCol)
    }

    /** Materialize the LSH index: the corpus written
      * `partitionBy(bucket)` — the at-rest layout where a query reads
      * only its probe-bucket partition directories instead of
      * re-sketching the corpus per query. The IVF
      * treatment ([[IvfIndex.writeIndex]]) for the hyperplane tier. */
    def writeIndex(corpus: DataFrame, io: graft.sink.TableIO, table: String,
        vecCol: String = "embedding"): Unit =
      io.overwritePartitions(
        corpus.withColumn("bucket", bucket(col(vecCol))), table,
        Seq("bucket"))

    /** Driver-side multi-probe bucket list for ONE query vector: its
      * own bucket first, then single-plane sign flips ordered by how
      * close the query's projection is to that hyperplane (smallest
      * |margin| first — the classic multi-probe order: near-boundary
      * planes are the likeliest to disagree for true neighbors).
      * Bounded control-plane math; the per-plane fold matches the
      * Catalyst `aggregate` in [[bucket]] left-to-right. */
    private[ops] def probeBuckets(qv: Array[Double],
        multiProbe: Int): Seq[Long] = {
      val dots = weights.map(dot(qv, _))
      val qb = signBucket(qv, weights)
      qb +: dots.zipWithIndex.sortBy { case (s, _) => math.abs(s) }
        .take(math.max(0, math.min(multiProbe, planes)))
        .map { case (_, p) => qb ^ (1L << p) }.toSeq
    }

    /** ANN top-k over a materialized index: only the probe buckets'
      * partition directories are read
      * ([[graft.sink.TableIO.readPartitions]]), then exact rerank.
      * `multiProbe` = how many neighboring buckets (one flipped plane
      * each) to scan besides the query's own — the recall/IO dial;
      * default scans all `planes`+1 Hamming-≤1 buckets. */
    def topKIndexed(spark: org.apache.spark.sql.SparkSession,
        io: graft.sink.TableIO, table: String, query: DataFrame, k: Int,
        multiProbe: Int = -1, idCol: String = "vec_id",
        vecCol: String = "embedding"): DataFrame =
      serve(query, k, idCol, vecCol, io.read(spark, table)) { qv =>
        val probes = if (multiProbe < 0) planes else multiProbe
        io.readPartitions(spark, table,
          probeBuckets(qv, probes).map(b => Seq("bucket" -> b)))
      }
  }

  /** Banded multi-table sign-LSH — the PRODUCTION hyperplane tier.
    *
    * One [[SignLsh]] table with enough planes to be selective has
    * near-zero recall on hard corpora (a true neighbor must agree on
    * EVERY plane), and one with few planes isn't selective. The classic
    * fix is the MinHash-LSH banding trick applied to sign bits: `tables`
    * independent hash tables of `planes` bits each — a candidate
    * matches when it shares a bucket in ANY table, so the miss
    * probability multiplies across tables ((1−p^b)^T) instead of the
    * hit probability multiplying across planes. Each table is also
    * multi-probed at Hamming radius 1 (own bucket + every single-bit
    * flip), the near-boundary correction.
    *
    * Measured on the synthetic corpus (vs exact top-10; `annRecall`):
    * the defaults (16 tables × 8 planes, radius-1 probes) read
    * recall@10 ≈ 0.85 at sf0.01 and ≈ 0.88 at sf0.1 where the old
    * single-table default read ≈ 0.1. This corpus is adversarially
    * hard — the 10th true neighbor sits at cosine ≈ 0.3, nearly
    * orthogonal — so the candidate set is a large fraction of it;
    * clustered real-world embeddings prune far harder at the same
    * recall.
    *
    * Scale shape: the sketch is a per-row projection (embarrassingly
    * parallel, no shuffle); the index is the corpus exploded into one
    * row per (table, bucket) and written `partitionBy(t, bucket)` — the
    * standard ×T storage cost of multi-table LSH — so a query reads
    * `T × (planes+1)` bucket partition directories (path-scoped, no
    * listing of the rest) and reranks exactly. Weights are plan-time
    * ±1 constants from md5(table:plane:dim) parity
    * ([[PortableHash.md5Hex]]), portable to any engine.
    */
  final case class BandedSignLsh(tables: Int = 16, planes: Int = 8,
      dims: Int = 64) {
    require(tables >= 1 && planes >= 1 && planes <= 30)

    /** Plan-time weight matrix: w(t)(p)(d) ∈ {-1,+1}. */
    val weights: Array[Array[Array[Double]]] =
      Array.tabulate(tables, planes, dims)((t, p, d) => planeWeight(s"$t:$p:$d"))

    /** Sketch column: array of `tables` bucket ids (bit p of element t
      * set iff dot(vec, w_tp) > 0). The cast vector is let-bound so it
      * is built once, not once per (table, plane). */
    def sketch(vecCol: Column): Column =
      graft.functions.Cols.let(transform(vecCol, x => x.cast("double"))) { vd =>
        array(weights.map(signBits(vd, _)).toIndexedSeq: _*)
      }

    /** Driver-side per-table probe buckets for ONE query vector: its
      * own bucket in each table plus every Hamming-1 flip. Bounded
      * control-plane math; the per-plane fold matches the Catalyst
      * `aggregate` in [[sketch]] left-to-right. */
    private[ops] def probeBuckets(qv: Array[Double]): Array[Array[Long]] =
      weights.map { w =>
        val qb = signBucket(qv, w)
        qb +: Array.tabulate(planes)(p => qb ^ (1L << p))
      }

    /** Candidate predicate for one query's probe set over a corpus that
      * carries `sketchCol` (array<bigint>): true when ANY table's
      * bucket is in that table's probe list. A pure filter — no join,
      * no shuffle, no corpus duplication (the index-free serving
      * path). */
    private def candidate(sketchCol: Column,
        probes: Array[Array[Long]]): Column =
      graft.functions.Cols.let(sketchCol) { sk =>
        (0 until tables).map(t =>
          element_at(sk, t + 1).isin(probes(t).map(Long.box): _*))
          .reduce(_ || _)
      }

    /** ANN top-k without a materialized index: one corpus scan with the
      * probe predicate, exact cosine rerank of the survivors. */
    def topK(corpus: DataFrame, query: DataFrame, k: Int,
        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
      serve(query, k, idCol, vecCol, corpus) { qv =>
        Some(corpus.where(candidate(sketch(col(vecCol)), probeBuckets(qv))))
      }

    /** Materialize the index: the corpus exploded into one row per
      * (table, bucket) and written `partitionBy(t, bucket)` — a query
      * reads only its probe partition directories. The ×`tables`
      * storage cost is the standard multi-table LSH trade. */
    def writeIndex(corpus: DataFrame, io: graft.sink.TableIO, table: String,
        vecCol: String = "embedding"): Unit =
      io.overwritePartitions(
        corpus.select(col("*"),
          posexplode(sketch(col(vecCol))).as(Seq("t", "bucket"))),
        table, Seq("t", "bucket"))

    /** ANN top-k over a materialized index, reading ONLY the probe
      * partition directories `t=<t>/bucket=<b>`
      * ([[graft.sink.TableIO.readPartitions]]: tables × (planes+1)
      * paths, not a listing of all tables × 2^planes). A vector found
      * in several tables dedupes by id before the exact rerank. */
    def topKIndexed(spark: org.apache.spark.sql.SparkSession,
        io: graft.sink.TableIO, table: String, query: DataFrame, k: Int,
        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
      serve(query, k, idCol, vecCol, io.read(spark, table)) { qv =>
        val probes = probeBuckets(qv)
        io.readPartitions(spark, table, for {
          t <- 0 until tables; b <- probes(t)
        } yield Seq("t" -> t, "bucket" -> b))
          .map(_.dropDuplicates(idCol)) // a match in several tables
      }

    /** Banded near-dup PAIRS: candidates share a bucket in ANY table
      * (one row per (table, bucket) each side, equi-join, pair dedup),
      * exact-verified at `threshold` — the multi-table upgrade of
      * [[EmbedNearDup]]'s single-table tier. Scale shape: ×`tables` the
      * single-table bucket-join cost, still bounded by bucket sizes,
      * never n². Recall stays LSH-bounded: at near-orthogonal
      * thresholds (τ ≈ 0.35, ~69°) even 16 tables collide rarely —
      * measure with [[neardupRecall]] and use [[SemDeDup]] when the
      * threshold is low. */
    def pairs(df: DataFrame, threshold: Double, idCol: String = "vec_id",
        vecCol: String = "embedding"): DataFrame = {
      val sk = normed(df, idCol, vecCol).select(col("*"),
        posexplode(sketch(col("__v__"))).as(Seq("__t__", "__b__")))
      verifiedPairs(sk, idCol, Seq("__t__", "__b__"), threshold)
        .dropDuplicates("vec_a", "vec_b") // a pair can share several tables
        .select("vec_a", "vec_b", "cos")
    }
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids
    * assigns every vector to its best cell; a query probes only its
    * `nprobe` best cells and reranks exactly.
    *
    * The default quantizer is sampled (the `nlist` lowest-id vectors act
    * as centroids) — deterministic, which is what the cross-engine
    * verification needs; [[trainCentroids]] refines them with Lloyd
    * iterations (each one a broadcast join + two DataFrame
    * aggregations). Centroids travel as a BROADCAST DATAFRAME and cell
    * assignment is one broadcast join + `max_by` aggregation — NOT a
    * plan-time literal expression, which at the 100 TB target
    * (nlist ≈ √N ≈ 30k for 10⁹ vectors) would be a multi-million-node
    * expression tree blowing JIT method-size limits and planner memory.
    * Data is a DataFrame; only the plan must stay O(1) in nlist. The
    * index write is `partitionBy(cell)` — a query then scans nprobe
    * partitions, not the corpus.
    */
  final case class IvfIndex(nlist: Int = 16, nprobe: Int = 4) {

    /** Deterministic sampled centroids: the nlist lowest ids. Control
      * plane: nlist ≈ √N rows (≈16 MB at 30k×64 dims) — driver-safe. */
    def centroids(df: DataFrame, idCol: String = "vec_id",
        vecCol: String = "embedding"): Array[Array[Double]] =
      df.where(col(idCol) < nlist).orderBy(col(idCol))
        .select(transform(col(vecCol), x => x.cast("double")))
        .collect().map(_.getSeq[Double](0).toArray)

    /** The centroid DATA table (cell, __cvec__, __cnorm__) to broadcast:
      * nlist rows of data, O(1) plan nodes regardless of nlist. */
    private[ops] def centroidDf(spark: org.apache.spark.sql.SparkSession,
        cents: Array[Array[Double]]): DataFrame = {
      import spark.implicits._
      cents.zipWithIndex
        .map { case (v, i) => (i, v.toSeq, math.sqrt(v.map(x => x * x).sum)) }
        .toSeq.toDF("__cell__", "__cvec__", "__cnorm__")
    }

    /** Append the best-cell column via broadcast join + `max_by`: each
      * row is scored against the broadcast centroids (map-side, nlist
      * copies collapse in the PARTIAL aggregate before any shuffle — the
      * exchange carries one row per vector). The centroid cosine is
      * ROUNDED to 4 dp before the argmax — an unrounded assignment
      * boundary flips on last-ulp summation-order differences between
      * engines (the same rank-boundary rule every cross-engine ranking
      * here follows); ties break toward the LARGER cell id, matching
      * the DuckDB oracle's `ORDER BY round(cos, 4) DESC, c DESC`. */
    def assign(df: DataFrame, cents: Array[Array[Double]],
        idCol: String = "vec_id", vecCol: String = "embedding",
        cellCol: String = "cell"): DataFrame = {
      val spark = df.sparkSession
      val vd = transform(col(vecCol), x => x.cast("double"))
      // group on a TRANSIENT per-row key, not idCol: grouping by idCol
      // would silently collapse rows sharing (or null) ids — assign must
      // be row-preserving like the projection it replaced
      val prepped = df
        .withColumn("__rid__", monotonically_increasing_id())
        .withColumn("__v__", vd)
        .withColumn("__nv__",
          sqrt(aggregate(col("__v__"), lit(0.0), (acc, x) => acc + x * x)))
      // a zero-norm vector or centroid has no cosine: it is null, which
      // ranks below every cell in the argmax
      val scored = prepped.crossJoin(broadcast(centroidDf(spark, cents)))
        .withColumn("__cos__", roundedCos(col("__v__"), col("__nv__"),
          col("__cvec__"), col("__cnorm__")))
      val carried = struct(df.columns.map(col): _*)
      scored
        .groupBy(col("__rid__"))
        .agg(max_by(struct(carried.as("o"), col("__cell__").as("c")),
          struct(col("__cos__"), col("__cell__"))).as("__best__"))
        .select(col("__best__.o.*"),
          col("__best__.c").as(cellCol))
    }

    /** Driver-side ranked probe cells for ONE query vector (bounded
      * control-plane math — the reference's shard lookup analog). Same
      * sequential left-to-right double fold as the Catalyst `aggregate`,
      * same ROUNDED-cosine (4 dp HALF_UP, like SQL `round`) + cell-desc
      * tie-break as [[assign]] and the oracle rankings. Ranks exactly as
      * [[assign]]'s argmax: a zero norm (null there) below every cell,
      * and Spark's double order above it — NaN highest, then +inf. */
    private[ops] def probeCells(qv: Array[Double],
        cents: Array[Array[Double]]): Seq[Int] = {
      val nq = math.sqrt(qv.map(x => x * x).sum)
      cents.zipWithIndex.map { case (c, i) =>
        val den = nq * math.sqrt(c.map(x => x * x).sum)
        // SQL `round` leaves NaN and infinities as they are
        (Option.when(den != 0.0)(dot(qv, c) / den).map(x =>
          if (!x.isFinite) x
          else BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble), i)
      }.sorted(Ordering.Tuple2(Ordering.Option(Ordering.Double.TotalOrdering),
        Ordering.Int).reverse).take(nprobe).map(_._2).toSeq
    }

    /** Optional Lloyd (k-means) refinement of the sampled seed: each
      * iteration assigns cells with [[assign]] (broadcast join) and
      * recomputes per-cell mean vectors with ONE (cell, dim) hash
      * aggregation — everything distributed, only the nlist×dims means
      * are collected. Empty cells keep their previous centroid. */
    def trainCentroids(df: DataFrame, iters: Int = 2,
        idCol: String = "vec_id", vecCol: String = "embedding")
        : Array[Array[Double]] = {
      var cents = centroids(df, idCol, vecCol)
      for (_ <- 1 to iters) {
        val assigned = assign(df, cents, idCol, vecCol, cellCol = "__c__")
        val means = assigned
          .select(col("__c__"),
            posexplode(transform(col(vecCol), x => x.cast("double")))
              .as(Seq("__d__", "__x__")))
          .groupBy("__c__", "__d__").agg(avg(col("__x__")).as("__m__"))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        val byCell = means.groupBy(_._1)
        cents = cents.zipWithIndex.map { case (prev, i) =>
          byCell.get(i).fold(prev)(ds =>
            ds.sortBy(_._2).map(_._3).toArray)
        }
      }
      cents
    }

    /** Materialize the IVF index: the corpus written `partitionBy(cell)`
      * — the at-rest layout where a query READS ONLY its nprobe cell
      * partition directories instead of the corpus. Returns the
      * centroids to pass to [[topKIndexed]]. */
    def writeIndex(corpus: DataFrame, io: graft.sink.TableIO, table: String,
        idCol: String = "vec_id", vecCol: String = "embedding")
        : Array[Array[Double]] = {
      val cents = centroids(corpus, idCol, vecCol)
      io.overwritePartitions(
        assign(corpus, cents, idCol, vecCol), table, Seq("cell"))
      cents
    }

    /** ANN top-k over a materialized index: only the query's nprobe
      * best cells' partition directories are read (a bounded
      * driver-side list, like the reference's shard lookup;
      * [[graft.sink.TableIO.readPartitions]]), then exact rerank. */
    def topKIndexed(spark: org.apache.spark.sql.SparkSession,
        io: graft.sink.TableIO, table: String,
        cents: Array[Array[Double]], query: DataFrame, k: Int,
        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
      serve(query, k, idCol, vecCol, io.read(spark, table)) { qv =>
        io.readPartitions(spark, table,
          probeCells(qv, cents).map(c => Seq("cell" -> c)))
      }

    /** ANN top-k: probe the query's nprobe best cells, exact rerank. */
    def topK(corpus: DataFrame, query: DataFrame, k: Int,
        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
      val cents = centroids(corpus, idCol, vecCol)
      serve(query, k, idCol, vecCol, corpus) { qv =>
        Some(assign(corpus, cents, idCol, vecCol, cellCol = "__cell__")
          .where(col("__cell__").isin(probeCells(qv, cents): _*)))
      }
    }
  }

  /** Embedding-cosine near-duplicate pairs: (vec_a, vec_b, cos) with
    * rounded cosine ≥ threshold.
    *
    * The DEFAULT is the LSH tier (`exact = false`): candidates are
    * restricted to pairs sharing a SignLsh bucket — the 100 TB path (the
    * self-join key is the bucket id, so the shuffle fans out per-bucket,
    * not n²). `exact = true` compares all pairs via a non-equi self-join
    * — an O(n²) VERIFICATION tier, opt-in only, never the default a
    * caller gets by accident.
    */
  final case class EmbedNearDup(threshold: Double, exact: Boolean = false,
      lsh: SignLsh = SignLsh()) {
    def pairs(df: DataFrame, idCol: String = "vec_id",
        vecCol: String = "embedding"): DataFrame = {
      // norm/cast hoisted out of the pair join: 3× fewer array passes
      val prepped = normed(df, idCol, vecCol)
      val pairs =
        if (exact) verifiedPairs(prepped, idCol, Nil, threshold)
        else verifiedPairs(prepped.withColumn("__b__", lsh.bucket(col("__v__"))),
          idCol, Seq("__b__"), threshold)
      pairs.select("vec_a", "vec_b", "cos")
    }
  }

  /** Multi-query ANN index-quality evaluation: per-query recall@k of
    * the IVF and sign-LSH approximate paths against the exact cosine
    * top-k — the standard harness that tells a user whether the
    * approximate tiers are trustworthy before they replace the exact
    * scan at scale.
    *
    * All three rankings share one rounded-cosine definition (4 dp,
    * id-tiebreak) so the comparison is engine-portable: an unrounded
    * rank-10/11 boundary would flip on last-ulp summation-order
    * differences between engines. Rankings are windows PARTITIONED BY
    * query id (never unpartitioned); the exact side is a broadcast
    * nested-loop of the small query set against the corpus — one
    * corpus pass per ranking, which is the point of the harness: it is
    * the verification tier, run on samples, not the serving path. */
  def annRecall(corpus: DataFrame, nQueries: Int = 20, k: Int = 10,
      ivf: IvfIndex = IvfIndex(), lsh: BandedSignLsh = BandedSignLsh(),
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prepped = normed(corpus, idCol, vecCol)
    val queries = prepped.where(col(idCol) < nQueries)
      .select(col(idCol).as("__qid__"), col("__v__").as("__qv__"),
        col("__n__").as("__qn__"))
    val byQ = Window.partitionBy(col("__qid__"))
      .orderBy(col("__cos__").desc, col(idCol))
    def topk(cand: DataFrame): DataFrame =
      cand.withColumn("__cos__", roundedCos(col("__v__"), col("__n__"),
          col("__qv__"), col("__qn__")))
        .withColumn("__rn__", row_number().over(byQ))
        .where(col("__rn__") <= k)
        .select(col("__qid__"), col(idCol))

    val exact = topk(prepped.crossJoin(broadcast(queries))
      .where(col(idCol) =!= col("__qid__")))

    // IVF: corpus assigned once; each query probes its nprobe best cells
    val cents = ivf.centroids(corpus, idCol, vecCol)
    val asn = ivf.assign(prepped, cents, idCol, "__v__", "cell")
    val qCells = queries
      .crossJoin(broadcast(ivf.centroidDf(corpus.sparkSession, cents)))
      // the nprobe cutoff ranks by ROUNDED centroid cosine (4 dp, cell
      // tiebreak) like every other cross-engine ranking here: an
      // unrounded rank boundary flips on last-ulp summation-order
      // differences between engines
      .withColumn("__ccos__", roundedCos(col("__qv__"), col("__qn__"),
        col("__cvec__"), col("__cnorm__")))
      .withColumn("__crn__", row_number().over(
        Window.partitionBy(col("__qid__"))
          .orderBy(col("__ccos__").desc, col("__cell__").desc)))
      .where(col("__crn__") <= ivf.nprobe)
      .select(col("__qid__"), col("__qv__"), col("__qn__"),
        col("__cell__").as("cell"))
    val ivfTop = topk(asn.join(qCells, Seq("cell"))
      .where(col(idCol) =!= col("__qid__")))

    // banded sign-LSH (the production hyperplane tier): candidates
    // share a bucket with the query in ANY of the `tables` tables,
    // each table probed at Hamming radius 1 — the topKIndexed serving
    // shape. A pair can match in several tables, so the candidate pair
    // set dedupes before the exact rerank.
    val cSig = prepped.select(col(idCol),
      posexplode(lsh.sketch(col("__v__"))).as(Seq("__t__", "__b__")))
    val qSig = queries.select(col("__qid__"),
      posexplode(lsh.sketch(col("__qv__"))).as(Seq("__t__", "__b0__")))
    val qProbes = qSig.select(col("__qid__"), col("__t__"),
      explode(array(col("__b0__") +: (0 until lsh.planes).map(p =>
        col("__b0__").bitwiseXOR(lit(1L << p))): _*)).as("__b__"))
    val lshCand = cSig.join(qProbes, Seq("__t__", "__b__"))
      .select(col("__qid__"), col(idCol)).distinct()
    val lshTop = topk(lshCand
      .join(prepped, Seq(idCol))
      .join(broadcast(queries), Seq("__qid__"))
      .where(col(idCol) =!= col("__qid__")))

    def hits(approx: DataFrame, as: String): DataFrame =
      exact.join(approx, Seq("__qid__", idCol), "left_semi")
        .groupBy("__qid__").agg(count(lit(1)).as(as))
    queries.select(col("__qid__"))
      .join(hits(ivfTop, "__hi__"), Seq("__qid__"), "left")
      .join(hits(lshTop, "__hl__"), Seq("__qid__"), "left")
      .select(col("__qid__").as(idCol),
        round(coalesce(col("__hi__"), lit(0L)) / k.toDouble, 4)
          .as("recall_ivf"),
        round(coalesce(col("__hl__"), lit(0L)) / k.toDouble, 4)
          .as("recall_lsh"))
  }

  /** PAIR-recall evaluation of the bucketed near-dup tiers against the
    * exact O(n²) pair set at `threshold` — the [[EmbedNearDup]] analog
    * of [[annRecall]], and the number a user must read before replacing
    * the exact tier: pair recall at a LOW threshold is intrinsically
    * LSH-hostile (collision probability per 8-plane table at τ = 0.35
    * is (1 − 69°/180°)^8 ≈ 2%), so the single-table tier misses almost
    * everything and even 16 banded tables stay well under 1 — that
    * regime belongs to [[SemDeDup]], whose cell-bounded pair join does
    * not depend on hyperplane collisions. Both bucketed tiers
    * exact-verify their candidates, so found ⊆ exact and recall is
    * simply the count ratio. One row per method. */
  def neardupRecall(corpus: DataFrame, threshold: Double,
      single: SignLsh = SignLsh(), banded: BandedSignLsh = BandedSignLsh(),
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val exact = EmbedNearDup(threshold, exact = true)
      .pairs(corpus, idCol, vecCol).agg(count(lit(1)).as("pairs_exact"))
    def row(method: String, found: DataFrame): DataFrame =
      found.agg(count(lit(1)).as("pairs_found"))
        .crossJoin(broadcast(exact))
        .select(lit(method).as("method"), col("pairs_found"),
          col("pairs_exact"),
          round(col("pairs_found") / col("pairs_exact"), 4).as("recall"))
    row("lsh", EmbedNearDup(threshold, exact = false, lsh = single)
        .pairs(corpus, idCol, vecCol))
      .unionAll(row("lsh_banded",
        banded.pairs(corpus, threshold, idCol, vecCol)))
  }

  /** SemDeDup-style semantic dedup (cluster-then-threshold, after
    * Abbas et al. 2023): k-means-style cells over the embedding column,
    * then cosine-threshold near-dup removal WITHIN each cell only —
    * cross-cell pairs are never formed, which is the whole point: the
    * pair join shuffles once on the cell id and its cost is bounded by
    * the largest cell (N²/nlist expected), never the corpus n².
    *
    * Scale shape: cell assignment is [[IvfIndex.assign]] — a broadcast
    * join against nlist centroid ROWS with a map-side partial max_by, so
    * the corpus is scanned once and shuffled once (per-row best-cell
    * agg); identical assign subtrees inside one plan collapse via
    * exchange reuse. Norms and double-casts are hoisted out of the pair
    * join (CLAUDE.md HOF lesson). At 100 TB, materialize
    * `assigned()` once (partitionBy(cell), the IvfIndex.writeIndex
    * layout) and feed the saved table to repeated dedup runs.
    *
    * Survivor rule: a vector drops when ANY smaller-id vector in its
    * cell is within the threshold. The paper keeps one arbitrary member
    * per ε-group; min-id is the deterministic, single-pass equivalent
    * the other dedup ops use (no iterative component resolution —
    * transitive chains collapse to the smallest id in one join because
    * the min-id member of a chain never has a smaller neighbor). */
  final case class SemDeDup(nlist: Int = 16, threshold: Double = 0.8) {
    private val ivf = IvfIndex(nlist)

    /** Corpus with its `cell` column appended (broadcast assignment). */
    def assigned(df: DataFrame, idCol: String = "vec_id",
        vecCol: String = "embedding"): DataFrame =
      ivf.assign(df, ivf.centroids(df, idCol, vecCol), idCol, vecCol)

    private def pairsOf(asn: DataFrame, idCol: String,
        vecCol: String): DataFrame =
      verifiedPairs(normed(asn, idCol, vecCol, extra = Seq("cell")), idCol,
        Seq("cell"), threshold)

    /** Within-cell near-dup pairs (vec_a, vec_b, cell, cos ≥ threshold). */
    def pairs(df: DataFrame, idCol: String = "vec_id",
        vecCol: String = "embedding"): DataFrame =
      pairsOf(assigned(df, idCol, vecCol), idCol, vecCol)

    /** The deduplicated corpus: every input column plus `cell`, minus
      * vectors with a smaller-id near-duplicate in their cell. */
    def survivors(df: DataFrame, idCol: String = "vec_id",
        vecCol: String = "embedding"): DataFrame = {
      val asn = assigned(df, idCol, vecCol)
      asn.join(
        pairsOf(asn, idCol, vecCol).select(col("vec_b").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
    }
  }
}
