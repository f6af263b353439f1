package graft.queries

import org.apache.spark.sql.functions._
import graft.ops._
import Fixtures._

/** Embedding similarity queries: exact top-k, near-dup pairs, the
  * sign-LSH / banded / IVF ANN tiers, their recall harnesses and
  * SemDeDup, each with its DuckDB SQL. */
object SimilarityQueries {
  val all: Seq[Query] = Seq(
    Query("ann_topk", Some(
        s"""WITH cand AS (SELECT vec_id FROM embeddings WHERE vec_id <> 0)
           $rerankTop10Sql""")) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      SimilarityOps.bruteForceTopK(
        e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), k = 10)
    },

    Query("embed_neardup", Some(
        s"""WITH cand AS (
             SELECT e.vec_id AS va, f.vec_id AS vb
             FROM embeddings e JOIN embeddings f ON e.vec_id < f.vec_id
           ), ${pairCosSql("pc", "cand")}
           SELECT va AS vec_a, vb AS vec_b, cos FROM pc WHERE cos >= 0.35""")) { (s, dir) => // exact O(n²) VERIFICATION tier (opt-in)
      SimilarityOps.EmbedNearDup(threshold = 0.35, exact = true)
        .pairs(tbl(s, dir, "embeddings"))
    },

    Query("embed_neardup_lsh", Some(
        s"""WITH ${signLshSql()}, cand AS (
             SELECT a.vec_id AS va, bb.vec_id AS vb
             FROM sig a JOIN sig bb ON a.b = bb.b AND a.vec_id < bb.vec_id
           ), ${pairCosSql("pc", "cand")}
           SELECT va AS vec_a, vb AS vec_b, cos FROM pc WHERE cos >= 0.35""")) { (s, dir) =>
      SimilarityOps.EmbedNearDup(threshold = 0.35, exact = false,
        lsh = SimilarityOps.SignLsh(planes = 8, dims = 64))
        .pairs(tbl(s, dir, "embeddings"))
    },

    Query("ann_lsh", Some(
        s"""WITH ${signLshSql()}, qb AS (SELECT b FROM sig WHERE vec_id = 0),
           cand AS (SELECT s.vec_id FROM sig s, qb WHERE s.b = qb.b)$rerankTop10Sql""")) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      SimilarityOps.SignLsh(planes = 8, dims = 64)
        .topK(e, e.filter(col("vec_id") === 0), k = 10)
    },

    // same sketch as ann_lsh, but candidates come from the query's
    // bucket plus every Hamming-distance-1 probe bucket (the indexed
    // path's default multi-probe set is order-independent: all flips)
    Query("ann_lsh_indexed", Some(
        s"""WITH ${signLshSql()}, qb AS (SELECT b FROM sig WHERE vec_id = 0),
           probes AS (
             SELECT qb.b AS pb FROM qb
             UNION ALL
             SELECT xor(qb.b, (1 << p.p)) FROM qb, (SELECT unnest(range(0, 8)) AS p) p
           ), cand AS (
             SELECT s.vec_id FROM sig s JOIN probes ON s.b = probes.pb
           )$rerankTop10Sql""")) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      val lsh = SimilarityOps.SignLsh(planes = 8, dims = 64)
      val io = cachedIndex(dir, "lsh_index")(lsh.writeIndex(e, _, "lsh_index"))
      lsh.topKIndexed(s, io, "lsh_index", e.filter(col("vec_id") === 0),
        k = 10)
    },

    Query("ann_ivf", Some(
        s"""WITH $ivfAssignSql,
           qcells AS (SELECT c AS cell FROM ranked WHERE vec_id = 0 AND rn <= 4),
           cand AS (
             SELECT a.vec_id FROM asn a JOIN qcells q ON a.cell = q.cell
           )$rerankTop10Sql""")) { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      SimilarityOps.IvfIndex(nlist = 16, nprobe = 4)
        .topK(e, e.filter(col("vec_id") === 0), k = 10)
    },

    // banded multi-table sign-LSH (16 tables × 8 planes): candidates
    // share a bucket with the query in ANY table, each table probed
    // at Hamming radius 1; candidate ids dedupe before the rerank
    Query("ann_lsh_banded", Some(
        s"""WITH ${bandedSignLshSql()}, qsig AS (SELECT t, b FROM sig WHERE vec_id = 0),
           probes AS (
             SELECT t, b AS pb FROM qsig
             UNION ALL
             SELECT qsig.t, xor(b, (1 << p.p))
             FROM qsig, (SELECT unnest(range(0, 8)) AS p) p
           ), cand AS (
             SELECT DISTINCT se.vec_id
             FROM sig se JOIN probes pr ON pr.t = se.t AND pr.pb = se.b
           )$rerankTop10Sql""")) { (s, dir) =>
      // the PRODUCTION hyperplane serving path: banded multi-table
      // sign-LSH (16 tables × 8 planes, Hamming-1 probes per table)
      // over a materialized partitionBy(t, bucket) index — measured
      // recall@10 ≈ 0.85 where the single-table tier reads ≈ 0.1
      val e = tbl(s, dir, "embeddings")
      val lsh = SimilarityOps.BandedSignLsh(tables = 16, planes = 8,
        dims = 64)
      val io = cachedIndex(dir, "blsh_index")(lsh.writeIndex(e, _, "blsh_index"))
      lsh.topKIndexed(s, io, "blsh_index", e.filter(col("vec_id") === 0),
        k = 10)
    },

    // exact / IVF(16,4) / banded sign-LSH(16 tables × 8 planes,
    // Hamming-1 probes) top-10 per query vector (vec_id < 20, self
    // excluded), all ranked by round(cos,4) with vec_id tiebreak;
    // recall = |approx ∩ exact| / 10; the IVF nprobe cutoff also
    // ranks by rounded centroid cosine (engine-portable boundary)
    Query("ann_recall", Some(
        s"""WITH $ivfAssignSql, qcells AS (
             SELECT vec_id AS qid, c AS cell FROM ranked
             WHERE vec_id < 20 AND rn <= 4
           ), zq AS (
             SELECT q.vec_id AS qid, e.vec_id,
               unnest(q.embedding) AS x, unnest(e.embedding) AS y
             FROM embeddings q, embeddings e
             WHERE q.vec_id < 20 AND e.vec_id <> q.vec_id
           ), cosq AS (
             SELECT qid, vec_id, $roundedCosSql AS cos FROM zq GROUP BY 1, 2
           ), exact_top AS (
             SELECT qid, vec_id FROM (
               SELECT qid, vec_id, row_number() OVER (
                 PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM cosq)
             WHERE rn <= 10
           ), ivf_top AS (
             SELECT qid, vec_id FROM (
               SELECT cq.qid, cq.vec_id, row_number() OVER (
                 PARTITION BY cq.qid ORDER BY cq.cos DESC, cq.vec_id) AS rn
               FROM cosq cq JOIN asn a ON a.vec_id = cq.vec_id
                    JOIN qcells qc ON qc.qid = cq.qid AND qc.cell = a.cell)
             WHERE rn <= 10
           ), ${bandedSignLshSql()},
           qsig AS (SELECT vec_id AS qid, t, b FROM sig WHERE vec_id < 20),
           probes AS (
             SELECT qid, t, b AS pb FROM qsig
             UNION ALL
             SELECT qid, t, xor(b, (1 << p.p))
             FROM qsig, (SELECT unnest(range(0, 8)) AS p) p
           ), lsh_cand AS (
             SELECT DISTINCT pr.qid, se.vec_id
             FROM sig se JOIN probes pr ON pr.t = se.t AND pr.pb = se.b
           ), lsh_top AS (
             SELECT qid, vec_id FROM (
               SELECT cq.qid, cq.vec_id, row_number() OVER (
                 PARTITION BY cq.qid ORDER BY cq.cos DESC, cq.vec_id) AS rn
               FROM cosq cq JOIN lsh_cand lc
                    ON lc.qid = cq.qid AND lc.vec_id = cq.vec_id)
             WHERE rn <= 10
           ), hits_i AS (
             SELECT x.qid, count(i.vec_id) AS h FROM exact_top x
             LEFT JOIN ivf_top i ON i.qid = x.qid AND i.vec_id = x.vec_id
             GROUP BY 1
           ), hits_l AS (
             SELECT x.qid, count(l.vec_id) AS h FROM exact_top x
             LEFT JOIN lsh_top l ON l.qid = x.qid AND l.vec_id = x.vec_id
             GROUP BY 1
           )
           SELECT q.vec_id,
             round(coalesce(hi.h, 0)/10.0, 4) AS recall_ivf,
             round(coalesce(hl.h, 0)/10.0, 4) AS recall_lsh
           FROM (SELECT vec_id FROM embeddings WHERE vec_id < 20) q
           LEFT JOIN hits_i hi ON hi.qid = q.vec_id
           LEFT JOIN hits_l hl ON hl.qid = q.vec_id""")) { (s, dir) =>
      // index-quality harness: per-query recall@10 of the IVF and
      // banded sign-LSH production paths vs the exact cosine top-10,
      // over the first 20 query vectors (rounded-cos ranking, id
      // tiebreak)
      SimilarityOps.annRecall(tbl(s, dir, "embeddings"), nQueries = 20,
        k = 10, SimilarityOps.IvfIndex(nlist = 16, nprobe = 4),
        SimilarityOps.BandedSignLsh(tables = 16, planes = 8, dims = 64))
    },

    // pair-recall of the bucketed near-dup tiers vs the exact pair
    // set: both tiers exact-verify their candidates, so recall is the
    // count ratio; the single-table sig is md5(p:d), the banded sig
    // md5(t:p:d) — the same derivations as their serving oracles
    Query("neardup_recall", Some(
        s"""WITH allp AS (
             SELECT e.vec_id AS va, f.vec_id AS vb
             FROM embeddings e JOIN embeddings f ON e.vec_id < f.vec_id
           ), ${pairCosSql("alls", "allp")},
           exact_p AS (SELECT va, vb FROM alls WHERE cos >= 0.35),
           ${signLshSql("s")}, scand AS (
             SELECT a.vec_id AS va, bb.vec_id AS vb
             FROM ssig a JOIN ssig bb ON a.b = bb.b AND a.vec_id < bb.vec_id
           ), ${bandedSignLshSql("b")}, bcand AS (
             SELECT DISTINCT a.vec_id AS va, bb.vec_id AS vb
             FROM bsig a JOIN bsig bb ON a.t = bb.t AND a.b = bb.b AND a.vec_id < bb.vec_id
           ), counts AS (
             SELECT
               (SELECT count(*) FROM exact_p) AS ec,
               (SELECT count(*) FROM scand s JOIN exact_p e
                  ON s.va = e.va AND s.vb = e.vb) AS sc,
               (SELECT count(*) FROM bcand b JOIN exact_p e
                  ON b.va = e.va AND b.vb = e.vb) AS bc
           )
           SELECT 'lsh' AS method, sc AS pairs_found, ec AS pairs_exact,
             round(sc * 1.0 / ec, 4) AS recall FROM counts
           UNION ALL
           SELECT 'lsh_banded', bc, ec, round(bc * 1.0 / ec, 4) FROM counts""")) { (s, dir) =>
      // pair-recall harness: the bucketed near-dup tiers measured
      // against the exact O(n²) pair set at τ=0.35 — the number that
      // says the hyperplane tiers under-recall at near-orthogonal
      // thresholds (use SemDeDup there); both tiers exact-verify, so
      // recall = count ratio
      SimilarityOps.neardupRecall(tbl(s, dir, "embeddings"),
        threshold = 0.35,
        single = SimilarityOps.SignLsh(planes = 8, dims = 64),
        banded = SimilarityOps.BandedSignLsh(tables = 16, planes = 8,
          dims = 64))
    },

    // same centroid/assignment math as ann_ivf (first-16 centroids,
    // rounded-cos-desc cell-desc tie break); within-cell pairs; a
    // vector drops
    // when a smaller-id vector in its cell has rounded cos >= 0.35
    Query("semdedup", Some(
        s"""WITH $ivfAssignSql, cand AS (
             SELECT a.vec_id AS va, b.vec_id AS vb
             FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
           ), ${pairCosSql("pc", "cand")},
           drops AS (SELECT DISTINCT vb FROM pc WHERE cos >= 0.35)
           SELECT asn.vec_id AS vec_id, cast(asn.cell AS INT) AS cell
           FROM asn WHERE asn.vec_id NOT IN (SELECT vb FROM drops)""")) { (s, dir) =>
      // cluster-then-threshold semantic dedup: survivors with their cell
      SimilarityOps.SemDeDup(nlist = 16, threshold = 0.35)
        .survivors(tbl(s, dir, "embeddings"))
        .select(col("vec_id"), col("cell"))
    }
  )
}
