package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops._
import graft.oracle.TranscriptView.withCte
import Fixtures._

/** Training-data curation queries: exact and sketch dedup, text
  * analysis, deterministic sampling, multimodal plumbing and the full
  * curation chain, each with its DuckDB SQL; plus the bench-only fast
  * tiers in `bench`. */
object CurationQueries {
  val all: Seq[Query] = Seq(
    // -- training-data ops (prompt: dedup / text analysis / similarity) ------
    Query("dedup_exact", Some(
        """SELECT md5(text) AS text_md5, count(*) AS n_copies,
           min(doc_id) AS keep_id FROM documents GROUP BY 1""")) { (s, dir) =>
      tbl(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("text_md5"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
    },

    Query("token_count", Some(
        """SELECT doc_id, cast(len(str_split(text, ' ')) AS INT) AS n_tokens,
           cast(length(text) AS INT) AS n_chars_computed FROM documents""")) { (s, dir) =>
      tbl(s, dir, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("int").as("n_tokens"),
        length(col("text")).cast("int").as("n_chars_computed"))
    },

    Query("quality_score", Some(
        """SELECT doc_id,
           round(cast(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
                 / len(str_split(text, ' ')), 4) AS distinct_ratio
           FROM documents""")) { (s, dir) =>
      val toks = split(col("text"), " ")
      tbl(s, dir, "documents").select(
        col("doc_id"),
        round(size(array_distinct(toks)).cast("double") / size(toks), 4)
          .as("distinct_ratio"))
    },

    Query("lang_id", Some(
        """SELECT doc_id,
           CASE WHEN cast(len(list_filter(str_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
                     / len(str_split(text, ' ')) > 0.05
                THEN 'en' ELSE 'unk' END AS lang_guess
           FROM documents""")) { (s, dir) =>
      val toks = split(col("text"), " ")
      val stopHits = size(filter(toks, x => x.isin("the", "a")))
      tbl(s, dir, "documents").select(
        col("doc_id"),
        when(stopHits.cast("double") / size(toks) > 0.05, "en")
          .otherwise("unk").as("lang_guess"))
    },

    Query("fingerprint", Some(
        """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
           FROM documents""")) { (s, dir) =>
      tbl(s, dir, "documents").select(
        col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary"))
          .as("fp"))
    },

    // -- deterministic sampling / mixing (training-data curation) ------------
    Query("stratified_sample", Some(
        """WITH d AS (
             SELECT doc_id,
               CASE WHEN length(text) < 400 THEN 'short' ELSE 'long' END AS stratum
             FROM documents)
           SELECT doc_id, stratum FROM d
           WHERE cast(('0x' || substr(md5(cast(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT)
                 / 4294967296.0
               < CASE stratum WHEN 'short' THEN 0.25 ELSE 0.75 END""")) { (s, dir) =>
      val d = tbl(s, dir, "documents")
        .withColumn("stratum",
          when(length(col("text")) < 400, "short").otherwise("long"))
      SampleOps.StratifiedSample("stratum", "doc_id",
        Map("short" -> 0.25, "long" -> 0.75))(d)
        .select("doc_id", "stratum")
    },

    Query("weighted_repeat", Some(
        """WITH d AS (
             SELECT doc_id,
               CASE WHEN length(text) < 400 THEN 2.5 ELSE 0.5 END AS w,
               cast(('0x' || substr(md5(cast(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT)
                 / 4294967296.0 AS u
             FROM documents),
           r AS (
             SELECT doc_id,
               cast(floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS INT) AS reps
             FROM d)
           SELECT doc_id, cast(t.i AS INT) AS "__rep__"
           FROM r CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) t
           WHERE t.i < reps""")) { (s, dir) =>
      val d = tbl(s, dir, "documents")
      SampleOps.WeightedRepeat("doc_id",
        when(length(col("text")) < 400, lit(2.5)).otherwise(lit(0.5)))(d)
        .select(col("doc_id"), col("__rep__"))
    },

    // -- dedup sketches (prompt: MinHash+LSH / SimHash / Jaccard) ------------
    Query("dedup_minhash", Some(
        s"""WITH toks AS (SELECT doc_id, $wordsSql AS words FROM documents),
           ${minhashSql("toks")}, cand AS (
             SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.mh AS ma, b.mh AS mb
             FROM bucketed a JOIN bucketed b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
           )
           SELECT doc_a, doc_b,
             round(len(list_filter(range(0,16), i -> ma[i+1] = mb[i+1])) / 16.0, 4) AS est_jaccard
           FROM cand WHERE len(list_filter(range(0,16), i -> ma[i+1] = mb[i+1])) >= 8""")) { (s, dir) =>
      DedupOps.MinHashLSH(numHashes = 16, bands = 4, shingleSize = 3,
        threshold = 0.5).pairs(tbl(s, dir, "documents"))
    },

    Query("dedup_simhash", Some(
        s"""WITH $simhashSql SELECT doc_id, simhash FROM sh""")) { (s, dir) =>
      DedupOps.SimHash(bits = 32)(tbl(s, dir, "documents"))
    },

    Query("simhash_pairs", Some(
        s"""WITH $simhashSql
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             cast(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""")) { (s, dir) =>
      DedupOps.SimHash(bits = 32).pairs(tbl(s, dir, "documents"), maxDist = 3)
    },

    Query("dedup_jaccard", Some(
        s"""WITH toks AS (SELECT doc_id, $wordsSql AS words FROM documents),
           ${shinglesSql("toks")},
           ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
           inter AS (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, any_value(a.n) AS na, any_value(b.n) AS nb, count(*) AS i
             FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
           )
           SELECT doc_a, doc_b, round(i / (na + nb - i), 4) AS jaccard
           FROM inter WHERE i / (na + nb - i) >= 0.2""")) { (s, dir) =>
      DedupOps.NgramJaccard(shingleSize = 3, threshold = 0.2)
        .pairs(tbl(s, dir, "documents"))
    },

    Query("decontaminate", Some(
        s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents), bench AS (
             SELECT doc_id AS bench_id, array_to_string(ws[11:18], ' ') AS probe
             FROM w WHERE doc_id % 25 = 0 AND len(ws) >= 18
           ), g AS (
             SELECT DISTINCT doc_id, array_to_string(ws[i:i+7], ' ') AS gram
             FROM w, UNNEST(range(1, len(ws) - 6)) AS t(i)
           )
           SELECT g.doc_id AS doc_id, b.bench_id AS bench_id,
             count(*) AS n_overlap
           FROM g JOIN bench b ON g.gram = b.probe
           GROUP BY 1, 2""")) { (s, dir) =>
      // benchmark set = 8-word probes cut from every 25th document
      // (simulated eval-set leakage); a doc is contaminated when any of
      // its 8-grams equals a probe (GPT-3-style n-gram overlap rule)
      val d = tbl(s, dir, "documents")
      val bench = d
        .select(col("doc_id").as("bench_id"),
          DedupOps.words(col("text")).as("__w__"))
        .where(pmod(col("bench_id"), lit(25)) === 0 &&
          size(col("__w__")) >= 18)
        .select(col("bench_id"),
          array_join(slice(col("__w__"), 11, 8), " ").as("text"))
      DedupOps.Decontaminate(n = 8).pairs(d, bench)
        .select("doc_id", "bench_id", "n_overlap")
    },

    Query("paragraph_dedup", Some(withCte(
        """, p AS (
             SELECT conv_id, turn_idx,
               CASE WHEN mod(turn_idx, 7) = 0
                    THEN '-- transcript footer; do not reply --'
                    ELSE text END AS para
             FROM transcripts
           ), k AS (
             SELECT conv_id, turn_idx, para,
               CASE WHEN length(para) < 1 THEN true
                    ELSE (row_number() OVER
                      (PARTITION BY para ORDER BY conv_id, turn_idx)) = 1
               END AS keep
             FROM p)
           SELECT conv_id AS doc_id,
             coalesce(string_agg(CASE WHEN keep THEN para END,
               chr(10) || chr(10) ORDER BY turn_idx), '') AS text,
             count(CASE WHEN keep THEN 1 END) AS n_kept,
             count(CASE WHEN NOT keep THEN 1 END) AS n_dropped
           FROM k GROUP BY conv_id"""))) { (s, dir) =>
      // docs assembled per conversation; every 7th turn is replaced by
      // a shared footer, so cross-doc boilerplate collapses to its
      // first occurrence and documents rebuild without it
      val t = transcripts(s, dir)
      val para = when(pmod(col("turn_idx"), lit(7)) === 0,
        lit("-- transcript footer; do not reply --")).otherwise(col("text"))
      val byConv = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      val full = byConv.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val docs = t.select(col("conv_id"),
          row_number().over(byConv).as("__rn__"),
          array_join(collect_list(para).over(full), "\n\n").as("text"))
        .where(col("__rn__") === 1)
        .select(col("conv_id").as("doc_id"), col("text"))
      DedupOps.ParagraphDedup()(docs)
        .select("doc_id", "text", "n_kept", "n_dropped")
    },

    Query("corpus_ngrams", Some(
        s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents), g AS (
             SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
             FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
           )
           SELECT gram, count(*) AS doc_freq FROM g
           GROUP BY gram ORDER BY doc_freq DESC, gram LIMIT 100""")) { (s, dir) =>
      TextOps.topNgrams(tbl(s, dir, "documents"), n = 3, k = 100)
    },

    // the full curation chain against the same minhash CTEs; the
    // near-dup component resolution is a nested RECURSIVE reachability
    // closure (small pair graph), mirroring resolveDuplicates'
    // min-label fixpoint
    Query("curation_survivors", Some(
        s"""WITH w0 AS (SELECT doc_id, text, $wordsSql AS words FROM documents),
           gated AS (
             SELECT doc_id, text, words FROM w0
             WHERE len(words) >= 10
               AND len(list_distinct(words)) * 1.0 / len(words) >= 0.3
               AND (SELECT max(c) * 1.0 / sum(c) FROM (
                      SELECT count(*) AS c FROM (
                        SELECT unnest(list_transform(range(1, len(words)),
                          i -> array_to_string(words[i:i+1], ' '))) AS bgx)
                      GROUP BY bgx)) <= 0.12
           ), exact AS (
             SELECT min(doc_id) AS keep_id FROM gated GROUP BY md5(text)
           ), ex AS (
             SELECT g.* FROM gated g JOIN exact ON g.doc_id = exact.keep_id
           ), ${minhashSql("ex")}, prs AS (
             SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bucketed a JOIN bucketed b
               ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
             WHERE len(list_filter(range(0,16), i -> a.mh[i+1] = b.mh[i+1])) >= 8
           ), und AS (
             SELECT doc_a AS u, doc_b AS v FROM prs
             UNION SELECT doc_b, doc_a FROM prs
           ), comp AS (
             SELECT id, min(r) AS comp FROM (
               WITH RECURSIVE reach(id, r) AS (
                 SELECT u, v FROM und
                 UNION
                 SELECT e.u, r.r FROM und e JOIN reach r ON e.v = r.id
               ) SELECT id, least(id, r) AS r FROM reach
             ) GROUP BY id
           )
           SELECT e.doc_id, md5(e.text) AS text_md5 FROM ex e
           LEFT JOIN comp ON e.doc_id = comp.id
           WHERE comp.id IS NULL OR comp.id = comp.comp""")) { (s, dir) =>
      // the full curation chain: gate → exact dedup → LSH near-dup →
      // cluster resolution → survivor set (graft.pipeline.CurationPipeline)
      graft.pipeline.CurationPipeline.survivors(tbl(s, dir, "documents"))
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("text_md5"))
    },

    // -- text analysis (prompt: tokens / quality / lang-id / fingerprint) ----
    Query("token_bpe", Some(
        """SELECT doc_id,
             cast(len(regexp_split_to_array(text, '\s+')) AS INT) AS ws_tokens,
             cast(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS bpe_tokens,
             cast(length(text) AS INT) AS n_chars
           FROM documents""")) { (s, dir) =>
      TextOps.tokenCounts(tbl(s, dir, "documents"))
    },

    Query("quality_features", Some(
        raw"""WITH w AS (
             SELECT doc_id, length(text) AS chars, text, $wordsSql AS words
             FROM documents)
           SELECT doc_id,
             cast(chars AS INT) AS n_chars,
             cast(len(words) AS INT) AS n_words,
             round(chars / len(words), 4) AS mean_word_len,
             round(len(list_distinct(words)) / len(words), 4) AS type_token_ratio,
             round((chars - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) / chars, 4) AS punct_ratio,
             round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / chars, 4) AS alpha_ratio
           FROM w""")) { (s, dir) =>
      TextOps.qualityFeatures(tbl(s, dir, "documents"))
    },

    Query("repetition_stats", Some(
        s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
           uni AS (
             SELECT doc_id, tok, count(*) AS c
             FROM (SELECT doc_id, unnest(words) AS tok FROM w) GROUP BY 1, 2
           ), ent AS (
             SELECT doc_id, round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS token_entropy
             FROM uni GROUP BY 1
           ), bg AS (
             SELECT doc_id, b, count(*) AS c FROM (
               SELECT doc_id, unnest(list_transform(range(1, len(words)),
                 i -> array_to_string(words[i:i+1], ' '))) AS b
               FROM w WHERE len(words) >= 2) GROUP BY 1, 2
           ), topb AS (
             SELECT doc_id, round(max(c) * 1.0 / sum(c), 4) AS top_bigram_frac
             FROM bg GROUP BY 1
           )
           SELECT ent.doc_id, token_entropy, top_bigram_frac
           FROM ent LEFT JOIN topb ON ent.doc_id = topb.doc_id""")) { (s, dir) =>
      TextOps.repetitionStats(tbl(s, dir, "documents"))
    },

    Query("lang_id_argmax", Some(
        s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
           sc AS (
             SELECT doc_id,
               len(list_filter(words, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS se,
               len(list_filter(words, x -> x IN ('el', 'la', 'de', 'que', 'y'))) AS ss,
               len(list_filter(words, x -> x IN ('der', 'die', 'und', 'das', 'ist'))) AS sd,
               len(list_filter(words, x -> x IN ('的', '是', '在', '了', '和'))) AS sz
             FROM w)
           SELECT doc_id,
             CASE WHEN greatest(se, ss, sd, sz) <= 0 THEN 'unk'
                  WHEN se = greatest(se, ss, sd, sz) THEN 'en'
                  WHEN ss = greatest(se, ss, sd, sz) THEN 'es'
                  WHEN sd = greatest(se, ss, sd, sz) THEN 'de'
                  WHEN sz = greatest(se, ss, sd, sz) THEN 'zh'
                  ELSE 'unk' END AS lang_guess
           FROM sc""")) { (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_guess"))
    },

    Query("fingerprint_bottomk", Some(
        """WITH n AS (
             SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t FROM documents
           ), g AS (
             SELECT doc_id, list_transform(range(1, greatest(length(t) - 7, 1) + 1),
               i -> substr(t, i, 8)) AS grams
             FROM n)
           SELECT doc_id, array_to_string(
             list_sort(list_distinct(list_transform(grams,
               g -> cast(('0x' || substr(md5(g), 1, 8)) AS BIGINT))))[1:8], ',') AS fp
           FROM g""")) { (s, dir) =>
      TextOps.BottomKFingerprint(gram = 8, sketchSize = 8)(
        tbl(s, dir, "documents"))
        .select(col("doc_id"), array_join(col("fp"), ",").as("fp"))
    },

    // -- multimodal plumbing (prompt: binary cols + batched decode) ----------
    Query("multimodal_decode", Some(
        """SELECT doc_id,
             cast(cast(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 512 + 16 AS INT) AS width,
             cast(cast(('0x' || substr(md5(text), 5, 4)) AS BIGINT) % 512 + 16 AS INT) AS height,
             3 AS channels,
             round(cast(('0x' || substr(md5(text), 9, 8)) AS BIGINT) / 4294967295.0, 6) AS f0,
             round(cast(('0x' || substr(md5(text), 17, 8)) AS BIGINT) / 4294967295.0, 6) AS f1,
             round(cast(('0x' || substr(md5(text), 25, 8)) AS BIGINT) / 4294967295.0, 6) AS f2
           FROM documents""")) { (s, dir) =>
      val withBin = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      MultimodalOps.decode(withBin, "payload").select(
        col("doc_id"), col("width"), col("height"), col("channels"),
        round(element_at(col("features"), 1), 6).as("f0"),
        round(element_at(col("features"), 2), 6).as("f1"),
        round(element_at(col("features"), 3), 6).as("f2"))
    },

    Query("frame_sample", Some(
        """SELECT doc_id, cast(unnest(range(0, n_chars % 30 + 1, 3)) AS INT) AS frame_idx
           FROM documents""")) { (s, dir) =>
      val vids = tbl(s, dir, "documents")
        .select(col("doc_id"),
          (pmod(col("n_chars"), lit(30)) + 1).cast("int").as("n_frames"))
      MultimodalOps.sampleFrames(vids, "n_frames", stride = 3)
        .select("doc_id", "frame_idx")
    }
  )

  /** Bench-only entries — NOT part of the driver's oracle contract.
    * The production fast-hash (xxhash) tiers of the sketch operators:
    * every `all` sketch pins the portable-md5 tier (cross-engine
    * verifiable), which pays an md5-per-shingle cost the 100 TB path
    * does not; these measure the tier a real deployment runs.
    * Correctness of the fast tier is pinned by an internal A/B spec
    * (same pair sets as the md5 tier on a dup/distinct corpus —
    * DatasetOpsSpec "fast hash tier"). */
  val bench: Seq[Query] = Seq(
    Query("dedup_minhash_fast", None)((s, dir) =>
      DedupOps.MinHashLSH(numHashes = 16, bands = 4, shingleSize = 3,
        threshold = 0.5, portable = false).pairs(tbl(s, dir, "documents"))),
    Query("dedup_simhash_fast", None)((s, dir) =>
      DedupOps.SimHash(bits = 32, portable = false)(tbl(s, dir, "documents"))),
    Query("simhash_pairs_fast", None)((s, dir) =>
      DedupOps.SimHash(bits = 32, portable = false)
        .pairs(tbl(s, dir, "documents"), maxDist = 3)),
    Query("dedup_jaccard_capped", None)((s, dir) => // hot-shingle cap variant
      DedupOps.NgramJaccard(shingleSize = 3, threshold = 0.2,
        maxShingleFreq = 100).pairs(tbl(s, dir, "documents")))
  )
}
