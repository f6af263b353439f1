package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.oracle.TranscriptView
import graft.sink.TableIO

/** What the query records share: the table readers, the one transcript
  * view cache, the fixtures several queries derive their input from, and
  * the regexes their oracle SQL repeats. */
object Fixtures {

  /** Table scan with an adaptive width floor: a small-SF parquet file
    * arrives as ONE split (10 MB < files.maxPartitionBytes), which
    * serializes every downstream per-row projection onto one core —
    * fingerprint_bottomk measured 3.3 s single-split vs 0.38 s at 32.
    * At production scale the scan already has ≥ parallelism splits and
    * the condition is false, so no shuffle is added where it would
    * hurt. */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val par = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  // The transcript view derivation includes a per-user row_number()
  // window; deriving it once per QUERY adds 1-4 s of fixed overhead to
  // every sweep entry. Cache + materialize once per (session, dir) so
  // per-operator timings measure the operator. (Session-keyed: entries
  // die with their session; MEMORY_AND_DISK bounds heap at big SF.)
  // The window leaves spark.sql.shuffle.partitions cached blocks (200
  // by default) and AQE does not coalesce a cached plan, so every query
  // would run one task per block. Queries read the cache through a
  // coalesce to defaultParallelism instead: one wave of tasks, no
  // shuffle. The cached plan itself stays as it is: packing it into
  // fewer, larger blocks changes the bytes every cached scan reads.
  // This is the only cache: every query file reads the view through it.
  private val viewCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def transcripts(spark: SparkSession, dir: String): DataFrame =
    viewCache.getOrElseUpdate((spark, dir), {
      val df = TranscriptView.load(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize eagerly, outside any query's timing
      df.coalesce(spark.sparkContext.defaultParallelism)
    })

  /** Deterministic Prometheus exposition-format lines derived from the
    * transcript table: plain samples, labeled samples (incl. trailing
    * comma and escaped label values), second- and millisecond-resolution
    * timestamps, a trailing comment, plus comment / malformed / blank
    * lines that the parser must skip or drop. */
  def promFixture(t: DataFrame): DataFrame = {
    val m8 = pmod(col("turn_idx"), lit(8))
    t.withColumn("line",
      when(m8 === 0, concat(lit("req_total{tool=\""), col("tool"),
          lit("\",role=\""), col("role"), lit("\"} "), col("turn_idx")))
        .when(m8 === 1, lit("# TYPE req_total counter"))
        .when(m8 === 2, concat(lit("mem_bytes "), col("turn_idx"),
          lit(".5 1700000000")))
        .when(m8 === 3, lit("lat_ms{q=\"a\\nb\",p=\"c\\\"d\"} 2.5e3 1700000123456"))
        .when(m8 === 4, concat(lit("bad{tool=\""), col("tool"), lit("\" 1")))
        .when(m8 === 5, concat(lit("up{role=\""), col("role"), lit("\",} 1")))
        .when(m8 === 6, lit("x:y_total 3.25 # c"))
        .otherwise(lit("   ")))
  }

  /** Sorted `k=v` join of a label map — a portable, hash-comparable
    * rendering of map<string,string> for the oracle. */
  def promLabelsStr(labels: Column): Column =
    array_join(transform(array_sort(map_entries(labels)),
      e => concat(e.getField("key"), lit("="), e.getField("value"))), ",")

  /** Index cache at `/tmp/graft_<table>_<dir>`, reused only by the JVM
    * that built it: repeated invocations in one process (the bench runs
    * a query several times) measure the path-scoped LOOKUP, not index
    * construction, while an index an earlier process left there (built
    * by other code, maybe) is deleted and rebuilt — dynamic partition
    * overwrite alone would keep its stale partitions. The `<table>.done`
    * marker, written AFTER `write` (dynamic partition overwrite
    * suppresses _SUCCESS), holds this JVM's token: a crashed mid-write
    * index is rebuilt, never served. */
  def cachedIndex(dir: String, table: String)(write: TableIO => Unit): TableIO =
    synchronized {
      val root = new java.io.File(
        s"/tmp/graft_${table}_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      val io = TableIO(root.toString)
      val done = new java.io.File(root, s"$table.done").toPath
      if (!java.nio.file.Files.exists(done) ||
          java.nio.file.Files.readString(done) != jvmToken) {
        org.apache.commons.io.FileUtils.deleteDirectory(root)
        write(io)
        java.nio.file.Files.writeString(done, jvmToken)
      }
      io
    }

  private val jvmToken = java.util.UUID.randomUUID().toString

  // -- oracle side: each sketch's DuckDB CTEs, written once -----------------

  // the nginx access-log and CSV-row shapes, as DuckDB regexes
  val nginxRx = """^(\S+) - (\S+) \[([^\]]+)\] "(\w+) (\S+) ([^"]+)" ([0-9]+) ([0-9]+) "([^"]*)" "([^"]*)"$"""
  val csvRx = """^([^,"]+),([0-9]+),"([^"]*)",([0-9]+)$"""

  /** `DedupOps.words(text)`: lower-cased, whitespace runs collapsed,
    * split on the space. */
  private[queries] val wordsSql =
    """str_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')"""

  /** The rounded cosine of the vector columns `x` and `y`, aggregated
    * over their unnested elements (4 dp, the engine-portable rule). */
  private[queries] val roundedCosSql =
    """round(sum(cast(x AS DOUBLE)*cast(y AS DOUBLE)) /
      (sqrt(sum(cast(x AS DOUBLE)*cast(x AS DOUBLE))) *
       sqrt(sum(cast(y AS DOUBLE)*cast(y AS DOUBLE)))), 4)"""

  /** `SignLsh(planes = 8, dims = 64).bucket`: `<prefix>planes(p, d, w)`
    * holds the ±1 weights from md5(p:d) parity and `<prefix>sig(vec_id,
    * b)` each vector's bucket (bit p set iff its projection on plane p
    * is positive). */
  private[queries] def signLshSql(prefix: String = ""): String =
    s"""${prefix}planes AS (
         SELECT p.p, d.d,
           CASE WHEN cast(('0x' || substr(md5(p.p || ':' || d.d), 1, 1)) AS BIGINT) % 2 = 1
                THEN 1.0 ELSE -1.0 END AS w
         FROM (SELECT unnest(range(0, 8)) AS p) p, (SELECT unnest(range(0, 64)) AS d) d
       ), ${prefix}proj AS (
         SELECT e.vec_id, pl.p, sum(cast(e.embedding[pl.d+1] AS DOUBLE) * pl.w) AS s
         FROM embeddings e, ${prefix}planes pl GROUP BY 1, 2
       ), ${prefix}sig AS (
         SELECT vec_id, cast(sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS b
         FROM ${prefix}proj GROUP BY 1
       )"""

  /** `BandedSignLsh(tables = 16, planes = 8, dims = 64).sketch`:
    * `<prefix>planes(t, p, d, w)` holds the ±1 weights from md5(t:p:d)
    * parity and `<prefix>sig(vec_id, t, b)` each vector's bucket in
    * table t. */
  private[queries] def bandedSignLshSql(prefix: String = ""): String =
    s"""${prefix}planes AS (
         SELECT t.t, p.p, d.d,
           CASE WHEN cast(('0x' || substr(md5(t.t || ':' || p.p || ':' || d.d), 1, 1)) AS BIGINT) % 2 = 1
                THEN 1.0 ELSE -1.0 END AS w
         FROM (SELECT unnest(range(0, 16)) AS t) t,
              (SELECT unnest(range(0, 8)) AS p) p,
              (SELECT unnest(range(0, 64)) AS d) d
       ), ${prefix}proj AS (
         SELECT e.vec_id, pl.t, pl.p, sum(cast(e.embedding[pl.d+1] AS DOUBLE) * pl.w) AS s
         FROM embeddings e, ${prefix}planes pl GROUP BY 1, 2, 3
       ), ${prefix}sig AS (
         SELECT vec_id, t, cast(sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS b
         FROM ${prefix}proj GROUP BY 1, 2
       )"""

  /** `IvfIndex(nlist = 16).assign` over the sampled quantizer: the 16
    * lowest-id vectors are the centroids, `ranked(vec_id, c, rn)` orders
    * each vector's cells by rounded cosine, larger cell first on ties,
    * and `asn(vec_id, cell)` keeps the best. */
  private[queries] val ivfAssignSql =
    s"""cent AS (
         SELECT vec_id AS c, embedding AS ce FROM embeddings WHERE vec_id < 16
       ), cz AS (
         SELECT e.vec_id, cent.c, unnest(e.embedding) AS x, unnest(cent.ce) AS y
         FROM embeddings e, cent
       ), ccos AS (SELECT vec_id, c, $roundedCosSql AS cos FROM cz GROUP BY 1, 2),
       ranked AS (
         SELECT vec_id, c, row_number() OVER (
           PARTITION BY vec_id ORDER BY cos DESC, c DESC) AS rn
         FROM ccos
       ), asn AS (SELECT vec_id, c AS cell FROM ranked WHERE rn = 1)"""

  /** The exact rerank every ANN oracle ends with, continuing a CTE list
    * that defines `cand(vec_id)`: the candidates' rounded cosine to the
    * query vector `vec_id = 0`, ranked with the vec_id tiebreak, top 10
    * as (rank, vec_id). */
  private[queries] val rerankTop10Sql =
    s""",
       qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
       rz AS (
         SELECT c.vec_id, unnest(e.embedding) AS x, unnest(qv.v) AS y
         FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, qv
       ), rcos AS (SELECT vec_id, $roundedCosSql AS cos FROM rz GROUP BY vec_id)
       SELECT cast(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank, vec_id
       FROM rcos ORDER BY 1 LIMIT 10"""

  /** The exact pair check of the near-dup oracles: `<name>(va, vb, cos)`
    * is the rounded cosine of every id pair in CTE `<pairs>(va, vb)`. */
  private[queries] def pairCosSql(name: String, pairs: String): String =
    s"""${name}z AS (
         SELECT p.va, p.vb, unnest(e.embedding) AS x, unnest(f.embedding) AS y
         FROM $pairs p JOIN embeddings e ON e.vec_id = p.va
              JOIN embeddings f ON f.vec_id = p.vb
       ), $name AS (SELECT va, vb, $roundedCosSql AS cos FROM ${name}z GROUP BY va, vb)"""

  /** `DedupOps.shingles(words, 3)`: `sh(doc_id, shingles)`, the distinct
    * word 3-grams of each doc of CTE `<src>(doc_id, words)` with at
    * least 3 words. */
  private[queries] def shinglesSql(src: String): String =
    s"""sh AS (
         SELECT doc_id, list_distinct(list_transform(range(1, len(words)-1),
           i -> array_to_string(words[i:i+2], ' '))) AS shingles
         FROM $src WHERE len(words) >= 3
       )"""

  /** `MinHashLSH(numHashes = 16, bands = 4, shingleSize = 3)` over CTE
    * `<src>(doc_id, words)`: `sig(doc_id, mh)` holds the 16 slots (one
    * md5 per shingle, one affine mix per slot) and `bucketed(doc_id, mh,
    * band, bucket)` the 4 band buckets. */
  private[queries] def minhashSql(src: String): String = {
    val mixes = graft.ops.DedupOps.minhashSalts(16).map { case (a, b) =>
      s"list_min(list_transform(bh, h -> (h * $a + $b) % 4294967296))"
    }.mkString(", ")
    s"""${shinglesSql(src)}, sigb AS (
         SELECT doc_id, list_transform(shingles,
           s -> cast(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS bh FROM sh
       ), sig AS (SELECT doc_id, [$mixes] AS mh FROM sigb),
       bands AS (SELECT doc_id, mh, unnest(range(0, 4)) AS band FROM sig),
       bucketed AS (
         SELECT doc_id, mh, band,
           md5(array_to_string(mh[band*4+1:band*4+4], ',')) AS bucket
         FROM bands
       )"""
  }

  /** `SimHash(bits = 32)` of each document: `sh(doc_id, simhash)`, bit b
    * set iff more of the doc's word hashes (md5, 32 bits) have bit b set
    * than not. */
  private[queries] val simhashSql =
    s"""toks AS (SELECT doc_id, unnest($wordsSql) AS tok FROM documents),
       th AS (
         SELECT doc_id, cast(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
       ), bits AS (
         SELECT doc_id, b, sum(CASE WHEN (h // (1 << b)) % 2 = 1 THEN 1 ELSE -1 END) AS s
         FROM th, (SELECT unnest(range(0, 32)) AS b) GROUP BY doc_id, b
       ), sh AS (
         SELECT doc_id, cast(sum(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS BIGINT) AS simhash
         FROM bits GROUP BY doc_id
       )"""
}
