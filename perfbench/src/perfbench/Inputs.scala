package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Transcripts

/** Benchmark inputs, written to parquet so the program only ever sees a
  * table scan. Everything is a pure function of the seed and the sizes. */
object Inputs {

  /** The program's own transcript generator, one parquet file per
    * partition (the stream backlog drains one file per micro-batch). */
  def transcripts(spark: SparkSession, dir: String, convs: Long, seed: Int,
      files: Int): Unit =
    Transcripts.generate(spark, convs, seed = seed, partitions = files)
      .write.mode("overwrite").parquet(dir)

  /** Sink a plain Spark SQL `CASE` over `role` assigns each turn — the
    * router's rules restated without graft code. */
  val expectedSinkSql: String =
    """CASE WHEN role = 'assistant' THEN 'sink_llm'
      |     WHEN role IN ('tool', 'system') THEN 'sink_infra'
      |     ELSE 'sink_user' END""".stripMargin

  def expectedPerSink(spark: SparkSession, dir: String): Map[String, Long] =
    spark.read.parquet(dir).selectExpr(s"$expectedSinkSql AS sink")
      .groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  // -- operator-sweep tables ---------------------------------------------
  // The four tables the sweep queries read, in the shape of the sf
  // test-data directories (events, documents, embeddings, lineitem). The
  // sweep compares each query against a stored fingerprint, so its inputs
  // are fixed: one seed, one size.
  val SweepSeed = 42
  val SweepEvents = 10000L
  val SweepDocs = 500L
  val SweepVectors = 500L
  val SweepLineitems = 6000L

  private def h(salt: Int, cols: Column*): Column =
    abs(xxhash64((cols :+ lit(SweepSeed * 1000 + salt)): _*))

  private def pick(values: Seq[String], hash: Column): Column =
    element_at(array(values.map(lit): _*), (pmod(hash, lit(values.size)) + 1).cast("int"))

  def sweepTables(spark: SparkSession, dir: String): Unit = {
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")

    val users = SweepEvents / 66
    val t0 = 1704067200L * 1000000L // 2024-01-01 UTC, microseconds
    val step = 30L * 86400L * 1000000L / SweepEvents
    write(spark.range(0, SweepEvents, 1, 4).select(
      id.as("event_id"),
      expr(s"timestamp_micros($t0 + id * $step)").as("ts"),
      pmod(h(1, id), lit(users)).as("user_id"),
      pick(Seq("signup", "error", "click", "view", "purchase"), h(2, id)).as("event_type"),
      round(pmod(h(3, id), lit(10000)) / 100.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(4, id), lit(100)), lit("}")).as("props")),
      "events")

    // every tenth document repeats its predecessor plus one word, so the
    // dedup queries have near-duplicates to find
    val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "spark", "a", "the", "line",
      "sort", "window", "order", "data", "column", "join", "small", "big",
      "query", "stream", "group", "filter", "vector", "customer")
    val base = when(pmod(id, lit(10)) === 9, id - 1).otherwise(id)
    val nWords = (pmod(h(5, base), lit(80)) + 8).cast("int")
    val words = transform(sequence(lit(1), nWords),
      i => element_at(array(vocab.map(lit): _*),
        (pmod(abs(xxhash64(base, i, lit(SweepSeed))), lit(vocab.size)) + 1).cast("int")))
    val text = concat_ws(" ", words,
      when(pmod(id, lit(10)) === 9, lit("extra")).otherwise(lit(null).cast("string")))
    write(spark.range(0, SweepDocs, 1, 2).select(id.as("doc_id"), text.as("text"))
      .select(col("doc_id"), col("text"),
        pick(Seq("en", "en", "en", "zh", "es", "de", "fr"), h(6, col("doc_id"))).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"),
        length(col("text")).cast("long").as("n_chars")),
      "documents")

    // 64-dim vectors clustered around one centroid per label
    val label = pmod(h(7, id), lit(10)).cast("int")
    val vec = transform(sequence(lit(0), lit(63)), i =>
      ((pmod(abs(xxhash64(label, i, lit(SweepSeed))), lit(2001)) - 1000) / 4000.0 +
        (pmod(abs(xxhash64(id, i, lit(SweepSeed + 1))), lit(2001)) - 1000) / 10000.0)
        .cast("float"))
    write(spark.range(0, SweepVectors, 1, 2).select(
      id.as("vec_id"), vec.as("embedding"), label.as("label")), "embeddings")

    write(spark.range(0, SweepLineitems, 1, 2).select(
      (id / 6).cast("long").as("l_orderkey"),
      pmod(h(8, id), lit(2000)).as("l_partkey"),
      pmod(h(9, id), lit(100)).as("l_suppkey"),
      (pmod(id, lit(7)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(10, id), lit(50)) + 1).cast("double").as("l_quantity"),
      round(pmod(h(11, id), lit(10000000)) / 100.0, 2).as("l_extendedprice"),
      (pmod(h(12, id), lit(11)) / 100.0).as("l_discount"),
      (pmod(h(13, id), lit(9)) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), h(14, id)).as("l_returnflag"),
      pick(Seq("F", "O"), h(15, id)).as("l_linestatus"),
      expr(s"timestamp_micros(${t0 - 5L * 365 * 86400 * 1000000L} + pmod(id * 7919, 2500) * 86400000000)")
        .as("l_shipdate")),
      "lineitem")
  }
}
