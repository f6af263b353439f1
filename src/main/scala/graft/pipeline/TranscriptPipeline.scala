package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.PipelineConfig
import graft.ops._

/** The north-star composed pipeline: collect → parse → enrich → route →
  * aggregate over the transcript table (BASELINE.json). One declarative
  * Catalyst plan end-to-end: the multi-format parse is a single
  * projection (whole-stage codegen), the enrich is a broadcast join, the
  * route is a `when` chain + partitioned fan-out, the aggregates are
  * hash aggregations with map-side partials — no RDDs, no UDFs, no
  * driver-side loops, so the identical plan runs on a 1000-executor
  * cluster against 10^12 turns.
  *
  * The pipeline is defined once, as [[spec]], which
  * [[graft.run.PipelineRunner.run]] runs; `examples/transcript_pipeline.yaml`
  * is the same spec as a config file.
  */
object TranscriptPipeline {

  /** Full-match nginx access-line pattern (the reference bench workload:
    * `test/benchmark/test_cases/performance_file_to_blackhole_ilogtail/
    * ilogtail.yaml`, 11 fields). */
  val nginxRegex: String =
    "(\\S+) - (\\S+) \\[([^\\]]+)\\] \"(\\w+) (\\S+) ([^\"]+)\" (\\d+) (\\d+) \"([^\"]*)\" \"([^\"]*)\""
  val nginxKeys: Seq[String] = Seq("ip", "http_user", "http_time", "method",
    "path", "protocol", "status", "bytes", "referer", "agent")

  /** Multi-format parse: one projection that classifies each line and
    * extracts the per-format fields (null where not applicable) — the
    * columnar equivalent of the reference's processor chain where each
    * parser keeps-source-on-fail and the next one tries
    * (CommonParserOptions keep semantics).
    */
  def parse(df: DataFrame): DataFrame = {
    val t = col("text")
    val anchored = s"^(?:$nginxRegex)$$"
    val isNginx = t.rlike(anchored)
    val isKv = t.rlike("^tool=\\S+ status=\\d+")
    val isCsv = t.rlike("^[^,\"]+,\\d+,\"[^\"]*\",\\d+$")

    // ONE evaluation per format per row, materialized in a dedicated
    // projection (multi-use non-cheap aliases are not collapsed):
    //  - nginx: one regexp_replace packs all 10 groups, one split unpacks
    //    (vs 10 regexp_extract = 10 full regex matches);
    //  - json: one from_json to map<string,string> (vs get_json_object
    //    per field = one JSON parse per field);
    //  - kv: one str_to_map.
    val repl = (1 to nginxKeys.size).map("$" + _).mkString("\u0001")
    // \u0001-bearing lines (would shift the packed split) fall back to
    // per-group extraction -- rare, keeps the fast path exact.
    val staged = df
      .withColumn("__nginx__",
        when(isNginx,
          when(!t.contains("\u0001"),
            split(regexp_replace(t, anchored, repl), "\u0001", -1))
          .otherwise(array(nginxKeys.indices.map(i =>
            regexp_extract(t, anchored, i + 1)): _*))))
      .withColumn("__json__",
        when(t.rlike("^\\s*\\{"), from_json(t, "map<string,string>",
          Map.empty[String, String])))
      .withColumn("__kv__", when(isKv, ParseOps.strToMapLastWin(t, " ", "=")))

    val isJson = col("__json__").isNotNull
    val fmt = when(isNginx, "nginx").when(isJson, "json")
      .when(isKv, "kv").when(isCsv, "csv").otherwise("raw")

    val withNginx = nginxKeys.zipWithIndex.foldLeft(staged.withColumn("fmt", fmt)) {
      case (d, (k, i)) =>
        d.withColumn(k, try_element_at(col("__nginx__"), lit(i + 1)))
    }
    withNginx
      .withColumn("level", try_element_at(col("__json__"), lit("level")))
      .withColumn("code", try_element_at(col("__json__"), lit("code")))
      .withColumn("msg", try_element_at(col("__json__"), lit("msg")))
      .withColumn("kv_status", try_element_at(col("__kv__"), lit("status")))
      .withColumn("latency_ms", try_element_at(col("__kv__"), lit("latency_ms")))
      .withColumn("status_any",
        coalesce(col("status"), col("kv_status"),
          when(isCsv, regexp_extract(t, "^[^,]+,(\\d+),", 1))))
      .drop("__nginx__", "__json__", "__kv__")
  }

  /** Role/tool lookup dictionaries (FIXTURES.md §3) — broadcast joins. */
  val roleDict = Map(
    "user" -> "human", "assistant" -> "model", "system" -> "control")
  // 'tool' intentionally absent → exercises HandleMissing.
  val toolDict = Map(
    "search" -> "retrieval", "browser" -> "retrieval", "bash" -> "exec",
    "python" -> "exec", "sql" -> "exec", "editor" -> "authoring",
    "none" -> "n/a")

  private val enrichStages = Seq(
    EnrichOps.DictMap(roleDict, "role", "role_class",
      handleMissing = true, missing = "other"),
    EnrichOps.DictMap(toolDict, "tool", "tool_family",
      handleMissing = true, missing = "misc"))

  def enrich(df: DataFrame): DataFrame =
    enrichStages.foldLeft(df)((d, m) => m(d))

  /** First-match-wins router on role (FIXTURES.md §4): the overlapping
    * third rule can never win over `^tool$` — proves rule order. */
  val router: RouteOps.LogstoreRouter = RouteOps.LogstoreRouter(
    sourceKey = "role",
    rules = Seq(
      RouteOps.Rule("assistant", "sink_llm"),
      RouteOps.Rule("tool|system", "sink_infra"),
      RouteOps.Rule("t.*", "sink_never")),
    defaultSink = "sink_user")

  def route(df: DataFrame): DataFrame = router(df)

  /** Per-sink aggregates: counts per (sink, tool, hour bucket). */
  def aggregates(df: DataFrame): DataFrame =
    AggOps.sinkAggregates(df, bucket = "hour")

  /** The whole job: the processor line (parse, then the two dict maps),
    * the router, and the sink the runner writes — 32 `conv_id` buckets
    * per sink, aggregates per hour. */
  val spec: PipelineConfig.Spec = PipelineConfig.Spec(
    processors = (parse _) +: enrichStages.map(m => m.apply _),
    router = Some(router),
    sink = Some(PipelineConfig.SinkSpec("events_routed", numBuckets = 32,
      bucketKeys = Seq("conv_id"), aggBucket = Some("hour"))))

  /** The full plan. */
  def apply(df: DataFrame): DataFrame = spec(df)
}
