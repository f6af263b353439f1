package perfbench

/** Static query → module table for the operator sweep: each query of
  * `SparkEntry.queries ++ SparkEntry.benchQueries` is priced under the
  * graft module that owns the operator it exercises. [[problems]] is the
  * coverage guard: a query without a module, or a module entry naming no
  * query, is an error, so a new query cannot go unpriced. */
object SweepModules {

  val table: Map[String, String] = Seq(
    "AggOps" -> Seq("q1_agg", "sink_agg", "conv_stats", "multiline_merge",
      "multiline_endonly", "multiline_startcont", "turn_order", "window_counts"),
    "ParseOps" -> Seq("regex_parse", "json_parse", "kv_parse", "delimiter_parse",
      "grok_parse", "timestamp_parse", "apsara_parse", "json_expand",
      "split_explode", "spl_query"),
    "FilterOps" -> Seq("filter_include", "filter_expression",
      "fields_with_condition", "filter_key_regex", "rate_limit"),
    "FieldOps" -> Seq("field_ops", "desensitize", "string_replace", "anchor",
      "pack_json", "md5_field", "gotime_reformat", "metric_reshape",
      "drop_last_key", "base64_field", "appender_sortlabels", "encrypt_field",
      "encrypt_roundtrip"),
    "EnrichOps" -> Seq("dict_map", "range_lookup"),
    "RouteOps" -> Seq("router_first_match", "router_multicast"),
    "GroupOps" -> Seq("shardhash", "content_value_group"),
    "ContainerOps" -> Seq("container_cri", "container_docker"),
    "PromOps" -> Seq("prom_parse", "prom_relabel"),
    "SyslogOps" -> Seq("syslog_3164", "syslog_5424"),
    "WireFormats" -> Seq("influx_parse", "statsd_parse"),
    // the OTLP family, priced together (its log decoder lives in
    // WireFormats, every other piece in OtlpOps)
    "OtlpOps" -> Seq("otlp_logs_parse", "otlp_metrics_parse", "otlp_traces_parse",
      "otlp_logs_roundtrip", "otlp_metrics_roundtrip", "otlp_traces_roundtrip"),
    "BinaryDecoders" -> Seq("remote_write_parse", "remote_write_roundtrip",
      "sls_pb_parse", "sls_pb_roundtrip"),
    "FlusherFormats" -> Seq("influx_roundtrip", "custom_single_encode",
      "custom_flatten_encode"),
    "PyroscopeOps" -> Seq("pyroscope_groups_parse"),
    "PprofOps" -> Seq("pprof_parse"),
    "DedupOps" -> Seq("dedup_exact", "dedup_minhash", "dedup_simhash",
      "simhash_pairs", "dedup_jaccard", "decontaminate", "paragraph_dedup",
      "dedup_minhash_fast", "dedup_simhash_fast", "simhash_pairs_fast",
      "dedup_jaccard_capped"),
    "TextOps" -> Seq("token_count", "quality_score", "lang_id", "fingerprint",
      "corpus_ngrams", "token_bpe", "quality_features", "repetition_stats",
      "lang_id_argmax", "fingerprint_bottomk"),
    "SimilarityOps" -> Seq("ann_topk", "embed_neardup", "embed_neardup_lsh",
      "ann_lsh", "ann_lsh_indexed", "ann_ivf", "ann_lsh_banded", "ann_recall",
      "neardup_recall", "semdedup"),
    "SampleOps" -> Seq("stratified_sample", "weighted_repeat"),
    "MultimodalOps" -> Seq("multimodal_decode", "frame_sample"),
    "CurationPipeline" -> Seq("curation_survivors"),
  ).flatMap { case (m, qs) => qs.map(_ -> m) }.toMap

  val modules: Seq[String] = table.values.toSeq.distinct.sorted

  /** The queries a default sweep run times: the cheapest query of each
    * module but CurationPipeline, whose only query takes about 10 s a pass
    * and does not fit the benchmark's time box. `--queries all` times the
    * whole sweep. */
  val default: Seq[String] = Seq(
    "q1_agg", "split_explode", "filter_expression", "md5_field", "range_lookup",
    "router_first_match", "shardhash", "container_docker", "prom_parse",
    "syslog_3164", "statsd_parse", "otlp_logs_parse", "sls_pb_parse",
    "custom_flatten_encode", "pyroscope_groups_parse", "pprof_parse",
    "dedup_exact", "token_count", "ann_topk", "stratified_sample",
    "multimodal_decode")

  val outsideDefault: Set[String] = Set("CurationPipeline")

  /** The modules a default sweep prices. */
  val priced: Seq[String] = modules.filterNot(outsideDefault)

  /** Queries whose cached index lives outside the working directory. */
  val outsideWorkDir: Set[String] = Set("ann_lsh_indexed", "ann_lsh_banded")

  /** Coverage errors of `modules` against the program's query keys. */
  def problems(keys: Set[String], modules: Map[String, String] = table): Seq[String] =
    (keys -- modules.keySet).toSeq.sorted.map(k => s"query '$k' has no module") ++
      (modules.keySet -- keys).toSeq.sorted.map(k => s"module table names unknown query '$k'")
}
