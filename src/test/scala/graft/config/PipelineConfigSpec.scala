package graft.config

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.run.PipelineRunner
import graft.sources.Transcripts

/** Config-driven pipeline: YAML/JSON spec → composed Catalyst plan. */
class PipelineConfigSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val yaml =
    """processors:
      |  - type: parse_kv
      |    sourceKey: text
      |    keys: [status, latency_ms]
      |  - type: add_fields
      |    fields: {pipeline: p1}
      |  - type: dict_map
      |    sourceKey: role
      |    destKey: role_class
      |    dict: {user: human, assistant: model, system: control}
      |    missing: other
      |  - type: md5
      |    sourceKey: text
      |    destKey: text_md5
      |router:
      |  sourceKey: role
      |  rules:
      |    - {regex: assistant, sink: sink_llm}
      |    - {regex: tool|system, sink: sink_infra}
      |  default: sink_user
      |""".stripMargin

  test("yaml config builds the same plan as manual composition") {
    val input = Transcripts.generate(spark, 50, seed = 11)
    val spec = PipelineConfig.parse(yaml)
    val out = spec(input)
    assert(out.columns.toSet.contains("__sink__"))
    assert(out.columns.toSet
      .intersect(Set("status", "latency_ms", "pipeline", "role_class", "text_md5"))
      .size == 5)
    // router semantics: first-match on role
    val sinks = out.groupBy("role", "__sink__").count().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sinks("assistant") == "sink_llm")
    assert(sinks("tool") == "sink_infra")
    assert(sinks("user") == "sink_user")
    // dict enrich
    val rc = out.select("role", "role_class").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rc("user") == "human" && rc("tool") == "other")
  }

  test("json config parses too; unknown type rejected at build time") {
    val json = """{"processors": [{"type": "md5", "sourceKey": "text", "destKey": "h"}]}"""
    val input = Transcripts.generate(spark, 5)
    assert(PipelineConfig.parse(json)(input).columns.contains("h"))
    val bad = """{"processors": [{"type": "nope"}]}"""
    val e = intercept[IllegalArgumentException](PipelineConfig.parse(bad))
    assert(e.getMessage.contains("nope"))
  }

  test("every registry type builds and runs from a minimal config") {
    val minimal: Map[String, String] = Map(
      "parse_transcript" -> """{"type":"parse_transcript"}""",
      "parse_regex" -> """{"type":"parse_regex","sourceKey":"text","regex":"(\\S+) (\\d+)","keys":["k1","k2"]}""",
      "parse_json" -> """{"type":"parse_json","sourceKey":"text","keys":["level"]}""",
      "parse_delimiter" -> """{"type":"parse_delimiter","sourceKey":"text","separator":",","keys":["a","b"]}""",
      "parse_kv" -> """{"type":"parse_kv","sourceKey":"text","keys":["status"]}""",
      "parse_timestamp" -> """{"type":"parse_timestamp","sourceKey":"tstr","format":"yyyy-MM-dd"}""",
      "grok" -> """{"type":"grok","sourceKey":"text","match":["%{IP:ip}"]}""",
      "filter_include" -> """{"type":"filter_include","include":{"role":".*"}}""",
      "filter_exclude" -> """{"type":"filter_exclude","exclude":{"text":"\\?\\?.*"}}""",
      "add_fields" -> """{"type":"add_fields","fields":{"env":"prod"}}""",
      "rename" -> """{"type":"rename","mapping":{"tool":"tool2"}}""",
      "drop" -> """{"type":"drop","keys":["ts"]}""",
      "pick" -> """{"type":"pick","include":["conv_id","turn_idx","text","role"]}""",
      "dict_map" -> """{"type":"dict_map","sourceKey":"role","destKey":"rc","dict":{"user":"u"},"missing":"other"}""",
      "desensitize" -> """{"type":"desensitize","sourceKey":"text","before":"latency_ms=","pattern":"\\d+"}""",
      "string_replace" -> """{"type":"string_replace","sourceKey":"text","pattern":"\\d+","replacement":"N"}""",
      "base64_encode" -> """{"type":"base64_encode","sourceKey":"text","destKey":"b64"}""",
      "base64_decode" -> """{"type":"base64_decode","sourceKey":"b64e","destKey":"plain"}""",
      "md5" -> """{"type":"md5","sourceKey":"text","destKey":"h"}""",
      "pack_json" -> """{"type":"pack_json","sourceKeys":["role","tool"],"destKey":"p"}""",
      "parse_apsara" -> """{"type":"parse_apsara","sourceKey":"text"}""",
      "grok_custom" -> """{"type":"grok_custom","sourceKey":"text","match":["%{MYNUM:n}"],"customPatterns":{"MYNUM":"\\d+"}}""",
      "json_expand" -> """{"type":"json_expand","sourceKey":"text","depth":2}""",
      "split_explode" -> """{"type":"split_explode","sourceKey":"text","separator":"|||"}""",
      "multiline" -> """{"type":"multiline","startPattern":"^zzz-never"}""",
      "filter_key_regex" -> """{"type":"filter_key_regex","mapCol":"kvmap","include":["a"]}""",
      "filter_expression" -> """{"type":"filter_expression","expr":{"key":"role","regex":".*"}}""",
      "fields_with_condition" -> """{"type":"fields_with_condition","cases":[{"when":[{"key":"role","op":"equals","value":"user"}],"fields":{"kind":"human"}}]}""",
      "rate_limit" -> """{"type":"rate_limit","fields":["conv_id","turn_idx"],"limit":1}""",
      "appender" -> """{"type":"appender","key":"text","value":"|z"}""",
      "anchor" -> """{"type":"anchor","sourceKey":"text","start":"[","stop":"]","destKey":"mid"}""",
      "gotime" -> """{"type":"gotime","sourceKey":"ts","destKey":"tfmt","format":"yyyy/MM/dd"}""",
      "encrypt" -> """{"type":"encrypt","sourceKey":"text","keyHex":"00112233445566778899aabbccddeeff","ivHex":"000102030405060708090a0b0c0d0e0f"}""",
      "drop_last_key" -> """{"type":"drop_last_key","dropKey":"text","includeKeys":["role"]}""",
      "log_to_metric" -> """{"type":"log_to_metric","labelKeys":["role"],"valueKeys":["turn_idx"]}""",
      "shardhash" -> """{"type":"shardhash","keys":["conv_id"],"buckets":16}""",
      "content_value_group" -> """{"type":"content_value_group","keys":["role","tool"]}""",
      "parse_container_cri" -> """{"type":"parse_container_cri","sourceKey":"text"}""",
      "parse_container_docker" -> """{"type":"parse_container_docker","sourceKey":"text"}""",
      "parse_syslog" -> """{"type":"parse_syslog","sourceKey":"text","format":"auto"}""",
      "prom_parse" -> """{"type":"prom_parse","sourceKey":"promline"}""",
      "influx_parse" -> """{"type":"influx_parse","sourceKey":"influxline"}""",
      "statsd_parse" -> """{"type":"statsd_parse","sourceKey":"statsdline"}""",
      "otlp_log_parse" -> """{"type":"otlp_log_parse","sourceKey":"otlpline"}""",
      // one data point / one span per record → exact pass-through counts
      "otlp_metric_parse" -> """{"type":"otlp_metric_parse","sourceKey":"otlpmline"}""",
      "otlp_trace_parse" -> """{"type":"otlp_trace_parse","sourceKey":"otlptline"}""",
      "raw_parse" -> """{"type":"raw_parse","sourceKey":"rawbin"}""",
      // one sample / one log per payload → exact pass-through counts
      "remote_write_parse" -> """{"type":"remote_write_parse","sourceKey":"rwbin"}""",
      "sls_pb_parse" -> """{"type":"sls_pb_parse","sourceKey":"slsbin"}""",
      // one collapsed-stack line per body → exact pass-through counts
      "pyroscope_groups_parse" -> """{"type":"pyroscope_groups_parse","sourceKey":"pyrobody","nameKey":"pyroname"}""",
      // one in-mapping sample type × one sample → one row per payload
      "pprof_parse" -> """{"type":"pprof_parse","sourceKey":"pprofbin","nameKey":"pyroname"}""",
      // seriesLimit 1 → one WriteRequest payload per input row
      "remote_write_pack" -> """{"type":"remote_write_pack","nameKey":"role","labelsKey":"text","timeKey":"turn_idx","valueKey":"w","seriesLimit":1}""",
      // per-row JSON / line-protocol serializations (row-preserving)
      "custom_single_pack" -> """{"type":"custom_single_pack","timeKey":"turn_idx","contentKeys":["text","role"]}""",
      "jsonline_pack" -> """{"type":"jsonline_pack","timeKey":"turn_idx","contentKeys":["text","role"]}""",
      "influx_pack" -> """{"type":"influx_pack","nameKey":"role","valueKey":"w"}""",
      // rate/weight 1.0 → exact pass-through (harness asserts no rows lost)
      "sample_hash" -> """{"type":"sample_hash","keyField":"conv_id","rate":1.0}""",
      "sample_stratified" -> """{"type":"sample_stratified","stratumField":"role","keyField":"conv_id","rates":{"assistant":1.0},"defaultRate":1.0}""",
      "sample_weighted" -> """{"type":"sample_weighted","keyField":"conv_id","weightField":"w"}""",
      // probe matches nothing → exact pass-through; unique rowid →
      // one doc out per row in
      "decontaminate" -> """{"type":"decontaminate","idField":"rowid","textField":"text","probes":["zz yy xx ww vv uu tt ss"]}""",
      "paragraph_dedup" -> """{"type":"paragraph_dedup","idField":"rowid","textField":"text"}""",
      // the curation stages drop rows by design (harness asserts ≤ n)
      "quality_gate" -> """{"type":"quality_gate"}""",
      "exact_dedup" -> """{"type":"exact_dedup"}""",
      "near_dedup" -> """{"type":"near_dedup"}""",
      "cloud_meta" -> """{"type":"cloud_meta","tags":{"__cloud_region__":"cn-test","__host__":"h0"}}""",
      // one all-covering range → left join keeps exactly one match per row
      "range_lookup" -> """{"type":"range_lookup","sourceKey":"turn_idx","ranges":[{"lo":0,"hi":1000000,"tier":"all"}]}""",
      // maxLogs 1 → one payload per row in (row-preserving here)
      "sls_pb_pack" -> """{"type":"sls_pb_pack","timeKey":"turn_idx","contentKeys":["role","text"],"topic":"t","maxLogs":1}""",
      // per-row group keys → one payload per row in (row-preserving)
      "otlp_log_pack" -> """{"type":"otlp_log_pack","timeKey":"turn_idx","orderKey":"turn_idx","groupKeys":["conv_id","turn_idx"],"bodyKey":"text","levelKey":"role"}""",
      // per-row group keys + one typed family per row → one payload each
      "otlp_metric_pack" -> """{"type":"otlp_metric_pack","nameKey":"role","timeKey":"turn_idx","orderKey":"turn_idx","groupKeys":["conv_id","turn_idx"],"typeKey":"mtype","valueKey":"w"}""",
      "otlp_trace_pack" -> """{"type":"otlp_trace_pack","nameKey":"role","orderKey":"turn_idx","groupKeys":["conv_id","turn_idx"],"traceIdKey":"conv_id","spanIdKey":"conv_id","kindKey":"turn_idx","startKey":"turn_idx","endKey":"turn_idx"}""",
      // relabel needs the parsed (name, labels) frame, so its minimal
      // config is a two-stage chain (the harness splices into the array)
      "prom_relabel" -> ("""{"type":"prom_parse","sourceKey":"promline"},""" +
        """{"type":"prom_relabel","rules":[{"action":"labeldrop","regex":"a"}]}"""))
    assert(minimal.keySet == PipelineConfig.registry.keySet,
      s"test must cover every registry type; missing: " +
        (PipelineConfig.registry.keySet -- minimal.keySet))
    val base = Transcripts.generate(spark, 10)
      .withColumn("tstr", org.apache.spark.sql.functions.lit("2024-01-02"))
      .withColumn("b64e", org.apache.spark.sql.functions.lit("aGk="))
      .withColumn("kvmap", org.apache.spark.sql.functions.map(
        org.apache.spark.sql.functions.lit("a"),
        org.apache.spark.sql.functions.lit("b")))
      .withColumn("promline",
        org.apache.spark.sql.functions.lit("""m{a="b"} 1"""))
      .withColumn("influxline",
        org.apache.spark.sql.functions.lit("m,h=x value=1"))
      .withColumn("statsdline",
        org.apache.spark.sql.functions.lit("m:1|c"))
      .withColumn("w", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("mtype", org.apache.spark.sql.functions.lit("gauge"))
      .withColumn("otlpline", org.apache.spark.sql.functions.lit(
        """{"resourceLogs":[{"scopeLogs":[{"logRecords":[{"body":{"stringValue":"x"}}]}]}]}"""))
      .withColumn("otlpmline", org.apache.spark.sql.functions.lit(
        """{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"name":"g","gauge":{"dataPoints":[{"asDouble":1.5}]}}]}]}]}"""))
      .withColumn("otlptline", org.apache.spark.sql.functions.lit(
        """{"resourceSpans":[{"scopeSpans":[{"spans":[{"name":"s"}]}]}]}"""))
      .withColumn("rawbin", org.apache.spark.sql.functions.lit(
        "raw line".getBytes("UTF-8")))
      .withColumn("rwbin", org.apache.spark.sql.functions.lit(
        org.xerial.snappy.Snappy.compress(
          graft.ops.BinaryDecoders.Encode.writeRequest(Seq(
            ("m", Nil, Seq((1.0, 1663904182000L))))))))
      .withColumn("slsbin", org.apache.spark.sql.functions.lit(
        graft.ops.BinaryDecoders.Encode.logGroup("t", "s", Nil,
          Seq((1663904182L, Seq("content" -> "x"))))))
      .withColumn("pyrobody", org.apache.spark.sql.functions.lit("a;b 1"))
      .withColumn("pyroname", org.apache.spark.sql.functions.lit("app"))
      .withColumn("pprofbin", org.apache.spark.sql.functions.lit(
        graft.ops.PprofOps.Encode.profile(
          sampleTypes = Seq(("inuse_space", "bytes")),
          samples = Seq(graft.ops.PprofOps.Encode.Smpl(Seq(1), Seq(5))),
          locations = Seq(graft.ops.PprofOps.Encode.Loc(1, Seq(10))),
          functions = Seq(graft.ops.PprofOps.Encode.Fn(10, "f", "f.go")),
          timeNanos = 1673495500000000000L,
          durationNanos = 1000000000L)))
      .withColumn("rowid",
        org.apache.spark.sql.functions.monotonically_increasing_id())
      .withColumn("doc_id", org.apache.spark.sql.functions.col("rowid"))
    val n = base.count()
    val dropping = Set("quality_gate", "exact_dedup", "near_dedup")
    minimal.foreach { case (t, cfg) =>
      val out = PipelineConfig.parse(s"""{"processors":[$cfg]}""")(base)
      if (dropping(t)) assert(out.count() <= n, s"type $t gained rows")
      else assert(out.count() == n, s"type $t lost rows")
    }
  }

  test("range_lookup config: heterogeneous attrs bind by key, missing " +
    "keys are null, two lookups chain without ambiguity") {
    val base = Transcripts.generate(spark, 3)
    val cfg =
      """{"processors":[
        |{"type":"range_lookup","sourceKey":"turn_idx","ranges":[
        |  {"lo":0,"hi":2,"tier":"gold","city":"nyc"},
        |  {"lo":2,"hi":1000000,"tier":"silver"}]},
        |{"type":"range_lookup","sourceKey":"turn_idx","ranges":[
        |  {"lo":0,"hi":1000000,"band":"all"}]}]}""".stripMargin
    val out = PipelineConfig.parse(cfg)(base)
      .select("turn_idx", "tier", "city", "band").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(out.nonEmpty)
    out.foreach { case (ti, tier, city, band) =>
      assert(band == "all")
      if (ti < 2) assert(tier == "gold" && city == "nyc")
      else assert(tier == "silver" && city == null, s"turn $ti")
    }
  }

  test("config-first e2e: YAML sink section reproduces the hardwired pipeline's aggregates") {
    import graft.ops.AggOps
    import graft.pipeline.TranscriptPipeline
    import graft.sink.TableIO
    val dir = java.nio.file.Files.createTempDirectory("graft-cfg").toString
    val input = Transcripts.generate(spark, 120, seed = 5)
    val yaml =
      """processors:
        |  - type: dict_map
        |    sourceKey: role
        |    destKey: role_class
        |    dict: {user: human, assistant: model, system: control}
        |    missing: other
        |  - type: dict_map
        |    sourceKey: tool
        |    destKey: tool_family
        |    dict: {search: retrieval, browser: retrieval, bash: exec,
        |           python: exec, sql: exec, editor: authoring, none: n/a}
        |    missing: misc
        |router:
        |  sourceKey: role
        |  rules:
        |    - {regex: assistant, sink: sink_llm}
        |    - {regex: tool|system, sink: sink_infra}
        |    - {regex: t.*, sink: sink_never}
        |  default: sink_user
        |sink:
        |  table: events_routed
        |  numBuckets: 8
        |  bucketKeys: [conv_id]
        |  aggBucket: hour
        |""".stripMargin
    val written = PipelineRunner.run(input, TableIO(dir), "cfg-run",
      spec = PipelineConfig.parse(yaml)).bucketsWritten
    assert(written > 0)
    // aggregate-count equality vs the hardwired pipeline (north rule)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = Seq("__sink__", "tool", "bucket", "n_events", "n_convs")
      df.select(cols.map(col): _*).collect()
        .map(r => cols.map(c => String.valueOf(r.getAs[Any](c))).mkString("|"))
        .sorted.toSeq
    }
    val got = spark.read.parquet(s"$dir/sink_aggregates")
    val expect = AggOps.sinkAggregates(TranscriptPipeline(input), bucket = "hour")
    assert(rows(got) == rows(expect))
    // routed-row equality: every input row landed exactly once
    assert(spark.read.parquet(s"$dir/events_routed").count() == input.count())
  }

  test("yaml multicast section: every matching condition receives a copy") {
    val yaml =
      """multicast:
        |  conditions:
        |    - {sink: all_tool, key: role, regex: tool}
        |    - {sink: all_user, key: role, regex: user|assistant}
        |""".stripMargin
    val input = Transcripts.generate(spark, 30, seed = 3)
    val out = PipelineConfig.parse(yaml)(input)
    val bySink = out.groupBy("__sink__").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val roles = input.groupBy("role").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySink("all_tool") == roles("tool"))
    assert(bySink("all_user") == roles("user") + roles("assistant"))
  }

  test("router + multicast together are rejected at parse time") {
    val both =
      """router:
        |  sourceKey: role
        |  rules: [{regex: assistant, sink: a}]
        |multicast:
        |  conditions: [{sink: b, key: role, regex: tool}]
        |""".stripMargin
    val e = intercept[IllegalArgumentException](PipelineConfig.parse(both))
    assert(e.getMessage.contains("not both"))
  }

  test("configured parser failure semantics flow through (keepSource default)") {
    val cfg =
      """processors:
        |  - type: parse_regex
        |    sourceKey: text
        |    regex: 'tool=(\S+) status=(\d+).*'
        |    keys: [t_tool, t_status]
        |""".stripMargin
    val input = Transcripts.generate(spark, 80, seed = 2)
    val out = PipelineConfig.parse(cfg)(input)
    // parse failures keep the source row with null extracted fields
    assert(out.count() == input.count())
    assert(out.filter(col("t_status").isNotNull).count() > 0)
    assert(out.filter(col("t_status").isNull).count() > 0)
  }

  // --- DictFilePath tier (processor_dict_map.go:95-135) ---------------------

  private def csvFile(content: String): String = {
    val f = java.nio.file.Files.createTempFile("graft-dict", ".csv")
    java.nio.file.Files.write(f, content.getBytes("UTF-8"))
    f.toString
  }

  test("dict_map file tier: CSV load with quoting, config-driven") {
    import graft.ops.EnrichOps
    // quoted value with an embedded comma, and a same-value duplicate
    val path = csvFile(
      "user,human\nassistant,\"model, large\"\nsystem,control\nuser,human\n")
    val dict = EnrichOps.DictMap.loadCsv(path)
    assert(dict == Map("user" -> "human", "assistant" -> "model, large",
      "system" -> "control"))
    val yaml =
      s"""processors:
         |  - type: dict_map
         |    sourceKey: role
         |    destKey: role_class
         |    dictFilePath: $path
         |    dict: {user: IGNORED-file-wins}
         |    missing: other
         |""".stripMargin
    val out = PipelineConfig.parse(yaml)(Transcripts.generate(spark, 30, seed = 7))
    val rc = out.select("role", "role_class").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rc("user") == "human" && rc("assistant") == "model, large" &&
      rc("tool") == "other")
  }

  test("dict_map file tier: conflicting duplicate, bad row shape, size cap") {
    import graft.ops.EnrichOps
    // conflicting duplicate key → "hash crash" (go:127-129)
    val clash = intercept[IllegalArgumentException](
      EnrichOps.DictMap.loadCsv(csvFile("k,v1\nk,v2\n")))
    assert(clash.getMessage.contains("hash crash"))
    // a row with ≠2 fields is illegal input (go:122-124)
    val shape = intercept[IllegalArgumentException](
      EnrichOps.DictMap.loadCsv(csvFile("a,b\nc,d,e\n")))
    assert(shape.getMessage.contains("length"))
    // empty file rejected (go:116-118)
    intercept[IllegalArgumentException](
      EnrichOps.DictMap.loadCsv(csvFile("")))
    // rows past maxDictSize silently ignored (loop bound, go:110)
    assert(EnrichOps.DictMap.loadCsv(
      csvFile("a,1\nb,2\nc,3\n"), maxDictSize = 2) == Map("a" -> "1", "b" -> "2"))
  }

  // --- dynamic sink topic (flusher_kafka_v2 fmtstr) -------------------------

  test("sink topic template: per-row dynamic sink with literal fallback " +
    "for unknown keys, routed-row equality through the writer") {
    import graft.ops.RouteOps
    import graft.sink.TableIO
    val t = RouteOps.TopicTemplate("logs_%{content.role}_%{tag.nope}")
    assert(t.keys == Seq("role", "nope"))
    val input = Transcripts.generate(spark, 40, seed = 9)
    val sinks = t(input).select("role", "__sink__").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // resolved key + missing-key literal fallback (format_topic.go:18-24)
    assert(sinks("user") == "logs_user_tag.nope")
    assert(sinks("assistant") == "logs_assistant_tag.nope")

    // a bare % is a literal (the reference lexer has no %% escape:
    // fmtstr/formatstring.go:415-424)
    val pct = RouteOps.TopicTemplate("cpu%%mem_%{content.role}")
    assert(pct(input).select("__sink__").distinct().collect()
      .map(_.getString(0)).forall(_.startsWith("cpu%%mem_")))

    // config-driven: the templated sink flows into the fan-out writer
    val dir = java.nio.file.Files.createTempDirectory("graft-topic").toString
    val yaml =
      """sink:
        |  table: events_routed
        |  numBuckets: 4
        |  bucketKeys: [conv_id]
        |  topic: "t_%{content.role}"
        |""".stripMargin
    val written = PipelineRunner.run(input, TableIO(dir), "topic-run",
      spec = PipelineConfig.parse(yaml)).bucketsWritten
    assert(written > 0)
    val back = spark.read.parquet(s"$dir/events_routed")
    // routed-row equality: every row landed exactly once, under its topic
    assert(back.count() == input.count())
    val byTopic = back.groupBy("__sink__").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = input.groupBy(concat(lit("t_"), col("role"))).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTopic == expect)
    // a topic template plus a static router is rejected
    val both =
      """router:
        |  sourceKey: role
        |  rules: [{regex: user, sink: a}]
        |sink:
        |  topic: "t_%{content.role}"
        |""".stripMargin
    val e = intercept[IllegalArgumentException](PipelineConfig.parse(both))
    assert(e.getMessage.contains("topic"))
  }

  test("syslog, prom, and container processors resolve from config") {
    import graft.SparkTestSession.textDf
    val sys = PipelineConfig.parse(
      """processors:
        |  - type: parse_syslog
        |    sourceKey: text
        |    format: auto
        |    year: 2025
        |""".stripMargin)(textDf(
      "<60>Oct 09 14:36:47 hostname program: message"))
    assert(sys.select("_program_").head.getString(0) == "program")

    val prom = PipelineConfig.parse(
      """processors:
        |  - type: prom_parse
        |    sourceKey: text
        |    defaultTsSec: 42
        |  - type: prom_relabel
        |    rules:
        |      - {action: replace, sourceLabels: [app], targetLabel: svc,
        |         regex: "w(e)b", replacement: "x$1"}
        |      - {action: labeldrop, regex: app}
        |""".stripMargin)(textDf("""reqs{app="web"} 5"""))
    val row = prom.select("name", "value", "ts_sec", "labels").head
    assert(row.getString(0) == "reqs" && row.getDouble(1) == 5.0 &&
      row.getLong(2) == 42L &&
      row.getMap[String, String](3) == Map("svc" -> "xe"))

    val cri = PipelineConfig.parse(
      """processors:
        |  - type: parse_container_cri
        |    ignoringStderr: true
        |""".stripMargin)(textDf(
      "2025-01-01T00:00:00Z stdout F hello",
      "2025-01-01T00:00:00Z stderr F dropped"))
    assert(cri.select("content").collect().map(_.getString(0)).toSeq ==
      Seq("hello"))
  }
}
