package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops._
import graft.oracle.TranscriptView
import graft.pipeline.TranscriptPipeline
import graft.sources.Transcripts

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2), each with equivalent DuckDB SQL in `oracleSql`.
  * Transcript-shaped queries run over [[TranscriptView]] — a
  * deterministic derivation from the driver's `events` parquet whose
  * defining SQL is portable across Spark and DuckDB, so the oracle
  * verifies the full parse→enrich→route→aggregate pipeline.
  */
object SparkEntry {

  /** Table scan with an adaptive width floor: a small-SF parquet file
    * arrives as ONE split (10 MB < files.maxPartitionBytes), which
    * serializes every downstream per-row projection onto one core —
    * fingerprint_bottomk measured 3.3 s single-split vs 0.38 s at 32.
    * At production scale the scan already has ≥ parallelism splits and
    * the condition is false, so no shuffle is added where it would
    * hurt. */
  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
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
  private val viewCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def transcripts(spark: SparkSession, dir: String): DataFrame =
    viewCache.getOrElseUpdate((spark, dir), {
      val df = TranscriptView.load(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize eagerly, outside any query's timing
      df.coalesce(spark.sparkContext.defaultParallelism)
    })

  private val nginxAnchored = s"^(?:${TranscriptPipeline.nginxRegex})$$"

  /** Deterministic Prometheus exposition-format lines derived from the
    * transcript table: plain samples, labeled samples (incl. trailing
    * comma and escaped label values), second- and millisecond-resolution
    * timestamps, a trailing comment, plus comment / malformed / blank
    * lines that the parser must skip or drop. */
  private def promFixture(t: DataFrame): DataFrame = {
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
  private def promLabelsStr(labels: Column): Column =
    array_join(transform(array_sort(map_entries(labels)),
      e => concat(e.getField("key"), lit("="), e.getField("value"))), ",")

  /** Flagship: full pipeline on sf0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame = {
    val t = transcripts(spark, "/root/testdata/sf0.001")
    TranscriptPipeline.aggregates(TranscriptPipeline(t))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- sanity -----------------------------------------------------------
    "q1_agg" -> ((s, dir) => tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))),

    // -- parsers (SURVEY §2.2) --------------------------------------------
    "regex_parse" -> { (s, dir) =>
      val parsed = ParseOps.RegexParser("text", TranscriptPipeline.nginxRegex,
        TranscriptPipeline.nginxKeys)(transcripts(s, dir))
      parsed.filter(col("ip").isNotNull)
        .select("conv_id", "turn_idx", "ip", "method", "path", "status", "bytes")
    },
    "json_parse" -> { (s, dir) =>
      val parsed = ParseOps.JsonParser("text", Seq("level", "code", "msg"))(
        transcripts(s, dir))
      parsed.filter(col("level").isNotNull)
        .select("conv_id", "turn_idx", "level", "code", "msg")
    },
    "kv_parse" -> { (s, dir) =>
      val t = transcripts(s, dir).filter(col("text").rlike("^tool=\\S+ status=\\d+"))
      ParseOps.KeyValueParser("text", " ", "=")
        .extract(t, Seq("status", "latency_ms"))
        .select("conv_id", "turn_idx", "status", "latency_ms")
    },
    "delimiter_parse" -> { (s, dir) =>
      val t = transcripts(s, dir)
        .filter(col("text").rlike("^[^,\"]+,\\d+,\"[^\"]*\",\\d+$"))
      ParseOps.DelimiterParser("text", ",",
        Seq("c_type", "c_status", "c_item", "c_bytes"), quote = Some("\""))(t)
        .select("conv_id", "turn_idx", "c_type", "c_status", "c_item", "c_bytes")
    },
    "grok_parse" -> { (s, dir) =>
      val grok = ParseOps.GrokParser("text", Seq(
        "%{IP:client} - %{USERNAME:ident} \\[%{HTTPDATE:http_time}\\] \"%{WORD:verb} %{URIPATHPARAM:request} HTTP/%{NUMBER:httpversion}\" %{NUMBER:response} %{NUMBER:sent_bytes} \"-\" \"graft/1.0\""))
      grok(transcripts(s, dir)).filter(col("client").isNotNull)
        .select("conv_id", "turn_idx", "client", "verb", "request", "response", "sent_bytes")
    },
    "timestamp_parse" -> { (s, dir) =>
      val t = transcripts(s, dir)
        .withColumn("ts_str", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      ParseOps.TimestampParser("ts_str", "yyyy-MM-dd HH:mm:ss", "ts_parsed")(t)
        .select("conv_id", "turn_idx", "ts_parsed")
    },
    "apsara_parse" -> { (s, dir) =>
      ParseOps.ApsaraParser("text")(transcripts(s, dir))
        .filter(col("__LEVEL__").isNotNull)
        .select(col("conv_id"), col("turn_idx"), col("time"),
          col("__LEVEL__").as("level"), col("__THREAD__").as("thread"),
          col("__FILE__").as("file"), col("__LINE__").as("line"),
          col("microtime"),
          try_element_at(col("apsara_kv"), lit("shard")).as("shard"))
    },

    // -- filters (SURVEY §2.3) ---------------------------------------------
    "filter_include" -> { (s, dir) =>
      val f1 = FilterOps.IncludeFilter(Map("role" -> "user|assistant"))
      val f2 = FilterOps.ExcludeFilter(Map("text" -> "\\?\\?.*"))
      f2(f1(transcripts(s, dir))).groupBy(col("role"))
        .agg(count(lit(1)).as("n"))
    },
    "filter_expression" -> { (s, dir) =>
      import FilterOps._
      val tree = Or(Seq(
        And(Seq(KeyRegex("role", "tool"), KeyRegex("tool", "search|bash"))),
        Not(KeyRegex("role", "user|assistant|system|tool"))))
      ExpressionFilter(tree)(transcripts(s, dir))
        .select("conv_id", "turn_idx", "role", "tool")
    },
    "fields_with_condition" -> { (s, dir) =>
      import FilterOps._
      val op = FieldsWithCondition(Seq(
        Case(Seq(FieldCond("role", Equals, "assistant")), allMustMatch = true,
          Map("speaker_kind" -> "model")),
        Case(Seq(FieldCond("role", StartWith, "t"),
          FieldCond("tool", Regexp, "^(?:search|browser)$")), allMustMatch = true,
          Map("speaker_kind" -> "retriever")),
        Case(Seq(FieldCond("role", Contains, "s")), allMustMatch = true,
          Map("speaker_kind" -> "sys"))))
      op(transcripts(s, dir)).groupBy(col("role"), col("tool"), col("speaker_kind"))
        .agg(count(lit(1)).as("n"))
    },
    "filter_key_regex" -> { (s, dir) =>
      // keep rows whose KV key NAMES satisfy the include/exclude
      // regexes. A cheap necessary-condition rlike prefilter on the
      // raw text runs first (an include hit NEEDS a latency_* token
      // and a tool token — bare tokens become keys too), so the
      // O(tokens²) last-wins KV parse only touches candidate rows:
      // identical survivors, 2.84 s → 0.21 s measured at sf0.1
      val pre = transcripts(s, dir).filter(
        col("text").rlike("(^| )latency_") &&
          col("text").rlike("(^| )tool(=| |$)"))
      val parsed = ParseOps.KeyValueParser("text", " ", "=")(pre)
      FilterOps.KeyRegexFilter("kv",
        include = Seq("^latency_", "^tool$"), exclude = Seq("^debug"))(parsed)
        .select("conv_id", "turn_idx", "text")
    },
    "rate_limit" -> { (s, dir) =>
      FilterOps.RateLimit(Seq("role"), limit = 1, tsCol = "ts",
        bucket = "1 hour", tieBreak = Seq("conv_id", "turn_idx"))(
        transcripts(s, dir))
        .groupBy(col("role")).agg(count(lit(1)).as("n_kept"))
    },

    // -- field ops (SURVEY §2.4) --------------------------------------------
    "field_ops" -> { (s, dir) =>
      val d0 = transcripts(s, dir)
      val d1 = FieldOps.AddFields(Map("pipeline" -> "p1"))(d0)
      val d2 = FieldOps.Rename(Map("role" -> "speaker"))(d1)
      FieldOps.PickKey(include = Seq("conv_id", "turn_idx", "speaker", "pipeline"))(d2)
    },
    "desensitize" -> { (s, dir) =>
      val t = transcripts(s, dir).filter(col("text").startsWith("tool="))
      FieldOps.Desensitize("text", "latency_ms=", "\\d+")(t)
        .select("conv_id", "turn_idx", "text")
    },
    "string_replace" -> { (s, dir) =>
      FieldOps.StringReplace("text", "\\d+", "N", destKey = Some("text_norm"))(
        transcripts(s, dir).filter(col("text").startsWith("tool=")))
        .select("conv_id", "turn_idx", "text_norm")
    },
    "anchor" -> { (s, dir) =>
      val t = transcripts(s, dir)
        .filter(col("text").rlike("^[^,\"]+,\\d+,\"[^\"]*\",\\d+$"))
      FieldOps.Anchor("text", "item ", "\"", "item_id")(t)
        .select("conv_id", "turn_idx", "item_id")
    },
    "pack_json" -> { (s, dir) =>
      FieldOps.PackJson(Seq("role", "tool"), "packed")(transcripts(s, dir))
        .select("conv_id", "turn_idx", "packed")
    },
    "md5_field" -> { (s, dir) =>
      FieldOps.Md5("text", "text_md5")(transcripts(s, dir))
        .select("conv_id", "turn_idx", "text_md5")
    },

    // -- enrich / joins (SURVEY §2.4, §2.7) ----------------------------------
    "dict_map" -> { (s, dir) =>
      TranscriptPipeline.enrich(transcripts(s, dir))
        .groupBy(col("role"), col("role_class"), col("tool"), col("tool_family"))
        .agg(count(lit(1)).as("n"))
    },
    "range_lookup" -> { (s, dir) =>
      val sp = s
      import sp.implicits._
      val ranges = Seq((0.0, 5.0, "low"), (5.0, 15.0, "mid"),
        (15.0, 1e9, "high")).toDF("lo", "hi", "tier")
      EnrichOps.RangeLookup(ranges, "value")(tbl(s, dir, "events"))
        .groupBy(col("tier")).agg(count(lit(1)).as("n"))
    },

    // -- routing / grouping (SURVEY §2.5) ------------------------------------
    "router_first_match" -> { (s, dir) =>
      TranscriptPipeline.router(transcripts(s, dir))
        .select(col("conv_id"), col("turn_idx"), col("__sink__").as("sink"))
    },
    "router_multicast" -> { (s, dir) =>
      val mc = RouteOps.MulticastRouter(Seq(
        "all_tool" -> (col("role") === "tool"),
        "all_errorish" -> col("text").rlike("ERROR|\"code\":5\\d\\d"),
        "all_user" -> (col("role") === "user")))
      mc.explodeSinks(transcripts(s, dir))
        .groupBy(col("__sink__").as("sink")).agg(count(lit(1)).as("n"))
        .select("sink", "n")
    },
    "shardhash" -> { (s, dir) =>
      val sh = GroupOps.ShardHash(Seq("conv_id"), 16)
      transcripts(s, dir).withColumn("bucket", sh.bucketColumn)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    },
    "content_value_group" -> { (s, dir) =>
      GroupOps.ContentValueGroup(Seq("role", "tool"))(transcripts(s, dir))
        .groupBy(col("__group__").as("grp")).agg(count(lit(1)).as("n"))
        .select("grp", "n")
    },

    // -- aggregates / windows (SURVEY §2.8, §2.10) ---------------------------
    "sink_agg" -> { (s, dir) =>
      val routed = TranscriptPipeline(transcripts(s, dir))
      TranscriptPipeline.aggregates(routed)
        .withColumnRenamed("__sink__", "sink")
    },
    "conv_stats" -> { (s, dir) =>
      AggOps.conversationStats(transcripts(s, dir))
    },
    "multiline_merge" -> { (s, dir) =>
      AggOps.MultilineMerge("^java\\.lang")(transcripts(s, dir))
        .select("conv_id", "segment", "first_turn", "n_lines", "merged_text")
    },
    "multiline_endonly" -> { (s, dir) => // end-only mode: garbage ??..?? terminators
      AggOps.MultilineMerge(endPattern = Some("\\?\\?$"))(transcripts(s, dir))
        .select("conv_id", "segment", "first_turn", "n_lines", "merged_text")
    },
    "multiline_startcont" -> { (s, dir) => // start+continue: stack head + \tat lines
      AggOps.MultilineMerge(startPattern = Some("^java\\.lang"),
        continuePattern = Some("^\\tat "))(transcripts(s, dir))
        .select("conv_id", "segment", "first_turn", "n_lines", "merged_text")
    },

    // -- more processors / aggregates (SURVEY §2.2, §2.4, §2.5, §2.8) --------
    "json_expand" -> { (s, dir) =>
      val t = transcripts(s, dir).filter(col("text").startsWith("{"))
      ParseOps.JsonExpand("text", depth = 2, connector = "_")(t)
        .select(col("conv_id"), col("turn_idx"),
          try_element_at(col("expanded"), lit("level")).as("level"),
          try_element_at(col("expanded"), lit("meta_attempt")).as("attempt"))
    },
    "spl_query" -> { (s, dir) =>
      // the reference's processor_spl executes an SPL script against the
      // event group (ProcessorSPL.cpp:29-90); in this engine that IS
      // Spark SQL over the parsed view
      TranscriptPipeline.parse(transcripts(s, dir))
        .createOrReplaceTempView("parsed_events")
      s.sql("""SELECT status, count(*) AS n FROM parsed_events
               WHERE fmt = 'nginx' GROUP BY status""")
    },
    "split_explode" -> { (s, dir) =>
      val t = transcripts(s, dir)
        .filter(col("text").rlike("^[^,\"]+,\\d+,\"[^\"]*\",\\d+$"))
      ParseOps.SplitExplode("text", ",")(t)
        .select("conv_id", "turn_idx", "part")
    },
    "gotime_reformat" -> { (s, dir) =>
      FieldOps.TimeReformat("ts", "t_fmt", "yyyy/MM/dd HH",
        epochKey = Some("epoch_s"))(transcripts(s, dir))
        .select("conv_id", "turn_idx", "t_fmt", "epoch_s")
    },
    "metric_reshape" -> { (s, dir) =>
      val t = transcripts(s, dir).filter(col("text").rlike("^tool=\\S+ status=\\d+"))
      val parsed = ParseOps.KeyValueParser("text", " ", "=")
        .extract(t, Seq("status", "latency_ms"))
      FieldOps.LogToMetric(Seq("role", "tool"), Seq("status", "latency_ms"))(parsed)
        .select("labels", "name", "value", "metric_ts")
    },
    "drop_last_key" -> { (s, dir) =>
      val t = transcripts(s, dir)
      val parsed = ParseOps.KeyValueParser("text", " ", "=")
        .extract(t.filter(col("text").rlike("^tool=\\S+ status=\\d+")), Seq("status"))
        .drop("kv")
        .unionByName(t.filter(!col("text").rlike("^tool=\\S+ status=\\d+"))
          .withColumn("status", lit(null).cast("string")))
      FieldOps.DropLastKey("text", Seq("status"))(parsed)
        .select("conv_id", "turn_idx", "status", "text")
    },
    "turn_order" -> { (s, dir) =>
      // the per-turn text-equality invariant under stable (conv_id,
      // turn_idx) ordering: xor of per-turn hashes that BIND each text
      // to its turn position -- any turn whose text or position changes
      // flips the conversation fingerprint. Map-side aggregable (no
      // ordered concat), so it scales to 10^12 turns.
      transcripts(s, dir).groupBy(col("conv_id")).agg(
        bit_xor(conv(substring(md5(
          concat_ws(":", col("turn_idx"), col("text")).cast("binary")),
          1, 15), 16, 10).cast("long")).as("turn_chain"),
        count(lit(1)).as("n_turns"))
    },
    "window_counts" -> { (s, dir) =>
      transcripts(s, dir)
        .groupBy(window(col("ts"), "5 minutes"), col("role"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("bucket"), col("role"), col("n"))
    },
    "base64_field" -> { (s, dir) =>
      FieldOps.Base64Encode("text", "text_b64")(transcripts(s, dir))
        .select("conv_id", "turn_idx", "text_b64")
    },
    "appender_sortlabels" -> { (s, dir) =>
      val t = transcripts(s, dir)
        .withColumn("labels",
          concat(col("tool"), lit("#$#t|"), col("role"), lit("#$#r")))
      FieldOps.Appender("labels", "|zz#$#9", sortLabels = true)(t)
        .select("conv_id", "turn_idx", "labels")
    },
    "encrypt_field" -> { (s, dir) => // rows-only: AES not available in DuckDB
      FieldOps.Encrypt("text", keyHex = "00112233445566778899aabbccddeeff",
        ivHex = "000102030405060708090a0b0c0d0e0f")(transcripts(s, dir))
        .select(col("conv_id"), col("turn_idx"), col("text").as("text_enc"))
    },
    "encrypt_roundtrip" -> { (s, dir) =>
      // hash-verifiable encryption evidence: encrypt → decrypt → md5
      // must equal DuckDB's md5 of the plaintext
      val enc = FieldOps.Encrypt("text",
        keyHex = "00112233445566778899aabbccddeeff",
        ivHex = "000102030405060708090a0b0c0d0e0f")(transcripts(s, dir))
      FieldOps.Decrypt("text", keyHex = "00112233445566778899aabbccddeeff",
        destKey = Some("text_rt"))(enc)
        .select(col("conv_id"), col("turn_idx"),
          md5(col("text_rt").cast("binary")).as("rt_md5"))
    },

    // -- container stdout parse (§2.2; k8s CRI + docker json-file) ----------
    "container_cri" -> { (s, dir) =>
      val t = transcripts(s, dir)
      val m5 = pmod(col("turn_idx"), lit(5))
      val raw = t.withColumn("line",
        when(m5 === 4, col("text")) // not CRI-shaped → parse failure
          .otherwise(concat(
            lit("2025-01-01T00:00:"),
            lpad(pmod(col("turn_idx"), lit(60)).cast("string"), 2, "0"),
            lit("Z "),
            when(pmod(col("turn_idx"), lit(2)) === 0, "stdout")
              .otherwise("stderr"),
            lit(" "),
            when(m5 === 0, "P ").when(m5.isin(1, 3), "F ").otherwise(""),
            col("text"))))
      val parsed = ContainerOps.CriParser("line",
        keepingSourceWhenParseFail = false)(raw)
      ContainerOps.mergeByFlag(parsed)
        .select("conv_id", "record", "first_turn", "n_lines",
          "time_first", "source", "content")
    },
    "container_docker" -> { (s, dir) =>
      // kv-format lines carry no JSON-special chars, so the constructed
      // docker json-file line needs no escaping
      val t = transcripts(s, dir).filter(col("text").rlike("^tool="))
      val raw = t.withColumn("line",
        when(pmod(col("turn_idx"), lit(7)) === 3, col("text")) // invalid
          .otherwise(concat(lit("{\"log\":\""), col("text"),
            lit("\\n\",\"stream\":\""),
            when(pmod(col("turn_idx"), lit(2)) === 0, "stdout")
              .otherwise("stderr"),
            lit("\",\"time\":\"2025-01-01T00:00:00Z\"}"))))
      ContainerOps.DockerJsonParser("line",
        keepingSourceWhenParseFail = false)(raw)
        .select(col("conv_id"), col("turn_idx"), col("_time_").as("dtime"),
          col("_source_").as("stream"), col("content"))
    },

    // -- prometheus metric path (§2 metric pipeline) -------------------------
    "prom_parse" -> { (s, dir) =>
      PromOps.TextParser("line", defaultTsSec = 86400L)(
        promFixture(transcripts(s, dir)))
        .select(col("conv_id"), col("turn_idx"), col("name"),
          promLabelsStr(col("labels")).as("labels_str"),
          col("value"), col("ts_sec"), col("ts_ns"))
    },
    "prom_relabel" -> { (s, dir) =>
      val parsed = PromOps.TextParser("line", defaultTsSec = 86400L)(
        promFixture(transcripts(s, dir)))
      val rules = Seq(
        PromOps.RelabelRule("keep", sourceLabels = Seq("__name__"),
          regex = "req_total|up"),
        PromOps.RelabelRule("replace", sourceLabels = Seq("role"),
          targetLabel = "who", regex = "us(e)r", replacement = "u$1"),
        PromOps.RelabelRule("hashmod", sourceLabels = Seq("tool"),
          targetLabel = "shard", modulus = 7L),
        PromOps.RelabelRule("labelmap", regex = "ro(le)", replacement = "xx$1"),
        PromOps.RelabelRule("uppercase", sourceLabels = Seq("role"),
          targetLabel = "role_up"),
        PromOps.RelabelRule("labeldrop", regex = "q|p"))
      PromOps.Relabel(rules)(parsed)
        .select(col("conv_id"), col("turn_idx"), col("name"),
          promLabelsStr(col("labels")).as("labels_str"), col("value"))
    },

    // -- syslog frame parse (§2 service inputs) ------------------------------
    "syslog_3164" -> { (s, dir) =>
      val t = transcripts(s, dir)
      val m3 = pmod(col("turn_idx"), lit(3))
      val pri = pmod(col("turn_idx"), lit(192))
      val raw = t.withColumn("line",
        when(m3 === 0, concat(lit("<"), pri, lit(">Oct  9 14:36:47 h-"),
          col("role"), lit(" "), col("tool"), lit("["), col("turn_idx"),
          lit("]: call "), col("role"), lit(" "), col("turn_idx")))
          .when(m3 === 1, concat(lit("<34>Aug  2 09:49:23 w-"), col("role"),
            lit(" su: done "), col("turn_idx")))
          .otherwise(col("text"))) // transcript text → parse failure
      SyslogOps.Rfc3164(year = 2025)(raw, "line", ignoreParseFailure = true)
        .select("conv_id", "turn_idx", "_hostname_", "_program_",
          "_process_id_", "_priority_", "_facility_", "_severity_", "_ts_",
          "_content_")
    },
    "syslog_5424" -> { (s, dir) =>
      val t = transcripts(s, dir)
      val m2 = pmod(col("turn_idx"), lit(2))
      val pri = pmod(col("turn_idx"), lit(192))
      val raw = t.withColumn("line",
        when(m2 === 0, concat(lit("<"), pri, lit(">1 2016-02-21T04:32:57Z h-"),
          col("role"), lit(" "), col("tool"), lit(" "), col("turn_idx"),
          lit(" ID"), col("turn_idx"), lit(" [meta role=\""), col("role"),
          lit("\" seq=\""), col("turn_idx"), lit("\"] GET /x "),
          col("turn_idx")))
          .otherwise(concat(
            lit("<34>1 2003-10-11T22:14:15.003Z m.example su - ID47 - BOM failed "),
            col("turn_idx"))))
      SyslogOps.Rfc5424()(raw, "line", ignoreParseFailure = true)
        .select("conv_id", "turn_idx", "_hostname_", "_program_",
          "_process_id_", "_message_id_", "_priority_", "_facility_",
          "_severity_", "_ts_", "_structured_data_", "_content_")
    },

    // -- wire-format metric decoders (§2 http service input formats) ---------
    "influx_parse" -> { (s, dir) =>
      val t = transcripts(s, dir)
      val m4 = pmod(col("turn_idx"), lit(4))
      val raw = t.withColumn("line",
        when(m4 === 0, concat(lit("req,host=h-"), col("role"),
          lit(",tool="), col("tool"), lit(" value="), col("turn_idx"),
          lit("i 1434055562000000000")))
          .when(m4 === 1, concat(lit("mem used="), col("turn_idx"),
            lit(".5,peak="), col("turn_idx"), lit("0 1434055562000000001")))
          .when(m4 === 2, concat(lit("evt,svc=s\\ "), col("role"),
            lit(" ok=true,msg=\"call "), col("role"), lit("\"")))
          .otherwise(col("text"))) // transcript text → no influx line
      WireFormats.InfluxLineParser("line", fieldsExtend = true,
        defaultTimeNano = 5L)(raw)
        .select("conv_id", "turn_idx", "__name__", "__value__", "__labels__",
          "__time_nano__", "__type__", "__field__")
    },
    "otlp_logs_parse" -> { (s, dir) =>
      val t = transcripts(s, dir)
      val m2 = pmod(col("turn_idx"), lit(2))
      val raw = t.withColumn("payload",
        when(m2 === 0, concat(
          lit("""{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"svc-"""),
          col("role"),
          lit(""""}}]},"scopeLogs":[{"scope":{"name":"graft"},"logRecords":[{"timeUnixNano":"1663904182348000000","severityNumber":9,"severityText":"INFO","body":{"stringValue":"turn """),
          col("turn_idx"),
          lit(""""},"attributes":[{"key":"tool","value":{"stringValue":""""),
          col("tool"),
          lit(""""}},{"key":"idx","value":{"intValue":""""),
          col("turn_idx"),
          lit(""""}}]},{"timeUnixNano":"1663904182348000001","severityNumber":17,"severityText":"ERROR","body":{"intValue":""""),
          col("turn_idx"),
          lit(""""}}]}]}]}""")))
          .otherwise(col("text"))) // transcript text → not an OTLP payload
      WireFormats.OtlpLogParser("payload")(raw)
        .select("conv_id", "turn_idx", "time_unix_nano", "severity_number",
          "severity_text", "content", "attributes", "resources")
    },
    "otlp_metrics_parse" -> { (s, dir) =>
      val t = transcripts(s, dir)
      val m2 = pmod(col("turn_idx"), lit(2))
      val m3 = pmod(col("turn_idx"), lit(3))
      // one payload exercising all five typed families + an untyped
      // metric + an exemplar (decoder_test.go:210 families)
      val raw = t.withColumn("payload",
        when(m2 === 0, concat(
          lit("""{"resourceMetrics":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"svc-"""),
          col("role"),
          lit(""""}}]},"scopeMetrics":[{"scope":{"name":"graft"},"metrics":["""),
          lit("""{"name":"latency","gauge":{"dataPoints":[{"attributes":[{"key":"tool","value":{"stringValue":""""),
          col("tool"),
          lit(""""}}],"timeUnixNano":"1663904182348000000","asDouble":"""),
          col("turn_idx"), lit(".25"),
          lit(""","exemplars":[{"filteredAttributes":[{"key":"role","value":{"stringValue":""""),
          col("role"),
          lit(""""}}],"timeUnixNano":"1663904182348000000","asDouble":99.3,"traceId":"0102030405060708090a0b0c0d0e0f10","spanId":"1112131415161718"}]}]}},"""),
          lit("""{"name":"hits","sum":{"aggregationTemporality":2,"isMonotonic":true,"dataPoints":[{"attributes":[{"key":"role","value":{"stringValue":""""),
          col("role"),
          lit(""""}}],"timeUnixNano":"1663904182348000000","asInt":""""),
          col("turn_idx"),
          lit(""""}]}},"""),
          lit("""{"name":"size","histogram":{"aggregationTemporality":2,"dataPoints":[{"timeUnixNano":"1663904182348000000","count":"4","sum":345,"min":1,"max":200,"explicitBounds":[10,100],"bucketCounts":["1","""),
          lit("\""), m3, lit("\""),
          lit(""","2"]}]}},"""),
          lit("""{"name":"spread","exponentialHistogram":{"aggregationTemporality":2,"dataPoints":[{"timeUnixNano":"1663904182348000000","count":"6","sum":55.5,"scale":0,"zeroCount":"7","positive":{"offset":1,"bucketCounts":["1","2"]},"negative":{"offset":0,"bucketCounts":["3"]}}]}},"""),
          lit("""{"name":"rt","summary":{"dataPoints":[{"timeUnixNano":"1663904182348000000","count":"10","sum":"""),
          col("turn_idx"),
          lit(""","quantileValues":[{"quantile":0.5,"value":1.5},{"quantile":0.9,"value":2.5}]}]}},"""),
          lit("""{"name":"marker","description":"desc-"""),
          col("tool"),
          lit(""""}]}]}]}""")))
          .otherwise(col("text"))) // transcript text → not an OTLP payload
      OtlpOps.OtlpMetricParser("payload")(raw)
        .select("conv_id", "turn_idx", "__name__", "__labels__",
          "__time_nano__", "__value__")
    },
    "otlp_traces_parse" -> { (s, dir) =>
      val t = transcripts(s, dir)
      val m2 = pmod(col("turn_idx"), lit(2))
      // a full span (ids, kind, events, links, status, attrs) plus a
      // defaults-only child span (tracesOTLPFull shape)
      val raw = t.withColumn("payload",
        when(m2 === 1, concat(
          lit("""{"resourceSpans":[{"resource":{"attributes":[{"key":"host.name","value":{"stringValue":"h-"""),
          col("role"),
          lit(""""}},{"key":"service.name","value":{"stringValue":"svc-"""),
          col("role"),
          lit(""""}},{"key":"region","value":{"stringValue":"r1"}}]},"scopeSpans":[{"scope":{"name":"graft"},"spans":["""),
          lit("""{"traceId":"0102030405060708090a0b0c0d0e0f10","spanId":"1112131415161718","parentSpanId":"1112131415161718","name":"op-"""),
          col("tool"),
          lit("""","kind":2,"startTimeUnixNano":"1663904182348000000","endTimeUnixNano":"1663904182349000000","attributes":[{"key":"role","value":{"stringValue":""""),
          col("role"),
          lit(""""}},{"key":"idx","value":{"intValue":""""),
          col("turn_idx"),
          lit(""""}}],"events":[{"timeUnixNano":"1663904182348500000","name":"ev","attributes":[{"key":"tool","value":{"stringValue":""""),
          col("tool"),
          lit(""""}}]}],"links":[{"traceId":"0102030405060708090a0b0c0d0e0f10","spanId":"1112131415161718"}],"status":{"code":2,"message":"boom"}},"""),
          lit("""{"name":"child-"""),
          col("turn_idx"),
          lit(""""}]}]}]}""")))
          .otherwise(col("text")))
      OtlpOps.OtlpTraceParser("payload")(raw)
        .select(col("conv_id"), col("turn_idx"), col("host"), col("service"),
          col("resource"), col("`otlp.name`"), col("`otlp.version`"),
          col("traceID"), col("spanID"), col("parentSpanID"), col("kind"),
          col("name"), col("links"), col("logs"), col("traceState"),
          col("start"), col("end"), col("duration"), col("attribute"),
          col("statusCode"), col("statusMessage"))
    },
    // binary wire decoders: protobuf payloads cannot be synthesized in
    // SQL from the tables, so both sides derive from the same
    // deterministic integer range — Spark encodes + decodes the real
    // wire bytes (snappy + proto), DuckDB computes the expected rows
    "remote_write_parse" -> { (s, dir) =>
      val _ = dir
      import s.implicits._
      val payloads = (0 until 48).map { i =>
        (i.toLong, org.xerial.snappy.Snappy.compress(
          BinaryDecoders.Encode.writeRequest(Seq(
            (s"rw_metric_${i % 3}",
              Seq("instance" -> s"inst-$i", "job" -> s"job-${i % 5}"),
              Seq((i + 0.5, 1663904182000L + i),
                (i * 2.0, 1663904183000L + i)))))))
      }
      BinaryDecoders.RemoteWriteParser("payload")(
        payloads.toDF("pid", "payload"))
        .select("pid", "__name__", "__labels__", "__time_nano__",
          "__value__")
    },
    "remote_write_roundtrip" -> { (s, dir) =>
      // flusher_prometheus serialization (metric rows → ≤limit-series
      // snappy WriteRequests) then the wire decoder: the round trip
      // reproduces the source rows exactly, independent of how series
      // packed into payloads
      val t = transcripts(s, dir).select(
        concat(lit("turn_metric_"), pmod(col("turn_idx"), lit(3)))
          .as("__name__"),
        concat(lit("conv#$#"), col("conv_id"), lit("|role#$#"), col("role"))
          .as("__labels__"),
        (unix_timestamp(col("ts")) * 1000000000L).as("__time_nano__"),
        concat(col("turn_idx"), lit(".5")).as("__value__"))
      val packed = BinaryDecoders.RemoteWriteWriter(seriesLimit = 100)(t)
      BinaryDecoders.RemoteWriteParser("payload")(packed.select("payload"))
        .select("__name__", "__labels__", "__time_nano__", "__value__")
    },
    "sls_pb_parse" -> { (s, dir) =>
      val _ = dir
      import s.implicits._
      val payloads = (0 until 48).map { i =>
        (i.toLong, BinaryDecoders.Encode.logGroup(
          topic = s"t-${i % 2}", source = s"10.0.0.$i",
          tags = Seq("host" -> s"h$i"),
          logs = Seq(
            (1663904182L + i, Seq("content" -> s"line-$i",
              "level" -> (if (i % 2 == 0) "info" else "warn"))),
            (1663904183L + i, Seq("content" -> s"next-$i")))))
      }
      val mapStr = (m: Column) => array_join(array_sort(
        transform(map_entries(m), e =>
          concat(e.getField("key"), lit("="), e.getField("value")))), ",")
      BinaryDecoders.SlsPbParser("payload")(payloads.toDF("pid", "payload"))
        .select(col("pid"), col("log_time"),
          mapStr(col("contents")).as("contents_str"), col("topic"),
          col("source"), mapStr(col("log_tags")).as("tags_str"))
    },
    "otlp_logs_roundtrip" -> { (s, dir) =>
      // flusher-side OTLP serialization (ConvertToOtlpResourseLogs
      // direction) then the wire decoder: one ResourceLogs payload per
      // conversation; the round trip reproduces the source rows
      val t = transcripts(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          unix_timestamp(col("ts")).as("t_sec"),
          col("text").as("content"), col("role").as("level"), col("tool"))
      val packed = OtlpOps.OtlpLogWriter(timeKey = "t_sec",
        orderKey = "turn_idx", groupKeys = Seq("conv_id"),
        attrKeys = Seq("tool", "turn_idx"),
        tags = Map("source" -> "graft"))(t)
      WireFormats.OtlpLogParser("payload")(packed.select("payload"))
        .select(col("time_unix_nano"), col("severity_text"),
          col("content"), col("attributes"), col("resources"))
    },
    "sls_pb_roundtrip" -> { (s, dir) =>
      // flusher-side LogGroup packing (FlusherSLS's 4000-log/10MB batch
      // caps) then wire decode: the round trip reproduces the source
      // rows exactly, independent of how rows packed into payloads
      // (pack boundaries are partition-dependent, the row set is not)
      val t = transcripts(s, dir)
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          unix_timestamp(col("ts")).as("t_sec"))
      val packed = BinaryDecoders.SlsPbWriter(
        timeKey = "t_sec",
        contentKeys = Seq("conv_id", "turn_idx", "role", "text"),
        topic = "transcripts", source = "graft", maxLogs = 100)(t)
      BinaryDecoders.SlsPbParser("payload")(packed)
        .select(col("log_time"), col("topic"), col("source"),
          col("contents")("conv_id").as("conv_id"),
          col("contents")("turn_idx").try_cast("int").as("turn_idx"),
          col("contents")("role").as("role"),
          col("contents")("text").as("text"))
    },
    "influx_roundtrip" -> { (s, dir) =>
      // flusher-side influx line-protocol serialization
      // (ConvertToInfluxdbProtocolStream) then the wire decoder: value
      // types cycle float/int/bool/string, odd turns use a non-value
      // field (name carries the :field suffix), labels include a
      // space needing escape — the round trip is the identity
      val m4 = pmod(col("turn_idx"), lit(4))
      val m2 = pmod(col("turn_idx"), lit(2))
      val rows = transcripts(s, dir).select(
        when(m2 === 0, concat(lit("turn_"), col("role")))
          .otherwise(concat(lit("turn_"), col("role"), lit(":gauge")))
          .as("__name__"),
        concat(lit("conv#$#"), col("conv_id"), lit("|loc#$#dc "),
          pmod(col("turn_idx"), lit(3)), lit("|role#$#"), col("role"))
          .as("__labels__"),
        when(m4 === 0, concat(col("turn_idx"), lit(".25")))
          .when(m4 === 1, col("turn_idx").cast("string"))
          .when(m4 === 2,
            when(pmod(col("turn_idx"), lit(8)) === 2, "1").otherwise("0"))
          .otherwise(concat(lit("txt "), col("tool"))).as("__value__"),
        when(m4 === 0, "float").when(m4 === 1, "int")
          .when(m4 === 2, "boolean").otherwise("string").as("__type__"),
        when(m2 === 0, "value").otherwise("gauge").as("__field__"),
        (unix_timestamp(col("ts")) * 1000000000L).as("__time_nano__"))
      val lines = FlusherFormats.InfluxLineWriter()(rows)
      WireFormats.InfluxLineParser(sourceKey = "line",
        fieldsExtend = true)(lines.select("line"))
        .select("__name__", "__labels__", "__value__", "__type__",
          "__field__", "__time_nano__")
    },
    "custom_single_encode" -> { (s, dir) =>
      // flusher-side custom_single JSON (ConvertToSingleProtocolLogs):
      // contents/tags/time objects with the reserved-tag pipeline
      val t = transcripts(s, dir).select(
        col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        unix_timestamp(col("ts")).as("t_sec"))
      FlusherFormats.CustomSingleWriter(
        timeKey = "t_sec", contentKeys = Seq("role", "tool"),
        tagCols = Seq("conv_id"),
        source = "10.0.0.1", topic = "transcripts",
        tags = Map("__hostname__" -> "graft-host"))(t)
        .select(col("conv_id"), col("turn_idx"), col("payload"))
    },
    "custom_flatten_encode" -> { (s, dir) =>
      // flusher-side custom_single_flatten / jsonline JSON: one flat
      // sorted-key object per row (the jsonline stream is these
      // payloads newline-joined by the text sink)
      val t = transcripts(s, dir).select(
        col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        unix_timestamp(col("ts")).as("t_sec"))
      FlusherFormats.CustomSingleWriter(
        timeKey = "t_sec", contentKeys = Seq("role", "tool"),
        tagCols = Seq("conv_id"), source = "10.0.0.1",
        flatten = true)(t)
        .select(col("conv_id"), col("turn_idx"), col("payload"))
    },
    "otlp_metrics_roundtrip" -> { (s, dir) =>
      // flusher-side OTLP metrics serialization
      // (ConvertPipelineEventToOtlpMetric direction) then the metric
      // decoder: family cycles gauge/counter/summary per turn; the
      // round trip reproduces the reference's metric-log row set
      val m3 = pmod(col("turn_idx"), lit(3))
      val rows = transcripts(s, dir).select(
        col("conv_id"), col("turn_idx"), col("role"),
        concat(lit("turn_"), col("role")).as("mname"),
        when(m3 === 0, "gauge").when(m3 === 1, "counter")
          .otherwise("summary").as("metric_type"),
        (unix_timestamp(col("ts")) * 1000000000L).as("tn"),
        (col("turn_idx") + lit(0.25)).cast("double").as("value"),
        (col("turn_idx") + lit(0.5)).cast("double").as("m_sum"),
        lit(10L).as("m_count"),
        array(struct(lit(0.5).as("quantile"), lit(1.5).as("value")))
          .as("quantiles"))
      val packed = OtlpOps.OtlpMetricWriter(nameKey = "mname",
        timeKey = "tn", orderKey = "turn_idx", groupKeys = Seq("conv_id"),
        attrKeys = Seq("role"), tags = Map("src" -> "graft"))(rows)
      OtlpOps.OtlpMetricParser("payload")(packed.select("payload"))
        .select("__name__", "__labels__", "__time_nano__", "__value__")
    },
    "otlp_traces_roundtrip" -> { (s, dir) =>
      // flusher-side OTLP traces serialization
      // (ConvertPipelineEventToOtlpSpan direction) then the trace
      // decoder: ids/kind/status/events/links/host+service shortcuts
      // and scope all survive the round trip
      val m3 = pmod(col("turn_idx"), lit(3))
      val tn = unix_timestamp(col("ts")) * 1000000000L
      val rows = transcripts(s, dir).select(
        col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        concat(lit("op_"), col("tool")).as("sname"),
        md5(concat_ws(":", col("conv_id"), col("turn_idx")))
          .as("trace_id"),
        substring(md5(concat_ws("#", col("conv_id"), col("turn_idx"))),
          1, 16).as("span_id"),
        (pmod(col("turn_idx"), lit(5)) + 1).cast("int").as("kind"),
        tn.as("start_nano"),
        (tn + col("turn_idx") * 1000L + 2000L).as("end_nano"),
        m3.cast("int").as("status_code"),
        when(m3 === 2, "boom").otherwise("").as("status_message"),
        // resource-level shortcuts must be group-constant (they are
        // read off the group's first row), so derive from the group key
        concat(lit("h-"), col("conv_id")).as("host"),
        concat(lit("svc-"), col("conv_id")).as("service"),
        array(struct(lit("ev").as("name"), (tn + 500000L).as("time")))
          .as("events"),
        array(struct(md5(col("conv_id")).as("traceId"),
          lit("1112131415161718").as("spanId"))).as("links"))
      val packed = OtlpOps.OtlpTraceWriter(nameKey = "sname",
        orderKey = "turn_idx", groupKeys = Seq("conv_id"),
        scopeName = "graft", scopeVersion = "v1",
        attrKeys = Seq("role"), tags = Map("env" -> "prod"))(rows)
      OtlpOps.OtlpTraceParser("payload")(packed.select("conv_id", "payload"))
        .select(col("conv_id"), col("host"), col("service"),
          col("resource"), col("`otlp.name`"), col("`otlp.version`"),
          col("traceID"), col("spanID"), col("parentSpanID"), col("kind"),
          col("name"), col("links"), col("logs"), col("traceState"),
          col("start"), col("end"), col("duration"), col("attribute"),
          col("statusCode"), col("statusMessage"))
    },
    "pyroscope_groups_parse" -> { (s, dir) =>
      // pyroscope push ingest, groups (collapsed-stack) wire format:
      // 3 profile lines per request (multi-frame with a spaced frame,
      // 2-frame, single-frame) + a skipped no-space line; spy language
      // alternates PosFirst/FunctionFirst layouts, units cycle through
      // the cpu/mem/mutex families (decoder.go + raw/profile.go)
      val t = transcripts(s, dir)
      val m2 = pmod(col("turn_idx"), lit(2))
      val m3 = pmod(col("turn_idx"), lit(3))
      val req = t.select(
        col("conv_id"), col("turn_idx"),
        concat(
          lit("main;fetch x db.go;handle_"), col("tool"), lit(" "),
          col("turn_idx"), lit("\n"),
          lit("zoo;boo "), col("turn_idx") * 2, lit("\n"),
          lit("solo_"), col("role"), lit(" 3\n"),
          lit("noise")).as("body"),
        concat(lit("app-"), col("role"), lit(".cpu{profile_id=p"),
          col("turn_idx"), lit(",svc="), col("tool"), lit("}")).as("name"),
        lit("1673495500").as("from"), lit("1673495510").as("until"),
        lit("100").as("sampleRate"),
        when(m2 === 0, "ebpfspy").otherwise("pyroscope-rbspy")
          .as("spyName"),
        when(m3 === 0, "samples").when(m3 === 1, "bytes")
          .otherwise("lock_nanoseconds").as("units"),
        lit("").as("aggregationType")) // empty → default "sum"
      PyroscopeOps.GroupsParser(tags = Map("cluster" -> "sls-mall"))(req)
        .select("conv_id", "turn_idx", "name", "stack", "language",
          "type", "units", "valueTypes", "aggTypes", "dataType",
          "durationNs", "profileID", "labels", "val")
    },
    "pprof_parse" -> { (s, dir) =>
      // pyroscope pprof body decode: gzipped profile.proto payloads
      // built driver-side from a deterministic integer range (the
      // remote_write_parse fixture pattern — protobuf bytes cannot be
      // synthesized in SQL); covers sample-type filtering (cpu not in
      // the mapping, alloc_space cumulative), samples→ns scaling,
      // same-stack summing, inline lines, sample labels, spy layouts
      val _ = dir
      import s.implicits._
      import PprofOps.Encode.{Fn, Loc, Smpl}
      val payloads = (0 until 48).map { i =>
        (i.toLong,
          PprofOps.Encode.profile(
            sampleTypes = Seq(("samples", "count"), ("cpu", "nanoseconds"),
              ("inuse_space", "bytes"), ("alloc_space", "bytes")),
            samples = Seq(
              Smpl(Seq(1, 2), Seq(i + 1, 999, 50, 7)),
              Smpl(Seq(1, 2), Seq(5, 999, 0, 7)),
              Smpl(Seq(3), Seq(7, 0, i + 2, 0),
                labels = Seq("span" -> s"sp-${i % 3}"))),
            locations = Seq(Loc(1, Seq(10)), Loc(2, Seq(11)),
              Loc(3, Seq(12, 11))),
            functions = Seq(Fn(10, s"alpha_${i % 4}", "alpha.go"),
              Fn(11, "beta", "beta.go"), Fn(12, "gamma", "gamma.go")),
            timeNanos = (1673495500L + i) * 1000000000L,
            durationNanos = 10000000000L,
            periodType = Some(("cpu", "nanoseconds")), period = 10000000L),
          s"app-${i % 3}.cpu{profile_id=p$i,svc=s${i % 5}}",
          if (i % 2 == 0) "gospy" else "pyroscope-rbspy",
          "100")
      }
      PprofOps.PprofParser(tags = Map("cluster" -> "sls-mall"))(
        payloads.toDF("pid", "payload", "name", "spyName", "sampleRate"))
        .select("pid", "name", "stack", "language", "type", "units",
          "valueTypes", "aggTypes", "dataType", "durationNs", "profileID",
          "labels", "val")
    },
    "statsd_parse" -> { (s, dir) =>
      val t = transcripts(s, dir)
      val m3 = pmod(col("turn_idx"), lit(3))
      val raw = t.withColumn("line",
        when(m3 === 0, concat(lit("lat."), col("tool"), lit(":"),
          col("turn_idx"), lit(".5|ms|@0.5|#role:"), col("role"),
          lit(",svc:api")))
          .when(m3 === 1, concat(lit("hits:"), col("turn_idx"), lit("|c")))
          .otherwise(col("text")))
      WireFormats.StatsdParser("line")(raw)
        .select("conv_id", "turn_idx", "__name__", "__value__", "__stype__",
          "__rate__", "__labels__", "__time_nano__")
    },

    // -- training-data ops (prompt: dedup / text analysis / similarity) ------
    "dedup_exact" -> { (s, dir) =>
      tbl(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("text_md5"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
    },
    "token_count" -> { (s, dir) =>
      tbl(s, dir, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("int").as("n_tokens"),
        length(col("text")).cast("int").as("n_chars_computed"))
    },
    "quality_score" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      tbl(s, dir, "documents").select(
        col("doc_id"),
        round(size(array_distinct(toks)).cast("double") / size(toks), 4)
          .as("distinct_ratio"))
    },
    "lang_id" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      val stopHits = size(filter(toks, x => x.isin("the", "a")))
      tbl(s, dir, "documents").select(
        col("doc_id"),
        when(stopHits.cast("double") / size(toks) > 0.05, "en")
          .otherwise("unk").as("lang_guess"))
    },
    "fingerprint" -> { (s, dir) =>
      tbl(s, dir, "documents").select(
        col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary"))
          .as("fp"))
    },
    "ann_topk" -> { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      SimilarityOps.bruteForceTopK(
        e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), k = 10)
    },

    // -- deterministic sampling / mixing (training-data curation) ------------
    "stratified_sample" -> { (s, dir) =>
      val d = tbl(s, dir, "documents")
        .withColumn("stratum",
          when(length(col("text")) < 400, "short").otherwise("long"))
      SampleOps.StratifiedSample("stratum", "doc_id",
        Map("short" -> 0.25, "long" -> 0.75))(d)
        .select("doc_id", "stratum")
    },
    "weighted_repeat" -> { (s, dir) =>
      val d = tbl(s, dir, "documents")
      SampleOps.WeightedRepeat("doc_id",
        when(length(col("text")) < 400, lit(2.5)).otherwise(lit(0.5)))(d)
        .select(col("doc_id"), col("__rep__"))
    },

    // -- dedup sketches (prompt: MinHash+LSH / SimHash / Jaccard) ------------
    "dedup_minhash" -> { (s, dir) =>
      DedupOps.MinHashLSH(numHashes = 16, bands = 4, shingleSize = 3,
        threshold = 0.5).pairs(tbl(s, dir, "documents"))
    },
    "dedup_simhash" -> { (s, dir) =>
      DedupOps.SimHash(bits = 32)(tbl(s, dir, "documents"))
    },
    "simhash_pairs" -> { (s, dir) =>
      DedupOps.SimHash(bits = 32).pairs(tbl(s, dir, "documents"), maxDist = 3)
    },
    "dedup_jaccard" -> { (s, dir) =>
      DedupOps.NgramJaccard(shingleSize = 3, threshold = 0.2)
        .pairs(tbl(s, dir, "documents"))
    },
    "decontaminate" -> { (s, dir) =>
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
    "paragraph_dedup" -> { (s, dir) =>
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
    "corpus_ngrams" -> { (s, dir) =>
      TextOps.topNgrams(tbl(s, dir, "documents"), n = 3, k = 100)
    },
    "curation_survivors" -> { (s, dir) =>
      // the full curation chain: gate → exact dedup → LSH near-dup →
      // cluster resolution → survivor set (graft.run.CurationPipeline)
      graft.run.CurationPipeline.survivors(tbl(s, dir, "documents"))._1
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("text_md5"))
    },
    "embed_neardup" -> { (s, dir) => // exact O(n²) VERIFICATION tier (opt-in)
      SimilarityOps.EmbedNearDup(threshold = 0.35, exact = true)
        .pairs(tbl(s, dir, "embeddings"))
    },
    "embed_neardup_lsh" -> { (s, dir) =>
      SimilarityOps.EmbedNearDup(threshold = 0.35, exact = false,
        lsh = SimilarityOps.SignLsh(planes = 8, dims = 64))
        .pairs(tbl(s, dir, "embeddings"))
    },
    "ann_lsh" -> { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      SimilarityOps.SignLsh(planes = 8, dims = 64)
        .topK(e, e.filter(col("vec_id") === 0), k = 10)
    },
    "ann_lsh_indexed" -> { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      val lsh = SimilarityOps.SignLsh(planes = 8, dims = 64)
      // build-once index cache keyed on the sf dir: repeated invocations
      // (the bench runs this several times) measure the partition-pruned
      // LOOKUP, not index construction, and nothing leaks per call
      val idxRoot = new java.io.File(
        "/tmp/graft_lsh_index_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      val io = graft.sink.TableIO(idxRoot.toString)
      // cache on a marker written AFTER the build (dynamic partition
      // overwrite suppresses _SUCCESS): a crashed mid-write index is
      // rebuilt, never served
      val done = new java.io.File(idxRoot, "lsh_index.done")
      if (!done.exists()) {
        lsh.writeIndex(e, io, "lsh_index")
        done.createNewFile()
      }
      lsh.topKIndexed(s, io, "lsh_index", e.filter(col("vec_id") === 0),
        k = 10)
    },
    "ann_ivf" -> { (s, dir) =>
      val e = tbl(s, dir, "embeddings")
      SimilarityOps.IvfIndex(nlist = 16, nprobe = 4)
        .topK(e, e.filter(col("vec_id") === 0), k = 10)
    },
    "ann_lsh_banded" -> { (s, dir) =>
      // the PRODUCTION hyperplane serving path: banded multi-table
      // sign-LSH (16 tables × 8 planes, Hamming-1 probes per table)
      // over a materialized partitionBy(t, bucket) index — measured
      // recall@10 ≈ 0.85 where the single-table tier reads ≈ 0.1
      val e = tbl(s, dir, "embeddings")
      val lsh = SimilarityOps.BandedSignLsh(tables = 16, planes = 8,
        dims = 64)
      val idxRoot = new java.io.File(
        "/tmp/graft_blsh_index_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      val io = graft.sink.TableIO(idxRoot.toString)
      // cache on a marker written AFTER the build (dynamic partition
      // overwrite suppresses _SUCCESS): a crashed mid-write index is
      // rebuilt, never served
      val done = new java.io.File(idxRoot, "blsh_index.done")
      if (!done.exists()) {
        lsh.writeIndex(e, io, "blsh_index")
        done.createNewFile()
      }
      lsh.topKIndexed(s, io, "blsh_index", e.filter(col("vec_id") === 0),
        k = 10)
    },
    "ann_recall" -> { (s, dir) =>
      // index-quality harness: per-query recall@10 of the IVF and
      // banded sign-LSH production paths vs the exact cosine top-10,
      // over the first 20 query vectors (rounded-cos ranking, id
      // tiebreak)
      SimilarityOps.annRecall(tbl(s, dir, "embeddings"), nQueries = 20,
        k = 10, SimilarityOps.IvfIndex(nlist = 16, nprobe = 4),
        SimilarityOps.BandedSignLsh(tables = 16, planes = 8, dims = 64))
    },
    "neardup_recall" -> { (s, dir) =>
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
    "semdedup" -> { (s, dir) =>
      // cluster-then-threshold semantic dedup: survivors with their cell
      SimilarityOps.SemDeDup(nlist = 16, threshold = 0.35)
        .survivors(tbl(s, dir, "embeddings"))
        .select(col("vec_id"), col("cell"))
    },

    // -- text analysis (prompt: tokens / quality / lang-id / fingerprint) ----
    "token_bpe" -> { (s, dir) =>
      TextOps.tokenCounts(tbl(s, dir, "documents"))
    },
    "quality_features" -> { (s, dir) =>
      TextOps.qualityFeatures(tbl(s, dir, "documents"))
    },
    "repetition_stats" -> { (s, dir) =>
      TextOps.repetitionStats(tbl(s, dir, "documents"))
    },
    "lang_id_argmax" -> { (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_guess"))
    },
    "fingerprint_bottomk" -> { (s, dir) =>
      TextOps.BottomKFingerprint(gram = 8, sketchSize = 8)(
        tbl(s, dir, "documents"))
        .select(col("doc_id"), array_join(col("fp"), ",").as("fp"))
    },

    // -- multimodal plumbing (prompt: binary cols + batched decode) ----------
    "multimodal_decode" -> { (s, dir) =>
      val withBin = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      MultimodalOps.decode(withBin, "payload").select(
        col("doc_id"), col("width"), col("height"), col("channels"),
        round(element_at(col("features"), 1), 6).as("f0"),
        round(element_at(col("features"), 2), 6).as("f1"),
        round(element_at(col("features"), 3), 6).as("f2"))
    },
    "frame_sample" -> { (s, dir) =>
      val vids = tbl(s, dir, "documents")
        .select(col("doc_id"),
          (pmod(col("n_chars"), lit(30)) + 1).cast("int").as("n_frames"))
      MultimodalOps.sampleFrames(vids, "n_frames", stride = 3)
        .select("doc_id", "frame_idx")
    }
  )

  /** Bench-only entries — NOT part of the driver's oracle contract.
    * The production fast-hash (xxhash) tiers of the sketch operators:
    * every `queries` sketch pins the portable-md5 tier (cross-engine
    * verifiable), which pays an md5-per-shingle cost the 100 TB path
    * does not; these measure the tier a real deployment runs.
    * Correctness of the fast tier is pinned by an internal A/B spec
    * (same pair sets as the md5 tier on a dup/distinct corpus —
    * DatasetOpsSpec "fast hash tier"). */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_fast" -> ((s, dir) =>
      DedupOps.MinHashLSH(numHashes = 16, bands = 4, shingleSize = 3,
        threshold = 0.5, portable = false).pairs(tbl(s, dir, "documents"))),
    "dedup_simhash_fast" -> ((s, dir) =>
      DedupOps.SimHash(bits = 32, portable = false)(tbl(s, dir, "documents"))),
    "simhash_pairs_fast" -> ((s, dir) =>
      DedupOps.SimHash(bits = 32, portable = false)
        .pairs(tbl(s, dir, "documents"), maxDist = 3)),
    "dedup_jaccard_capped" -> ((s, dir) => // hot-shingle cap variant
      DedupOps.NgramJaccard(shingleSize = 3, threshold = 0.2,
        maxShingleFreq = 100).pairs(tbl(s, dir, "documents"))))

  def oracleSql: Map[String, String] = {
    import TranscriptView.withCte
    val nginxRx = """^(\S+) - (\S+) \[([^\]]+)\] "(\w+) (\S+) ([^"]+)" ([0-9]+) ([0-9]+) "([^"]*)" "([^"]*)"$"""
    val csvRx = """^([^,"]+),([0-9]+),"([^"]*)",([0-9]+)$"""
    Map(
      "q1_agg" ->
        "SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n FROM lineitem GROUP BY 1",

      "regex_parse" -> withCte(
        s"""SELECT conv_id, turn_idx,
           regexp_extract(text, '$nginxRx', 1) AS ip,
           regexp_extract(text, '$nginxRx', 4) AS method,
           regexp_extract(text, '$nginxRx', 5) AS path,
           regexp_extract(text, '$nginxRx', 7) AS status,
           regexp_extract(text, '$nginxRx', 8) AS bytes
           FROM transcripts WHERE regexp_matches(text, '$nginxRx')"""),

      "json_parse" -> withCte(
        """SELECT conv_id, turn_idx,
           json_extract_string(text, '$.level') AS level,
           json_extract_string(text, '$.code') AS code,
           json_extract_string(text, '$.msg') AS msg
           FROM transcripts WHERE text LIKE '{%'"""),

      "kv_parse" -> withCte(
        """SELECT conv_id, turn_idx,
           regexp_extract(text, 'status=([0-9]+)', 1) AS status,
           regexp_extract(text, 'latency_ms=([0-9]+)', 1) AS latency_ms
           FROM transcripts WHERE regexp_matches(text, '^tool=\S+ status=[0-9]+')"""),

      "delimiter_parse" -> withCte(
        s"""SELECT conv_id, turn_idx,
           regexp_extract(text, '$csvRx', 1) AS c_type,
           regexp_extract(text, '$csvRx', 2) AS c_status,
           regexp_extract(text, '$csvRx', 3) AS c_item,
           regexp_extract(text, '$csvRx', 4) AS c_bytes
           FROM transcripts WHERE regexp_matches(text, '$csvRx')"""),

      "grok_parse" -> withCte(
        s"""SELECT conv_id, turn_idx,
           regexp_extract(text, '$nginxRx', 1) AS client,
           regexp_extract(text, '$nginxRx', 4) AS verb,
           regexp_extract(text, '$nginxRx', 5) AS request,
           regexp_extract(text, '$nginxRx', 7) AS response,
           regexp_extract(text, '$nginxRx', 8) AS sent_bytes
           FROM transcripts WHERE regexp_matches(text, '$nginxRx')"""),

      "timestamp_parse" -> withCte(
        """SELECT conv_id, turn_idx, date_trunc('second', ts) AS ts_parsed
           FROM transcripts"""),

      "apsara_parse" -> withCte(
        """SELECT conv_id, turn_idx,
           regexp_extract(text, '^\[([^\]]+)\]', 1) AS time,
           regexp_extract(text, '^\[[^\]]+\]\t\[(\w+)\]', 1) AS level,
           regexp_extract(text, '^\[[^\]]+\]\t\[\w+\]\t\[([0-9]+)\]', 1) AS thread,
           regexp_extract(text, '\t\[([^:\]]+):[0-9]+\]', 1) AS file,
           regexp_extract(text, '\t\[[^:\]]+:([0-9]+)\]', 1) AS line,
           cast(epoch_us(strptime(regexp_extract(text, '^\[([^\]]+)\]', 1),
             '%Y-%m-%d %H:%M:%S.%f')) AS STRING) AS microtime,
           regexp_extract(text, 'shard:([0-9]+)', 1) AS shard
           FROM transcripts
           WHERE regexp_matches(text, '^\[[^\]]+\]\t\[\w+\]\t\[[0-9]+\]\t\[[^:\]]+:[0-9]+\]')"""),

      "multiline_merge" -> withCte(
        """, flagged AS (
             SELECT conv_id, turn_idx, text,
               CASE WHEN regexp_matches(text, '^java\.lang') THEN 1 ELSE 0 END AS s
             FROM transcripts),
           seg AS (
             SELECT *, sum(s) OVER (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg0
             FROM flagged)
           SELECT conv_id,
             CASE WHEN seg0 = 0 THEN -cast(turn_idx AS BIGINT) - 1
                  ELSE cast(seg0 AS BIGINT) END AS segment,
             min(turn_idx) AS first_turn, count(*) AS n_lines,
             string_agg(text, chr(10) ORDER BY turn_idx) AS merged_text
           FROM seg GROUP BY 1, 2"""),

      "multiline_endonly" -> withCte(
        """, flagged AS (
             SELECT conv_id, turn_idx, text,
               CASE WHEN regexp_matches(text, '\?\?$') THEN 1 ELSE 0 END AS e
             FROM transcripts),
           seg AS (
             SELECT *, coalesce(sum(e) OVER (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lagseg,
               sum(e) OVER (PARTITION BY conv_id) AS tot
             FROM flagged)
           SELECT conv_id,
             CASE WHEN lagseg = tot THEN -cast(turn_idx AS BIGINT) - 1
                  ELSE cast(lagseg AS BIGINT) + 1 END AS segment,
             min(turn_idx) AS first_turn, count(*) AS n_lines,
             string_agg(text, chr(10) ORDER BY turn_idx) AS merged_text
           FROM seg GROUP BY 1, 2"""),

      "multiline_startcont" -> withCte(
        """, flagged AS (
             SELECT conv_id, turn_idx, text,
               CASE WHEN regexp_matches(text, '^java\.lang') THEN 1 ELSE 0 END AS s,
               CASE WHEN regexp_matches(text, '^\tat ') THEN 1 ELSE 0 END AS c
             FROM transcripts),
           runs AS (
             SELECT *, sum(s) OVER (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn
             FROM flagged),
           badx AS (
             SELECT *, sum(CASE WHEN s = 1 OR c = 1 THEN 0 ELSE 1 END)
               OVER (PARTITION BY conv_id, rn ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bad
             FROM runs)
           SELECT conv_id,
             CASE WHEN rn = 0 OR bad > 0 THEN -cast(turn_idx AS BIGINT) - 1
                  ELSE cast(rn AS BIGINT) END AS segment,
             min(turn_idx) AS first_turn, count(*) AS n_lines,
             string_agg(text, chr(10) ORDER BY turn_idx) AS merged_text
           FROM badx GROUP BY 1, 2"""),

      "filter_include" -> withCte(
        """SELECT role, count(*) AS n FROM transcripts
           WHERE regexp_matches(role, '^(?:user|assistant)$')
             AND NOT regexp_matches(text, '^(?:\?\?.*)$')
           GROUP BY role"""),

      "filter_expression" -> withCte(
        """SELECT conv_id, turn_idx, role, tool FROM transcripts
           WHERE (regexp_matches(role, '^(?:tool)$') AND regexp_matches(tool, '^(?:search|bash)$'))
              OR NOT coalesce(regexp_matches(role, '^(?:user|assistant|system|tool)$'), false)"""),

      "fields_with_condition" -> withCte(
        """SELECT role, tool,
           CASE WHEN role = 'assistant' THEN 'model'
                WHEN role LIKE 't%' AND regexp_matches(tool, '^(?:search|browser)$') THEN 'retriever'
                WHEN contains(role, 's') THEN 'sys' END AS speaker_kind,
           count(*) AS n
           FROM transcripts GROUP BY 1, 2, 3"""),

      "filter_key_regex" -> withCte(
        """, keyed AS (
             SELECT conv_id, turn_idx, text,
               list_transform(str_split(text, ' '),
                 x -> CASE WHEN instr(x, '=') > 0
                           THEN x[1:instr(x, '=')-1] ELSE x END) AS ks
             FROM transcripts)
           SELECT conv_id, turn_idx, text FROM keyed
           WHERE len(list_filter(ks, k -> regexp_matches(k, '^latency_'))) > 0
             AND len(list_filter(ks, k -> regexp_matches(k, '^tool$'))) > 0
             AND len(list_filter(ks, k -> regexp_matches(k, '^debug'))) = 0"""),

      "rate_limit" -> withCte(
        """SELECT role, count(*) AS n_kept FROM (
             SELECT role, row_number() OVER (
               PARTITION BY date_trunc('hour', ts), role
               ORDER BY ts, conv_id, turn_idx) AS rn
             FROM transcripts) WHERE rn <= 1 GROUP BY role"""),

      "field_ops" -> withCte(
        """SELECT conv_id, turn_idx, role AS speaker, 'p1' AS pipeline
           FROM transcripts"""),

      "desensitize" -> withCte(
        """SELECT conv_id, turn_idx,
           regexp_replace(text, '(latency_ms=)[0-9]+', '\1********', 'g') AS text
           FROM transcripts WHERE text LIKE 'tool=%'"""),

      "string_replace" -> withCte(
        """SELECT conv_id, turn_idx,
           regexp_replace(text, '[0-9]+', 'N', 'g') AS text_norm
           FROM transcripts WHERE text LIKE 'tool=%'"""),

      "anchor" -> withCte(
        s"""SELECT conv_id, turn_idx,
           regexp_extract(text, 'item ([^"]*)"', 1) AS item_id
           FROM transcripts WHERE regexp_matches(text, '$csvRx')"""),

      "pack_json" -> withCte(
        """SELECT conv_id, turn_idx,
           printf('{"role":"%s","tool":"%s"}', role, tool) AS packed
           FROM transcripts"""),

      "md5_field" -> withCte(
        """SELECT conv_id, turn_idx, md5(text) AS text_md5 FROM transcripts"""),

      "dict_map" -> withCte(
        """SELECT role,
           CASE role WHEN 'user' THEN 'human' WHEN 'assistant' THEN 'model'
             WHEN 'system' THEN 'control' ELSE 'other' END AS role_class,
           tool,
           CASE tool WHEN 'search' THEN 'retrieval' WHEN 'browser' THEN 'retrieval'
             WHEN 'bash' THEN 'exec' WHEN 'python' THEN 'exec' WHEN 'sql' THEN 'exec'
             WHEN 'editor' THEN 'authoring' WHEN 'none' THEN 'n/a'
             ELSE 'misc' END AS tool_family,
           count(*) AS n
           FROM transcripts GROUP BY 1, 2, 3, 4"""),

      "range_lookup" ->
        """SELECT CASE WHEN value >= 0 AND value < 5 THEN 'low'
             WHEN value >= 5 AND value < 15 THEN 'mid'
             WHEN value >= 15 AND value < 1000000000 THEN 'high' END AS tier,
           count(*) AS n FROM events GROUP BY 1""",

      "router_first_match" -> withCte(
        """SELECT conv_id, turn_idx,
           CASE WHEN regexp_matches(role, '^(?:assistant)$') THEN 'sink_llm'
                WHEN regexp_matches(role, '^(?:tool|system)$') THEN 'sink_infra'
                WHEN regexp_matches(role, '^(?:t.*)$') THEN 'sink_never'
                ELSE 'sink_user' END AS sink
           FROM transcripts"""),

      "router_multicast" -> withCte(
        """SELECT sink, count(*) AS n FROM (
             SELECT unnest(list_filter([
               CASE WHEN role = 'tool' THEN 'all_tool' END,
               CASE WHEN regexp_matches(text, 'ERROR|"code":5[0-9][0-9]') THEN 'all_errorish' END,
               CASE WHEN role = 'user' THEN 'all_user' END], x -> x IS NOT NULL)) AS sink
             FROM transcripts) GROUP BY sink"""),

      "shardhash" -> withCte(
        """SELECT cast(cast(concat('0x', substr(md5(conv_id), 1, 8)) AS BIGINT) // 268435456 AS INT) AS bucket,
           count(*) AS n FROM transcripts GROUP BY 1"""),

      "content_value_group" -> withCte(
        """SELECT concat(coalesce(role, ''), '|', coalesce(tool, '')) AS grp,
           count(*) AS n FROM transcripts GROUP BY 1"""),

      "sink_agg" -> withCte(
        """SELECT CASE WHEN regexp_matches(role, '^(?:assistant)$') THEN 'sink_llm'
                WHEN regexp_matches(role, '^(?:tool|system)$') THEN 'sink_infra'
                ELSE 'sink_user' END AS sink,
           tool, date_trunc('hour', ts) AS bucket,
           count(*) AS n_events, count(DISTINCT conv_id) AS n_convs
           FROM transcripts GROUP BY 1, 2, 3"""),

      "conv_stats" -> withCte(
        """SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS max_turn,
           cast(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT) AS role_repeats,
           min(ts) AS started_at, max(ts) AS ended_at
           FROM (SELECT *, lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
                 FROM transcripts)
           GROUP BY conv_id"""),

      "json_expand" -> withCte(
        """SELECT conv_id, turn_idx,
           json_extract_string(text, '$.level') AS level,
           json_extract_string(text, '$.meta.attempt') AS attempt
           FROM transcripts WHERE text LIKE '{%'"""),

      "spl_query" -> withCte(
        s"""SELECT regexp_extract(text, '$nginxRx', 7) AS status, count(*) AS n
           FROM transcripts WHERE regexp_matches(text, '$nginxRx') GROUP BY 1"""),

      "split_explode" -> withCte(
        s"""SELECT conv_id, turn_idx, unnest(str_split(text, ',')) AS part
           FROM transcripts WHERE regexp_matches(text, '$csvRx')"""),

      "gotime_reformat" -> withCte(
        """SELECT conv_id, turn_idx, strftime(ts, '%Y/%m/%d %H') AS t_fmt,
           cast(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM transcripts"""),

      "metric_reshape" -> withCte(
        """, kv AS (
             SELECT *, regexp_extract(text, 'status=([0-9]+)', 1) AS status,
               regexp_extract(text, 'latency_ms=([0-9]+)', 1) AS latency_ms
             FROM transcripts WHERE regexp_matches(text, '^tool=\S+ status=[0-9]+')),
           lab AS (
             SELECT *, array_to_string(list_sort(
               ['role#$#' || role, 'tool#$#' || tool]), '|') AS labels FROM kv)
           SELECT labels, 'status' AS name, status AS value, ts AS metric_ts FROM lab
           UNION ALL
           SELECT labels, 'latency_ms' AS name, latency_ms AS value, ts AS metric_ts FROM lab"""),

      "drop_last_key" -> withCte(
        """SELECT conv_id, turn_idx,
           CASE WHEN regexp_matches(text, '^tool=\S+ status=[0-9]+')
                THEN regexp_extract(text, 'status=([0-9]+)', 1) END AS status,
           CASE WHEN regexp_matches(text, '^tool=\S+ status=[0-9]+')
                THEN NULL ELSE text END AS text
           FROM transcripts"""),

      "turn_order" -> withCte(
        """SELECT conv_id,
           bit_xor(cast(('0x' || substr(md5(turn_idx || ':' || text), 1, 15)) AS BIGINT)) AS turn_chain,
           count(*) AS n_turns FROM transcripts GROUP BY conv_id"""),

      "window_counts" -> withCte(
        """SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket, role,
           count(*) AS n FROM transcripts GROUP BY 1, 2"""),

      "base64_field" -> withCte(
        """SELECT conv_id, turn_idx, base64(cast(text AS BLOB)) AS text_b64
           FROM transcripts"""),

      "appender_sortlabels" -> withCte(
        """SELECT conv_id, turn_idx,
           array_to_string(list_sort(str_split(
             tool || '#$#t|' || role || '#$#r' || '|zz#$#9', '|')), '|') AS labels
           FROM transcripts"""),

      "encrypt_roundtrip" -> withCte(
        """SELECT conv_id, turn_idx, md5(text) AS rt_md5 FROM transcripts"""),

      "container_cri" -> withCte(
        """, raw AS (
             SELECT conv_id, turn_idx,
               CASE WHEN mod(turn_idx, 5) = 4 THEN text
                    ELSE concat('2025-01-01T00:00:',
                      lpad(cast(mod(turn_idx, 60) AS VARCHAR), 2, '0'), 'Z ',
                      CASE WHEN mod(turn_idx, 2) = 0 THEN 'stdout' ELSE 'stderr' END, ' ',
                      CASE WHEN mod(turn_idx, 5) = 0 THEN 'P '
                           WHEN mod(turn_idx, 5) IN (1, 3) THEN 'F '
                           ELSE '' END,
                      text) END AS line
             FROM transcripts),
           flagged AS (
             SELECT conv_id, turn_idx,
               regexp_extract(line, '^([^ ]*) (stdout|stderr) (?:([PF]) )?(.*)$', 1) AS t,
               regexp_extract(line, '^([^ ]*) (stdout|stderr) (?:([PF]) )?(.*)$', 2) AS src,
               regexp_extract(line, '^([^ ]*) (stdout|stderr) (?:([PF]) )?(.*)$', 3) = 'P' AS partial,
               regexp_extract(line, '^([^ ]*) (stdout|stderr) (?:([PF]) )?(.*)$', 4) AS body
             FROM raw WHERE regexp_matches(line, '^([^ ]*) (stdout|stderr) (?:([PF]) )?(.*)$')),
           rec AS (
             SELECT *, cast(coalesce(sum(CASE WHEN partial THEN 0 ELSE 1 END)
               OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS record
             FROM flagged)
           SELECT conv_id, record, min(turn_idx) AS first_turn,
             count(*) AS n_lines,
             min_by(t, turn_idx) AS time_first,
             min_by(src, turn_idx) AS source,
             string_agg(body, '' ORDER BY turn_idx) AS content
           FROM rec GROUP BY 1, 2"""),

      "container_docker" -> withCte(
        """, kv AS (
             SELECT conv_id, turn_idx, text FROM transcripts
             WHERE regexp_matches(text, '^tool=')),
           raw AS (
             SELECT conv_id, turn_idx,
               concat('{"log":"', text, '\n","stream":"',
                 CASE WHEN mod(turn_idx, 2) = 0 THEN 'stdout' ELSE 'stderr' END,
                 '","time":"2025-01-01T00:00:00Z"}') AS line
             FROM kv WHERE mod(turn_idx, 7) <> 3)
           SELECT conv_id, turn_idx,
             json_extract_string(line, '$.time') AS dtime,
             json_extract_string(line, '$.stream') AS stream,
             regexp_replace(json_extract_string(line, '$.log'), '\n$', '') AS content
           FROM raw"""),

      // the prom fixture is deterministic in (turn_idx, tool, role), so the
      // oracle reconstructs the expected parse output directly from those
      // columns — an independent check of the regex/state-machine parse
      "prom_parse" -> withCte(
        """, prom AS (
             SELECT conv_id, turn_idx, mod(turn_idx, 8) AS m, tool, role
             FROM transcripts)
           SELECT conv_id, turn_idx,
             CASE m WHEN 0 THEN 'req_total' WHEN 2 THEN 'mem_bytes'
                    WHEN 3 THEN 'lat_ms' WHEN 5 THEN 'up'
                    ELSE 'x:y_total' END AS name,
             CASE m WHEN 0 THEN 'role=' || role || ',tool=' || tool
                    WHEN 3 THEN 'p=c"d,q=a' || chr(10) || 'b'
                    WHEN 5 THEN 'role=' || role ELSE '' END AS labels_str,
             CASE m WHEN 0 THEN cast(turn_idx AS DOUBLE) WHEN 2 THEN turn_idx + 0.5
                    WHEN 3 THEN 2500.0 WHEN 5 THEN 1.0 ELSE 3.25 END AS value,
             cast(CASE m WHEN 2 THEN 1700000000 WHEN 3 THEN 1700000123
                         ELSE 86400 END AS BIGINT) AS ts_sec,
             cast(CASE m WHEN 3 THEN 456000000 ELSE 0 END AS BIGINT) AS ts_ns
           FROM prom WHERE m IN (0, 2, 3, 5, 6)"""),

      "prom_relabel" -> withCte(
        """, prom AS (
             SELECT conv_id, turn_idx, mod(turn_idx, 8) AS m, tool, role
             FROM transcripts WHERE mod(turn_idx, 8) IN (0, 5)),
           h AS (
             SELECT *, cast(cast(('0x' || substr(md5(
               CASE WHEN m = 0 THEN tool ELSE '' END), 17, 16)) AS UBIGINT)
               % 7 AS VARCHAR) AS shard
             FROM prom)
           SELECT conv_id, turn_idx,
             CASE m WHEN 0 THEN 'req_total' ELSE 'up' END AS name,
             'role=' || role || ',role_up=' || upper(role) || ',shard=' || shard
               || CASE WHEN m = 0 THEN ',tool=' || tool ELSE '' END
               || CASE WHEN role = 'user' THEN ',who=ue' ELSE '' END
               || ',xxle=' || role AS labels_str,
             CASE m WHEN 0 THEN cast(turn_idx AS DOUBLE) ELSE 1.0 END AS value
           FROM h"""),

      // like the prom oracle: the fixture is deterministic in
      // (turn_idx, role, tool), so expected output is reconstructed from
      // those columns, independent of the parse regexes
      "syslog_3164" -> withCte(
        """, sys AS (
             SELECT conv_id, turn_idx, mod(turn_idx, 3) AS m,
                    mod(turn_idx, 192) AS pri, role, tool, text
             FROM transcripts)
           SELECT conv_id, turn_idx,
             CASE m WHEN 0 THEN 'h-' || role WHEN 1 THEN 'w-' || role
                    ELSE '' END AS "_hostname_",
             CASE m WHEN 0 THEN tool WHEN 1 THEN 'su' ELSE '' END AS "_program_",
             CASE WHEN m = 0 THEN cast(turn_idx AS VARCHAR) END AS "_process_id_",
             cast(CASE m WHEN 0 THEN pri WHEN 1 THEN 34 ELSE -1 END AS INT) AS "_priority_",
             cast(CASE m WHEN 0 THEN pri // 8 WHEN 1 THEN 4 ELSE -1 END AS INT) AS "_facility_",
             cast(CASE m WHEN 0 THEN mod(pri, 8) WHEN 1 THEN 2 ELSE -1 END AS INT) AS "_severity_",
             CASE m WHEN 0 THEN TIMESTAMP '2025-10-09 14:36:47'
                    WHEN 1 THEN TIMESTAMP '2025-08-02 09:49:23' END AS "_ts_",
             CASE m WHEN 0 THEN 'call ' || role || ' ' || turn_idx
                    WHEN 1 THEN 'done ' || turn_idx ELSE text END AS "_content_"
           FROM sys"""),

      "syslog_5424" -> withCte(
        """, sys AS (
             SELECT conv_id, turn_idx, mod(turn_idx, 2) AS m,
                    mod(turn_idx, 192) AS pri, role, tool
             FROM transcripts)
           SELECT conv_id, turn_idx,
             CASE m WHEN 0 THEN 'h-' || role ELSE 'm.example' END AS "_hostname_",
             CASE m WHEN 0 THEN tool ELSE 'su' END AS "_program_",
             CASE WHEN m = 0 THEN cast(turn_idx AS VARCHAR) END AS "_process_id_",
             CASE m WHEN 0 THEN 'ID' || turn_idx ELSE 'ID47' END AS "_message_id_",
             cast(CASE m WHEN 0 THEN pri ELSE 34 END AS INT) AS "_priority_",
             cast(CASE m WHEN 0 THEN pri // 8 ELSE 4 END AS INT) AS "_facility_",
             cast(CASE m WHEN 0 THEN mod(pri, 8) ELSE 2 END AS INT) AS "_severity_",
             CASE m WHEN 0 THEN TIMESTAMP '2016-02-21 04:32:57'
                    ELSE TIMESTAMP '2003-10-11 22:14:15.003' END AS "_ts_",
             CASE m WHEN 0 THEN 'meta{role=' || role || ',seq=' || turn_idx || '}'
                    ELSE '' END AS "_structured_data_",
             CASE m WHEN 0 THEN 'GET /x ' || turn_idx
                    ELSE 'BOM failed ' || turn_idx END AS "_content_"
           FROM sys"""),

      "influx_parse" -> withCte(
        """, base AS (
             SELECT conv_id, turn_idx, mod(turn_idx, 4) AS m, role, tool
             FROM transcripts)
           SELECT conv_id, turn_idx, 'req' AS "__name__",
             cast(turn_idx AS VARCHAR) AS "__value__",
             'host#$#h-' || role || '|tool#$#' || tool AS "__labels__",
             cast(1434055562000000000 AS BIGINT) AS "__time_nano__",
             'int' AS "__type__", 'value' AS "__field__"
           FROM base WHERE m = 0
           UNION ALL
           SELECT conv_id, turn_idx, 'mem:used',
             cast(turn_idx AS VARCHAR) || '.5', '',
             1434055562000000001, 'float', 'used' FROM base WHERE m = 1
           UNION ALL
           SELECT conv_id, turn_idx, 'mem:peak',
             cast(turn_idx * 10 AS VARCHAR), '',
             1434055562000000001, 'float', 'peak' FROM base WHERE m = 1
           UNION ALL
           SELECT conv_id, turn_idx, 'evt:ok', '1',
             'svc#$#s ' || role, 5, 'boolean', 'ok' FROM base WHERE m = 2
           UNION ALL
           SELECT conv_id, turn_idx, 'evt:msg', 'call ' || role,
             'svc#$#s ' || role, 5, 'string', 'msg' FROM base WHERE m = 2"""),

      // expected rows derived from the fixture's SOURCE columns (role /
      // tool / turn_idx), not by re-parsing the JSON in DuckDB — an
      // independent cross-check of the whole decode path
      "otlp_logs_parse" -> withCte(
        """, base AS (
             SELECT conv_id, turn_idx, role, tool FROM transcripts
             WHERE mod(turn_idx, 2) = 0)
           SELECT conv_id, turn_idx,
             cast(1663904182348000000 AS BIGINT) AS time_unix_nano,
             cast(9 AS BIGINT) AS severity_number,
             'INFO' AS severity_text,
             'turn ' || turn_idx AS content,
             '{"idx":' || turn_idx || ',"tool":"' || tool || '"}' AS attributes,
             '{"service.name":"svc-' || role || '"}' AS resources
           FROM base
           UNION ALL
           SELECT conv_id, turn_idx, 1663904182348000001, 17, 'ERROR',
             cast(turn_idx AS VARCHAR), '',
             '{"service.name":"svc-' || role || '"}'
           FROM base"""),

      "otlp_metrics_parse" -> withCte(
        """, mb AS (
             SELECT conv_id, turn_idx, role, tool, mod(turn_idx, 3) AS m3,
               'svc-' || role AS svc,
               cast(1663904182348000000 AS BIGINT) AS tn
             FROM transcripts WHERE mod(turn_idx, 2) = 0),
           hl AS (SELECT *,
             'otlp_metric_aggregation_temporality#$#Cumulative|otlp_metric_histogram_type#$#Histogram|service_name#$#' || svc AS h,
             'otlp_metric_aggregation_temporality#$#Cumulative|otlp_metric_histogram_type#$#ExponentialHistogram|service_name#$#' || svc AS e
             FROM mb)
           SELECT conv_id, turn_idx, 'latency_exemplars' AS "__name__",
             'role#$#' || role || '|service_name#$#' || svc ||
               '|spanId#$#1112131415161718|tool#$#' || tool ||
               '|traceId#$#0102030405060708090a0b0c0d0e0f10' AS "__labels__",
             cast(1663904182 AS BIGINT) AS "__time_nano__",
             '99.3' AS "__value__" FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'latency',
             'service_name#$#' || svc || '|tool#$#' || tool, tn,
             turn_idx || '.25' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'hits',
             'otlp_metric_aggregation_temporality#$#Cumulative|otlp_metric_ismonotonic#$#true|role#$#'
               || role || '|service_name#$#' || svc, tn,
             cast(turn_idx AS VARCHAR) FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'size_sum', h, tn, '345' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'size_min', h, tn, '1' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'size_max', h, tn, '200' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'size_count', h, tn, '4' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'size_bucket',
             'le#$#10|' || h, tn, '1' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'size_bucket',
             'le#$#100|' || h, tn, cast(1 + m3 AS VARCHAR) FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'size_bucket',
             'le#$#+Inf|' || h, tn, cast(3 + m3 AS VARCHAR) FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'spread_sum', e, tn, '55.5' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'spread_count', e, tn, '6' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'spread_bucket',
             'le#$#(2,4]|' || e, tn, '1' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'spread_bucket',
             'le#$#(4,8]|' || e, tn, '2' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'spread_bucket',
             'le#$#positive.offset|' || e, tn, '1' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'spread_bucket',
             'le#$#zero.count|' || e, tn, '7' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'spread_bucket',
             'le#$#[-2,-1)|' || e, tn, '3' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'spread_bucket',
             'le#$#negative.offset|' || e, tn, '0' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'rt_sum',
             'service_name#$#' || svc, tn, cast(turn_idx AS VARCHAR) FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'rt_count',
             'service_name#$#' || svc, tn, '10' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'rt',
             'quantile#$#0.5|service_name#$#' || svc, tn, '1.5' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'rt',
             'quantile#$#0.9|service_name#$#' || svc, tn, '2.5' FROM hl
           UNION ALL SELECT conv_id, turn_idx, 'marker', 'Empty', 0,
             'desc-' || tool FROM hl"""),

      "otlp_traces_parse" -> withCte(
        """, tb AS (
             SELECT conv_id, turn_idx, role, tool FROM transcripts
             WHERE mod(turn_idx, 2) = 1)
           SELECT conv_id, turn_idx, 'h-' || role AS host,
             'svc-' || role AS service,
             '{"region":"r1"}' AS resource,
             'graft' AS "otlp.name", '' AS "otlp.version",
             '0102030405060708090a0b0c0d0e0f10' AS "traceID",
             '1112131415161718' AS "spanID",
             '1112131415161718' AS "parentSpanID",
             'server' AS kind, 'op-' || tool AS name,
             '[{"attribute":{},"spanID":"1112131415161718","traceID":"0102030405060708090a0b0c0d0e0f10"}]' AS links,
             '[{"attribute":{"tool":"' || tool || '"},"name":"ev","time":1663904182348500000}]' AS logs,
             '' AS "traceState",
             cast(1663904182348000 AS BIGINT) AS start,
             cast(1663904182349000 AS BIGINT) AS "end",
             cast(1000 AS BIGINT) AS duration,
             '{"idx":' || turn_idx || ',"role":"' || role || '"}' AS attribute,
             'ERROR' AS "statusCode", 'boom' AS "statusMessage"
           FROM tb
           UNION ALL
           SELECT conv_id, turn_idx, 'h-' || role, 'svc-' || role,
             '{"region":"r1"}', 'graft', '', '', '', '', '',
             'child-' || turn_idx, '[]', '[]', '', 0, 0, 0, '{}',
             'UNSET', ''
           FROM tb"""),

      "remote_write_parse" ->
        """WITH t AS (SELECT unnest(range(0, 48)) AS i)
           SELECT i AS pid, 'rw_metric_' || (i % 3) AS "__name__",
             'instance#$#inst-' || i || '|job#$#job-' || (i % 5) AS "__labels__",
             (1663904182000 + i) * 1000000 AS "__time_nano__",
             i || '.5' AS "__value__" FROM t
           UNION ALL
           SELECT i, 'rw_metric_' || (i % 3),
             'instance#$#inst-' || i || '|job#$#job-' || (i % 5),
             (1663904183000 + i) * 1000000, cast(i * 2 AS VARCHAR) FROM t""",

      // encode → decode = identity over the same transcript-derived
      // metric rows (the sls_pb_roundtrip pattern)
      "remote_write_roundtrip" -> withCte(
        """, r AS (
             SELECT 'turn_metric_' || mod(turn_idx, 3) AS n,
               'conv#$#' || conv_id || '|role#$#' || role AS l,
               cast(floor(epoch(ts)) AS BIGINT) * 1000000000 AS tn,
               turn_idx || '.5' AS v
             FROM transcripts)
           SELECT n AS "__name__", l AS "__labels__",
             tn AS "__time_nano__", v AS "__value__" FROM r"""),

      "sls_pb_parse" ->
        """WITH t AS (SELECT unnest(range(0, 48)) AS i)
           SELECT i AS pid, 1663904182 + i AS log_time,
             'content=line-' || i || ',level=' ||
               (CASE WHEN i % 2 = 0 THEN 'info' ELSE 'warn' END) AS contents_str,
             't-' || (i % 2) AS topic, '10.0.0.' || i AS source,
             'host=h' || i AS tags_str FROM t
           UNION ALL
           SELECT i, 1663904183 + i, 'content=next-' || i,
             't-' || (i % 2), '10.0.0.' || i, 'host=h' || i FROM t""",

      // pack → decode = identity; the decoder renders attributes and
      // resources as key-sorted JSON objects of quoted strings
      "otlp_logs_roundtrip" -> withCte(
        """, r AS (
             SELECT conv_id, turn_idx, role, text, tool,
               cast(floor(epoch(ts)) AS BIGINT) * 1000000000 AS tn
             FROM transcripts)
           SELECT tn AS time_unix_nano, role AS severity_text,
             text AS content,
             '{"tool":"' || tool || '","turn_idx":"' || turn_idx || '"}'
               AS attributes,
             '{"conv_id":"' || conv_id || '","source":"graft"}' AS resources
           FROM r"""),

      // line-protocol encode → decode = identity over the same
      // transcript-derived metric rows
      "influx_roundtrip" -> withCte(
        """, r AS (
             SELECT conv_id, turn_idx, role, tool,
               mod(turn_idx, 4) AS m4, mod(turn_idx, 2) AS m2,
               cast(floor(epoch(ts)) AS BIGINT) * 1000000000 AS tn
             FROM transcripts)
           SELECT
             CASE WHEN m2 = 0 THEN 'turn_' || role
               ELSE 'turn_' || role || ':gauge' END AS "__name__",
             'conv#$#' || conv_id || '|loc#$#dc ' || mod(turn_idx, 3) ||
               '|role#$#' || role AS "__labels__",
             CASE WHEN m4 = 0 THEN turn_idx || '.25'
               WHEN m4 = 1 THEN cast(turn_idx AS VARCHAR)
               WHEN m4 = 2 THEN (CASE WHEN mod(turn_idx, 8) = 2
                 THEN '1' ELSE '0' END)
               ELSE 'txt ' || tool END AS "__value__",
             CASE WHEN m4 = 0 THEN 'float' WHEN m4 = 1 THEN 'int'
               WHEN m4 = 2 THEN 'boolean' ELSE 'string' END AS "__type__",
             CASE WHEN m2 = 0 THEN 'value' ELSE 'gauge' END AS "__field__",
             tn AS "__time_nano__"
           FROM r"""),

      // the converter's sorted-key JSON objects, rebuilt directly from
      // the same transcript columns
      "custom_single_encode" -> withCte(
        """SELECT conv_id, turn_idx,
             '{"contents":{"role":"' || role || '","tool":"' || tool ||
             '"},"tags":{"conv_id":"' || conv_id ||
             '","host.ip":"10.0.0.1","host.name":"graft-host",' ||
             '"log.topic":"transcripts"},"time":' ||
             cast(floor(epoch(ts)) AS BIGINT) || '}' AS payload
           FROM transcripts"""),

      "custom_flatten_encode" -> withCte(
        """SELECT conv_id, turn_idx,
             '{"conv_id":"' || conv_id || '","host.ip":"10.0.0.1",' ||
             '"role":"' || role || '","time":' ||
             cast(floor(epoch(ts)) AS BIGINT) ||
             ',"tool":"' || tool || '"}' AS payload
           FROM transcripts"""),

      // encode → decode = the reference's metric-log rows for the same
      // transcript-derived metric events (labels key-sorted k#$#v|…;
      // counter adds the Delta-temporality/ismonotonic labels)
      "otlp_metrics_roundtrip" -> withCte(
        """, mb AS (
             SELECT conv_id, turn_idx, role, mod(turn_idx, 3) AS m3,
               cast(floor(epoch(ts)) AS BIGINT) * 1000000000 AS tn,
               'turn_' || role AS n,
               'conv_id#$#' || conv_id || '|role#$#' || role ||
                 '|src#$#graft' AS base
             FROM transcripts)
           SELECT n AS "__name__", base AS "__labels__",
             tn AS "__time_nano__", turn_idx || '.25' AS "__value__"
           FROM mb WHERE m3 = 0
           UNION ALL SELECT n,
             'conv_id#$#' || conv_id ||
               '|otlp_metric_aggregation_temporality#$#Delta' ||
               '|otlp_metric_ismonotonic#$#false|role#$#' || role ||
               '|src#$#graft',
             tn, turn_idx || '.25' FROM mb WHERE m3 = 1
           UNION ALL SELECT n || '_sum', base, tn, turn_idx || '.5'
             FROM mb WHERE m3 = 2
           UNION ALL SELECT n || '_count', base, tn, '10'
             FROM mb WHERE m3 = 2
           UNION ALL SELECT n,
             'conv_id#$#' || conv_id || '|quantile#$#0.5|role#$#' || role ||
               '|src#$#graft',
             tn, '1.5' FROM mb WHERE m3 = 2"""),

      // encode → decode = the reference's span-log field set for the
      // same transcript-derived spans (μs times, name-mapped kind and
      // status, key-sorted events/links JSON, host/service shortcuts)
      "otlp_traces_roundtrip" -> withCte(
        """, tb AS (
             SELECT conv_id, turn_idx, role, tool, mod(turn_idx, 3) AS m3,
               cast(floor(epoch(ts)) AS BIGINT) * 1000000 AS tu,
               cast(floor(epoch(ts)) AS BIGINT) * 1000000000 AS tn
             FROM transcripts)
           SELECT conv_id, 'h-' || conv_id AS host,
             'svc-' || conv_id AS service,
             '{"conv_id":"' || conv_id || '","env":"prod"}' AS resource,
             'graft' AS "otlp.name", 'v1' AS "otlp.version",
             md5(conv_id || ':' || turn_idx) AS "traceID",
             substr(md5(conv_id || '#' || turn_idx), 1, 16) AS "spanID",
             '' AS "parentSpanID",
             CASE mod(turn_idx, 5) WHEN 0 THEN 'internal'
               WHEN 1 THEN 'server' WHEN 2 THEN 'client'
               WHEN 3 THEN 'producer' ELSE 'consumer' END AS kind,
             'op_' || tool AS name,
             '[{"attribute":{},"spanID":"1112131415161718","traceID":"'
               || md5(conv_id) || '"}]' AS links,
             '[{"attribute":{},"name":"ev","time":' || (tn + 500000)
               || '}]' AS logs,
             '' AS "traceState",
             tu AS start, tu + turn_idx + 2 AS "end",
             cast(turn_idx + 2 AS BIGINT) AS duration,
             '{"role":"' || role || '"}' AS attribute,
             CASE m3 WHEN 1 THEN 'OK' WHEN 2 THEN 'ERROR'
               ELSE 'UNSET' END AS "statusCode",
             CASE m3 WHEN 2 THEN 'boom' ELSE '' END AS "statusMessage"
           FROM tb"""),

      // the packed-then-decoded row set equals the source rows: the
      // oracle is the identity projection over the same transcript view
      "sls_pb_roundtrip" -> withCte(
        """, r AS (
             SELECT conv_id, cast(turn_idx AS INT) AS turn_idx, role, text,
               cast(floor(epoch(ts)) AS BIGINT) AS log_time
             FROM transcripts)
           SELECT log_time, 'transcripts' AS topic, 'graft' AS source,
             conv_id, turn_idx, role, text FROM r"""),

      // expected rows derived from the fixture's SOURCE columns — an
      // independent cross-check of the groups-format decode path
      "pyroscope_groups_parse" -> withCte(
        """, b AS (
             SELECT conv_id, turn_idx, role, tool,
               mod(turn_idx, 2) AS m2,
               CASE WHEN mod(turn_idx, 2) = 0 THEN 'ebpf' ELSE 'rb' END AS lang,
               CASE WHEN mod(turn_idx, 3) = 0 THEN 'nanoseconds'
                    WHEN mod(turn_idx, 3) = 1 THEN 'bytes'
                    ELSE 'lock_nanoseconds' END AS u_out,
               CASE WHEN mod(turn_idx, 3) = 0 THEN 'cpu'
                    WHEN mod(turn_idx, 3) = 1 THEN 'mem'
                    ELSE 'mutex' END AS vt,
               CASE WHEN mod(turn_idx, 3) = 0 THEN 'profile_cpu'
                    ELSE 'profile_unknown' END AS ptype,
               '{"__name__":"app-' || role || '","cluster":"sls-mall","profile_id":"p'
                 || turn_idx || '","svc":"' || tool || '"}' AS lbl,
               CASE WHEN mod(turn_idx, 3) = 0 THEN 10000000 ELSE 1 END AS fac
             FROM transcripts)
           SELECT conv_id, turn_idx, 'handle_' || tool AS name,
             (CASE WHEN m2 = 0 THEN 'fetch db.go' ELSE 'db.go fetch' END)
               || chr(10) || 'main' AS stack,
             lang AS language, ptype AS "type", u_out AS units,
             vt AS "valueTypes", 'sum' AS "aggTypes",
             'CallStack' AS "dataType",
             cast(10000000000 AS BIGINT) AS "durationNs",
             'p' || turn_idx AS "profileID", lbl AS labels,
             printf('%.2f', cast(turn_idx * fac AS DOUBLE)) AS val
           FROM b
           UNION ALL
           SELECT conv_id, turn_idx, 'boo', 'zoo', lang, ptype, u_out, vt,
             'sum', 'CallStack', 10000000000, 'p' || turn_idx, lbl,
             printf('%.2f', cast(turn_idx * 2 * fac AS DOUBLE)) FROM b
           UNION ALL
           SELECT conv_id, turn_idx, 'solo_' || role, '', lang, ptype,
             u_out, vt, 'sum', 'CallStack', 10000000000, 'p' || turn_idx,
             lbl, printf('%.2f', cast(3 * fac AS DOUBLE)) FROM b"""),

      // expected rows recomputed from the same integer range the Spark
      // side built its protobuf payloads from (remote_write pattern):
      // 4 rows per payload — {alpha-stack, gamma-stack} × {samples
      // (scaled to ns, summed across same-stack samples), inuse_space}
      "pprof_parse" ->
        """WITH b AS (
             SELECT i,
               CASE WHEN i % 2 = 0 THEN 'go' ELSE 'rb' END AS lang,
               'alpha_' || (i % 4) AS afn,
               '{"__name__":"app-' || (i % 3) ||
                 '","_sample_rate_":"100","cluster":"sls-mall","profile_id":"p'
                 || i || '","svc":"s' || (i % 5) || '"}' AS lbl,
               '{"__name__":"app-' || (i % 3) ||
                 '","_sample_rate_":"100","cluster":"sls-mall","profile_id":"p'
                 || i || '","span":"sp-' || (i % 3) || '","svc":"s'
                 || (i % 5) || '"}' AS lbl_span
             FROM (SELECT unnest(range(0, 48)) AS i)
           ), f AS (
             SELECT i, lang, lbl, lbl_span,
               CASE WHEN lang = 'go' THEN afn || ' alpha.go'
                    ELSE 'alpha.go ' || afn END AS alpha_f,
               CASE WHEN lang = 'go' THEN 'beta beta.go'
                    ELSE 'beta.go beta' END AS beta_f,
               CASE WHEN lang = 'go' THEN 'gamma gamma.go'
                    ELSE 'gamma.go gamma' END AS gamma_f
             FROM b)
           SELECT i AS pid, alpha_f AS name, beta_f AS stack, lang AS language,
             'profile_cpu' AS "type", 'nanoseconds' AS units,
             'cpu' AS "valueTypes", 'sum' AS "aggTypes",
             'CallStack' AS "dataType", cast(10000000000 AS BIGINT) AS "durationNs",
             'p' || i AS "profileID", lbl AS labels,
             printf('%.2f', cast((i + 6) * 10000000 AS DOUBLE)) AS val
           FROM f
           UNION ALL
           SELECT i, alpha_f, beta_f, lang, 'profile_mem', 'bytes',
             'inuse_space', 'avg', 'CallStack', 10000000000, 'p' || i, lbl,
             '50.00' FROM f
           UNION ALL
           SELECT i, gamma_f, beta_f, lang, 'profile_cpu', 'nanoseconds',
             'cpu', 'sum', 'CallStack', 10000000000, 'p' || i, lbl_span,
             '70000000.00' FROM f
           UNION ALL
           SELECT i, gamma_f, beta_f, lang, 'profile_mem', 'bytes',
             'inuse_space', 'avg', 'CallStack', 10000000000, 'p' || i,
             lbl_span, printf('%.2f', cast(i + 2 AS DOUBLE)) FROM f""",

      "statsd_parse" -> withCte(
        """, base AS (
             SELECT conv_id, turn_idx, mod(turn_idx, 3) AS m, role, tool
             FROM transcripts)
           SELECT conv_id, turn_idx, 'lat.' || tool AS "__name__",
             turn_idx + 0.5 AS "__value__", 'ms' AS "__stype__",
             0.5 AS "__rate__",
             'role#$#' || role || '|svc#$#api' AS "__labels__",
             cast(0 AS BIGINT) AS "__time_nano__"
           FROM base WHERE m = 0
           UNION ALL
           SELECT conv_id, turn_idx, 'hits', cast(turn_idx AS DOUBLE),
             'c', 1.0, '', 0 FROM base WHERE m = 1"""),

      "stratified_sample" ->
        """WITH d AS (
             SELECT doc_id,
               CASE WHEN length(text) < 400 THEN 'short' ELSE 'long' END AS stratum
             FROM documents)
           SELECT doc_id, stratum FROM d
           WHERE cast(('0x' || substr(md5(cast(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT)
                 / 4294967296.0
               < CASE stratum WHEN 'short' THEN 0.25 ELSE 0.75 END""",

      "weighted_repeat" ->
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
           WHERE t.i < reps""",

      "dedup_exact" ->
        """SELECT md5(text) AS text_md5, count(*) AS n_copies,
           min(doc_id) AS keep_id FROM documents GROUP BY 1""",

      "decontaminate" ->
        """WITH w AS (
             SELECT doc_id,
               string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS ws
             FROM documents
           ), bench AS (
             SELECT doc_id AS bench_id, array_to_string(ws[11:18], ' ') AS probe
             FROM w WHERE doc_id % 25 = 0 AND len(ws) >= 18
           ), g AS (
             SELECT DISTINCT doc_id, array_to_string(ws[i:i+7], ' ') AS gram
             FROM w, UNNEST(range(1, len(ws) - 6)) AS t(i)
           )
           SELECT g.doc_id AS doc_id, b.bench_id AS bench_id,
             count(*) AS n_overlap
           FROM g JOIN bench b ON g.gram = b.probe
           GROUP BY 1, 2""",

      "paragraph_dedup" -> withCte(
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
           FROM k GROUP BY conv_id"""),

      "corpus_ngrams" ->
        """WITH w AS (
             SELECT doc_id,
               string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS ws
             FROM documents
           ), g AS (
             SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
             FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
           )
           SELECT gram, count(*) AS doc_freq FROM g
           GROUP BY gram ORDER BY doc_freq DESC, gram LIMIT 100""",

      "token_count" ->
        """SELECT doc_id, cast(len(str_split(text, ' ')) AS INT) AS n_tokens,
           cast(length(text) AS INT) AS n_chars_computed FROM documents""",

      "quality_score" ->
        """SELECT doc_id,
           round(cast(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
                 / len(str_split(text, ' ')), 4) AS distinct_ratio
           FROM documents""",

      "lang_id" ->
        """SELECT doc_id,
           CASE WHEN cast(len(list_filter(str_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
                     / len(str_split(text, ' ')) > 0.05
                THEN 'en' ELSE 'unk' END AS lang_guess
           FROM documents""",

      "fingerprint" ->
        """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
           FROM documents""",

      "dedup_minhash" ->
        """WITH toks AS (
             SELECT doc_id, str_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS w FROM documents
           ), sh AS (
             SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) AS shingles
             FROM toks WHERE len(w) >= 3
           ), sigb AS (
             SELECT doc_id, list_transform(shingles, s -> cast(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS bh FROM sh
           ), sig AS (
             SELECT doc_id, [__MIXES__] AS mh FROM sigb
           ), bands AS (
             SELECT doc_id, mh, unnest(range(0, 4)) AS band FROM sig
           ), bucketed AS (
             SELECT doc_id, mh, band, md5(array_to_string(mh[band*4+1:band*4+4], ',')) AS bucket FROM bands
           ), cand AS (
             SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.mh AS ma, b.mh AS mb
             FROM bucketed a JOIN bucketed b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
           )
           SELECT doc_a, doc_b,
             round(len(list_filter(range(0,16), i -> ma[i+1] = mb[i+1])) / 16.0, 4) AS est_jaccard
           FROM cand WHERE len(list_filter(range(0,16), i -> ma[i+1] = mb[i+1])) >= 8"""
        .replace("__MIXES__", DedupOps.minhashSalts(16).map { case (a, b) =>
          s"list_min(list_transform(bh, h -> (h * $a + $b) % 4294967296))"
        }.mkString(", ")),

      // the full curation chain against the same minhash CTEs; the
      // near-dup component resolution is a nested RECURSIVE reachability
      // closure (small pair graph), mirroring resolveDuplicates'
      // min-label fixpoint
      "curation_survivors" ->
        """WITH w0 AS (
             SELECT doc_id, text,
               str_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words
             FROM documents
           ), gated AS (
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
           ), sh AS (
             SELECT doc_id, list_distinct(list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2], ' '))) AS shingles
             FROM ex WHERE len(words) >= 3
           ), sigb AS (
             SELECT doc_id, list_transform(shingles, s -> cast(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS bh FROM sh
           ), sig AS (
             SELECT doc_id, [__MIXES__] AS mh FROM sigb
           ), bands AS (
             SELECT doc_id, mh, unnest(range(0, 4)) AS band FROM sig
           ), bucketed AS (
             SELECT doc_id, mh, band, md5(array_to_string(mh[band*4+1:band*4+4], ',')) AS bucket FROM bands
           ), prs AS (
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
           WHERE comp.id IS NULL OR comp.id = comp.comp"""
        .replace("__MIXES__", DedupOps.minhashSalts(16).map { case (a, b) =>
          s"list_min(list_transform(bh, h -> (h * $a + $b) % 4294967296))"
        }.mkString(", ")),

      "dedup_simhash" ->
        """WITH toks AS (
             SELECT doc_id, unnest(str_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')) AS tok FROM documents
           ), th AS (
             SELECT doc_id, cast(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
           ), bits AS (
             SELECT doc_id, b, sum(CASE WHEN (h // (1 << b)) % 2 = 1 THEN 1 ELSE -1 END) AS s
             FROM th, (SELECT unnest(range(0, 32)) AS b) GROUP BY doc_id, b
           )
           SELECT doc_id, cast(sum(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id""",

      "simhash_pairs" ->
        """WITH toks AS (
             SELECT doc_id, unnest(str_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')) AS tok FROM documents
           ), th AS (
             SELECT doc_id, cast(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
           ), bits AS (
             SELECT doc_id, b, sum(CASE WHEN (h // (1 << b)) % 2 = 1 THEN 1 ELSE -1 END) AS s
             FROM th, (SELECT unnest(range(0, 32)) AS b) GROUP BY doc_id, b
           ), sh AS (
             SELECT doc_id, cast(sum(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS BIGINT) AS simhash
             FROM bits GROUP BY doc_id
           )
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             cast(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",

      "dedup_jaccard" ->
        """WITH toks AS (
             SELECT doc_id, str_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS w FROM documents
           ), sh AS (
             SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))) AS shingles
             FROM toks WHERE len(w) >= 3
           ), ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
           inter AS (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, any_value(a.n) AS na, any_value(b.n) AS nb, count(*) AS i
             FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
           )
           SELECT doc_a, doc_b, round(i / (na + nb - i), 4) AS jaccard
           FROM inter WHERE i / (na + nb - i) >= 0.2""",

      "embed_neardup" ->
        """WITH z AS (
             SELECT e.vec_id AS va, f.vec_id AS vb, unnest(e.embedding) AS x, unnest(f.embedding) AS y
             FROM embeddings e JOIN embeddings f ON e.vec_id < f.vec_id
           ), s AS (
             SELECT va, vb, sum(cast(x AS DOUBLE)*cast(y AS DOUBLE)) AS dot,
               sqrt(sum(cast(x AS DOUBLE)*cast(x AS DOUBLE))) AS nx,
               sqrt(sum(cast(y AS DOUBLE)*cast(y AS DOUBLE))) AS ny
             FROM z GROUP BY va, vb
           )
           SELECT va AS vec_a, vb AS vec_b, round(dot/(nx*ny), 4) AS cos
           FROM s WHERE round(dot/(nx*ny), 4) >= 0.35""",

      "embed_neardup_lsh" ->
        """WITH planes AS (
             SELECT p.p, d.d,
               CASE WHEN cast(('0x' || substr(md5(p.p || ':' || d.d), 1, 1)) AS BIGINT) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS w
             FROM (SELECT unnest(range(0, 8)) AS p) p, (SELECT unnest(range(0, 64)) AS d) d
           ), proj AS (
             SELECT e.vec_id, pl.p, sum(cast(e.embedding[pl.d+1] AS DOUBLE) * pl.w) AS s
             FROM embeddings e, planes pl GROUP BY 1, 2
           ), sig AS (
             SELECT vec_id, cast(sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS b
             FROM proj GROUP BY 1
           ), z AS (
             SELECT e.vec_id AS va, f.vec_id AS vb, unnest(e.embedding) AS x, unnest(f.embedding) AS y
             FROM embeddings e JOIN sig se ON se.vec_id = e.vec_id
                  JOIN sig sf ON true
                  JOIN embeddings f ON f.vec_id = sf.vec_id
             WHERE e.vec_id < f.vec_id AND se.b = sf.b
           ), s AS (
             SELECT va, vb, sum(cast(x AS DOUBLE)*cast(y AS DOUBLE)) AS dot,
               sqrt(sum(cast(x AS DOUBLE)*cast(x AS DOUBLE))) AS nx,
               sqrt(sum(cast(y AS DOUBLE)*cast(y AS DOUBLE))) AS ny
             FROM z GROUP BY va, vb
           )
           SELECT va AS vec_a, vb AS vec_b, round(dot/(nx*ny), 4) AS cos
           FROM s WHERE round(dot/(nx*ny), 4) >= 0.35""",

      "ann_lsh" ->
        """WITH planes AS (
             SELECT p.p, d.d,
               CASE WHEN cast(('0x' || substr(md5(p.p || ':' || d.d), 1, 1)) AS BIGINT) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS w
             FROM (SELECT unnest(range(0, 8)) AS p) p, (SELECT unnest(range(0, 64)) AS d) d
           ), proj AS (
             SELECT e.vec_id, pl.p, sum(cast(e.embedding[pl.d+1] AS DOUBLE) * pl.w) AS s
             FROM embeddings e, planes pl GROUP BY 1, 2
           ), sig AS (
             SELECT vec_id, cast(sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS b
             FROM proj GROUP BY 1
           ), qb AS (SELECT b FROM sig WHERE vec_id = 0),
           qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
           cand AS (
             SELECT e.vec_id, e.embedding FROM embeddings e JOIN sig s ON s.vec_id = e.vec_id, qb
             WHERE s.b = qb.b
           ), z AS (
             SELECT c.vec_id, unnest(c.embedding) AS x, unnest(qv.v) AS y FROM cand c, qv
           ), sc AS (
             SELECT vec_id, sum(cast(x AS DOUBLE)*cast(y AS DOUBLE)) AS dot,
               sqrt(sum(cast(x AS DOUBLE)*cast(x AS DOUBLE))) AS nx,
               sqrt(sum(cast(y AS DOUBLE)*cast(y AS DOUBLE))) AS ny
             FROM z GROUP BY vec_id
           )
           SELECT cast(row_number() OVER (ORDER BY round(dot/(nx*ny), 4) DESC, vec_id) AS INT) AS rank, vec_id
           FROM sc ORDER BY 1 LIMIT 10""",

      // same sketch as ann_lsh, but candidates come from the query's
      // bucket plus every Hamming-distance-1 probe bucket (the indexed
      // path's default multi-probe set is order-independent: all flips)
      "ann_lsh_indexed" ->
        """WITH planes AS (
             SELECT p.p, d.d,
               CASE WHEN cast(('0x' || substr(md5(p.p || ':' || d.d), 1, 1)) AS BIGINT) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS w
             FROM (SELECT unnest(range(0, 8)) AS p) p, (SELECT unnest(range(0, 64)) AS d) d
           ), proj AS (
             SELECT e.vec_id, pl.p, sum(cast(e.embedding[pl.d+1] AS DOUBLE) * pl.w) AS s
             FROM embeddings e, planes pl GROUP BY 1, 2
           ), sig AS (
             SELECT vec_id, cast(sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS b
             FROM proj GROUP BY 1
           ), qb AS (SELECT b FROM sig WHERE vec_id = 0),
           probes AS (
             SELECT qb.b AS pb FROM qb
             UNION ALL
             SELECT xor(qb.b, (1 << p.p)) FROM qb, (SELECT unnest(range(0, 8)) AS p) p
           ),
           qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
           cand AS (
             SELECT e.vec_id, e.embedding FROM embeddings e
             JOIN sig s ON s.vec_id = e.vec_id JOIN probes ON s.b = probes.pb
           ), z AS (
             SELECT c.vec_id, unnest(c.embedding) AS x, unnest(qv.v) AS y FROM cand c, qv
           ), sc AS (
             SELECT vec_id, sum(cast(x AS DOUBLE)*cast(y AS DOUBLE)) AS dot,
               sqrt(sum(cast(x AS DOUBLE)*cast(x AS DOUBLE))) AS nx,
               sqrt(sum(cast(y AS DOUBLE)*cast(y AS DOUBLE))) AS ny
             FROM z GROUP BY vec_id
           )
           SELECT cast(row_number() OVER (ORDER BY round(dot/(nx*ny), 4) DESC, vec_id) AS INT) AS rank, vec_id
           FROM sc ORDER BY 1 LIMIT 10""",

      // pair-recall of the bucketed near-dup tiers vs the exact pair
      // set: both tiers exact-verify their candidates, so recall is the
      // count ratio; the single-table sig is md5(p:d), the banded sig
      // md5(t:p:d) — the same derivations as their serving oracles
      "neardup_recall" ->
        """WITH allz AS (
             SELECT e.vec_id AS va, f.vec_id AS vb, unnest(e.embedding) AS x, unnest(f.embedding) AS y
             FROM embeddings e JOIN embeddings f ON e.vec_id < f.vec_id
           ), alls AS (
             SELECT va, vb, round(sum(cast(x AS DOUBLE)*cast(y AS DOUBLE)) /
               (sqrt(sum(cast(x AS DOUBLE)*cast(x AS DOUBLE))) *
                sqrt(sum(cast(y AS DOUBLE)*cast(y AS DOUBLE)))), 4) AS cos
             FROM allz GROUP BY va, vb
           ), exact_p AS (SELECT va, vb FROM alls WHERE cos >= 0.35),
           splanes AS (
             SELECT p.p, d.d,
               CASE WHEN cast(('0x' || substr(md5(p.p || ':' || d.d), 1, 1)) AS BIGINT) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS w
             FROM (SELECT unnest(range(0, 8)) AS p) p, (SELECT unnest(range(0, 64)) AS d) d
           ), sproj AS (
             SELECT e.vec_id, pl.p, sum(cast(e.embedding[pl.d+1] AS DOUBLE) * pl.w) AS s
             FROM embeddings e, splanes pl GROUP BY 1, 2
           ), ssig AS (
             SELECT vec_id, cast(sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS b
             FROM sproj GROUP BY 1
           ), scand AS (
             SELECT a.vec_id AS va, bb.vec_id AS vb
             FROM ssig a JOIN ssig bb ON a.b = bb.b AND a.vec_id < bb.vec_id
           ),
           bplanes AS (
             SELECT t.t, p.p, d.d,
               CASE WHEN cast(('0x' || substr(md5(t.t || ':' || p.p || ':' || d.d), 1, 1)) AS BIGINT) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS w
             FROM (SELECT unnest(range(0, 16)) AS t) t,
                  (SELECT unnest(range(0, 8)) AS p) p,
                  (SELECT unnest(range(0, 64)) AS d) d
           ), bproj AS (
             SELECT e.vec_id, pl.t, pl.p, sum(cast(e.embedding[pl.d+1] AS DOUBLE) * pl.w) AS s
             FROM embeddings e, bplanes pl GROUP BY 1, 2, 3
           ), bsig AS (
             SELECT vec_id, t, cast(sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS b
             FROM bproj GROUP BY 1, 2
           ), bcand AS (
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
           SELECT 'lsh_banded', bc, ec, round(bc * 1.0 / ec, 4) FROM counts""",

      // banded multi-table sign-LSH (16 tables × 8 planes): candidates
      // share a bucket with the query in ANY table, each table probed
      // at Hamming radius 1; candidate ids dedupe before the rerank
      "ann_lsh_banded" ->
        """WITH planes AS (
             SELECT t.t, p.p, d.d,
               CASE WHEN cast(('0x' || substr(md5(t.t || ':' || p.p || ':' || d.d), 1, 1)) AS BIGINT) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS w
             FROM (SELECT unnest(range(0, 16)) AS t) t,
                  (SELECT unnest(range(0, 8)) AS p) p,
                  (SELECT unnest(range(0, 64)) AS d) d
           ), proj AS (
             SELECT e.vec_id, pl.t, pl.p, sum(cast(e.embedding[pl.d+1] AS DOUBLE) * pl.w) AS s
             FROM embeddings e, planes pl GROUP BY 1, 2, 3
           ), sig AS (
             SELECT vec_id, t, cast(sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS b
             FROM proj GROUP BY 1, 2
           ), qsig AS (SELECT t, b FROM sig WHERE vec_id = 0),
           probes AS (
             SELECT t, b AS pb FROM qsig
             UNION ALL
             SELECT qsig.t, xor(b, (1 << p.p))
             FROM qsig, (SELECT unnest(range(0, 8)) AS p) p
           ), cand AS (
             SELECT DISTINCT se.vec_id
             FROM sig se JOIN probes pr ON pr.t = se.t AND pr.pb = se.b
           ),
           qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
           z AS (
             SELECT c.vec_id, unnest(e.embedding) AS x, unnest(qv.v) AS y
             FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, qv
           ), sc AS (
             SELECT vec_id, sum(cast(x AS DOUBLE)*cast(y AS DOUBLE)) AS dot,
               sqrt(sum(cast(x AS DOUBLE)*cast(x AS DOUBLE))) AS nx,
               sqrt(sum(cast(y AS DOUBLE)*cast(y AS DOUBLE))) AS ny
             FROM z GROUP BY vec_id
           )
           SELECT cast(row_number() OVER (ORDER BY round(dot/(nx*ny), 4) DESC, vec_id) AS INT) AS rank, vec_id
           FROM sc ORDER BY 1 LIMIT 10""",

      "ann_ivf" ->
        """WITH cent AS (
             SELECT vec_id AS c, embedding AS ce FROM embeddings WHERE vec_id < 16
           ), z AS (
             SELECT e.vec_id, cent.c, unnest(e.embedding) AS x, unnest(cent.ce) AS y
             FROM embeddings e, cent
           ), s AS (
             SELECT vec_id, c, sum(cast(x AS DOUBLE)*cast(y AS DOUBLE)) AS dot,
               sqrt(sum(cast(x AS DOUBLE)*cast(x AS DOUBLE))) AS nx,
               sqrt(sum(cast(y AS DOUBLE)*cast(y AS DOUBLE))) AS ny
             FROM z GROUP BY 1, 2
           ), ranked AS (
             SELECT vec_id, c, row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(dot/(nx*ny), 4) DESC, c DESC) AS rn
             FROM s
           ), asn AS (SELECT vec_id, c AS cell FROM ranked WHERE rn = 1),
           qcells AS (SELECT c AS cell FROM ranked WHERE vec_id = 0 AND rn <= 4),
           qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
           cand AS (
             SELECT e.vec_id, e.embedding FROM embeddings e
             JOIN asn a ON a.vec_id = e.vec_id JOIN qcells q ON a.cell = q.cell
           ), z2 AS (
             SELECT cnd.vec_id, unnest(cnd.embedding) AS x, unnest(qv.v) AS y
             FROM cand cnd, qv
           ), sc AS (
             SELECT vec_id, sum(cast(x AS DOUBLE)*cast(y AS DOUBLE)) AS dot,
               sqrt(sum(cast(x AS DOUBLE)*cast(x AS DOUBLE))) AS nx,
               sqrt(sum(cast(y AS DOUBLE)*cast(y AS DOUBLE))) AS ny
             FROM z2 GROUP BY 1
           )
           SELECT cast(row_number() OVER (ORDER BY round(dot/(nx*ny), 4) DESC, vec_id) AS INT) AS rank, vec_id
           FROM sc ORDER BY 1 LIMIT 10""",

      // exact / IVF(16,4) / banded sign-LSH(16 tables × 8 planes,
      // Hamming-1 probes) top-10 per query vector (vec_id < 20, self
      // excluded), all ranked by round(cos,4) with vec_id tiebreak;
      // recall = |approx ∩ exact| / 10; the IVF nprobe cutoff also
      // ranks by rounded centroid cosine (engine-portable boundary)
      "ann_recall" ->
        """WITH cent AS (
             SELECT vec_id AS c, embedding AS ce FROM embeddings WHERE vec_id < 16
           ), zc AS (
             SELECT e.vec_id, cent.c, unnest(e.embedding) AS x, unnest(cent.ce) AS y
             FROM embeddings e, cent
           ), sc AS (
             SELECT vec_id, c, sum(cast(x AS DOUBLE)*cast(y AS DOUBLE)) AS dot,
               sqrt(sum(cast(x AS DOUBLE)*cast(x AS DOUBLE))) AS nx,
               sqrt(sum(cast(y AS DOUBLE)*cast(y AS DOUBLE))) AS ny
             FROM zc GROUP BY 1, 2
           ), rankedc AS (
             SELECT vec_id, c, row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(dot/(nx*ny), 4) DESC, c DESC) AS rn
             FROM sc
           ), asn AS (SELECT vec_id, c AS cell FROM rankedc WHERE rn = 1),
           rankedq AS (
             SELECT vec_id, c, row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(dot/(nx*ny), 4) DESC, c DESC) AS rn
             FROM sc
           ), qcells AS (
             SELECT vec_id AS qid, c AS cell FROM rankedq
             WHERE vec_id < 20 AND rn <= 4
           ), zq AS (
             SELECT q.vec_id AS qid, e.vec_id,
               unnest(q.embedding) AS qx, unnest(e.embedding) AS ex
             FROM embeddings q, embeddings e
             WHERE q.vec_id < 20 AND e.vec_id <> q.vec_id
           ), sq AS (
             SELECT qid, vec_id, sum(cast(qx AS DOUBLE)*cast(ex AS DOUBLE)) AS dot,
               sqrt(sum(cast(qx AS DOUBLE)*cast(qx AS DOUBLE))) AS nq,
               sqrt(sum(cast(ex AS DOUBLE)*cast(ex AS DOUBLE))) AS ne
             FROM zq GROUP BY 1, 2
           ), cosq AS (
             SELECT qid, vec_id, round(dot/(nq*ne), 4) AS cos FROM sq
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
           ), planes AS (
             SELECT t.t, p.p, d.d,
               CASE WHEN cast(('0x' || substr(md5(t.t || ':' || p.p || ':' || d.d), 1, 1)) AS BIGINT) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS w
             FROM (SELECT unnest(range(0, 16)) AS t) t,
                  (SELECT unnest(range(0, 8)) AS p) p,
                  (SELECT unnest(range(0, 64)) AS d) d
           ), proj AS (
             SELECT e.vec_id, pl.t, pl.p, sum(cast(e.embedding[pl.d+1] AS DOUBLE) * pl.w) AS s
             FROM embeddings e, planes pl GROUP BY 1, 2, 3
           ), sig AS (
             SELECT vec_id, t, cast(sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS b
             FROM proj GROUP BY 1, 2
           ), qsig AS (SELECT vec_id AS qid, t, b FROM sig WHERE vec_id < 20),
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
           LEFT JOIN hits_l hl ON hl.qid = q.vec_id""",

      // same centroid/assignment math as ann_ivf (first-16 centroids,
      // rounded-cos-desc cell-desc tie break); within-cell pairs; a
      // vector drops
      // when a smaller-id vector in its cell has rounded cos >= 0.35
      "semdedup" ->
        """WITH cent AS (
             SELECT vec_id AS c, embedding AS ce FROM embeddings WHERE vec_id < 16
           ), z AS (
             SELECT e.vec_id, cent.c, unnest(e.embedding) AS x, unnest(cent.ce) AS y
             FROM embeddings e, cent
           ), s AS (
             SELECT vec_id, c, sum(cast(x AS DOUBLE)*cast(y AS DOUBLE)) AS dot,
               sqrt(sum(cast(x AS DOUBLE)*cast(x AS DOUBLE))) AS nx,
               sqrt(sum(cast(y AS DOUBLE)*cast(y AS DOUBLE))) AS ny
             FROM z GROUP BY 1, 2
           ), ranked AS (
             SELECT vec_id, c, row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(dot/(nx*ny), 4) DESC, c DESC) AS rn
             FROM s
           ), asn AS (SELECT vec_id, c AS cell FROM ranked WHERE rn = 1),
           zz AS (
             SELECT a.vec_id AS va, b.vec_id AS vb,
               unnest(a.embedding) AS x, unnest(b.embedding) AS y
             FROM embeddings a JOIN asn aa ON aa.vec_id = a.vec_id
                  JOIN asn bb ON aa.cell = bb.cell
                  JOIN embeddings b ON b.vec_id = bb.vec_id
             WHERE a.vec_id < b.vec_id
           ), ss AS (
             SELECT va, vb, sum(cast(x AS DOUBLE)*cast(y AS DOUBLE)) AS dot,
               sqrt(sum(cast(x AS DOUBLE)*cast(x AS DOUBLE))) AS nx,
               sqrt(sum(cast(y AS DOUBLE)*cast(y AS DOUBLE))) AS ny
             FROM zz GROUP BY 1, 2
           ), drops AS (
             SELECT DISTINCT vb FROM ss WHERE round(dot/(nx*ny), 4) >= 0.35
           )
           SELECT asn.vec_id AS vec_id, cast(asn.cell AS INT) AS cell
           FROM asn WHERE asn.vec_id NOT IN (SELECT vb FROM drops)""",

      "token_bpe" ->
        """SELECT doc_id,
             cast(len(regexp_split_to_array(text, '\s+')) AS INT) AS ws_tokens,
             cast(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS bpe_tokens,
             cast(length(text) AS INT) AS n_chars
           FROM documents""",

      "quality_features" ->
        """WITH w AS (
             SELECT doc_id, length(text) AS chars, text,
               str_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words
             FROM documents)
           SELECT doc_id,
             cast(chars AS INT) AS n_chars,
             cast(len(words) AS INT) AS n_words,
             round(chars / len(words), 4) AS mean_word_len,
             round(len(list_distinct(words)) / len(words), 4) AS type_token_ratio,
             round((chars - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) / chars, 4) AS punct_ratio,
             round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / chars, 4) AS alpha_ratio
           FROM w""",

      "repetition_stats" ->
        """WITH w AS (
             SELECT doc_id, str_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents
           ), uni AS (
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
           FROM ent LEFT JOIN topb ON ent.doc_id = topb.doc_id""",

      "lang_id_argmax" ->
        """WITH w AS (
             SELECT doc_id, str_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents
           ), sc AS (
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
           FROM sc""",

      "fingerprint_bottomk" ->
        """WITH n AS (
             SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t FROM documents
           ), g AS (
             SELECT doc_id, list_transform(range(1, greatest(length(t) - 7, 1) + 1),
               i -> substr(t, i, 8)) AS grams
             FROM n)
           SELECT doc_id, array_to_string(
             list_sort(list_distinct(list_transform(grams,
               g -> cast(('0x' || substr(md5(g), 1, 8)) AS BIGINT))))[1:8], ',') AS fp
           FROM g""",

      "multimodal_decode" ->
        """SELECT doc_id,
             cast(cast(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 512 + 16 AS INT) AS width,
             cast(cast(('0x' || substr(md5(text), 5, 4)) AS BIGINT) % 512 + 16 AS INT) AS height,
             3 AS channels,
             round(cast(('0x' || substr(md5(text), 9, 8)) AS BIGINT) / 4294967295.0, 6) AS f0,
             round(cast(('0x' || substr(md5(text), 17, 8)) AS BIGINT) / 4294967295.0, 6) AS f1,
             round(cast(('0x' || substr(md5(text), 25, 8)) AS BIGINT) / 4294967295.0, 6) AS f2
           FROM documents""",

      "frame_sample" ->
        """SELECT doc_id, cast(unnest(range(0, n_chars % 30 + 1, 3)) AS INT) AS frame_idx
           FROM documents""",

      "ann_topk" ->
        """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           z AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
                 FROM embeddings e, q WHERE e.vec_id <> 0),
           s AS (SELECT vec_id,
                   sum(cast(x AS DOUBLE) * cast(y AS DOUBLE)) AS dot,
                   sqrt(sum(cast(x AS DOUBLE) * cast(x AS DOUBLE))) AS nx,
                   sqrt(sum(cast(y AS DOUBLE) * cast(y AS DOUBLE))) AS ny
                 FROM z GROUP BY vec_id)
           SELECT cast(row_number() OVER (ORDER BY round(dot / (nx * ny), 4) DESC, vec_id) AS INT) AS rank,
                  vec_id
           FROM s ORDER BY 1 LIMIT 10"""
    )
  }
}
