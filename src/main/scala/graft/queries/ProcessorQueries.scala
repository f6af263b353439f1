package graft.queries

import org.apache.spark.sql.functions._
import graft.ops._
import graft.oracle.TranscriptView.withCte
import graft.pipeline.TranscriptPipeline
import Fixtures._

/** Transcript processor queries (SURVEY §2.2–§2.10): parse, filter,
  * field, enrich, route, group and aggregate, each with the DuckDB SQL
  * its output is checked against. */
object ProcessorQueries {
  val all: Seq[Query] = Seq(
    // -- sanity -----------------------------------------------------------
    Query("q1_agg", Some(
        "SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n FROM lineitem GROUP BY 1")) { (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
    },

    // -- parsers (SURVEY §2.2) --------------------------------------------
    Query("regex_parse", Some(withCte(
        s"""SELECT conv_id, turn_idx,
           regexp_extract(text, '$nginxRx', 1) AS ip,
           regexp_extract(text, '$nginxRx', 4) AS method,
           regexp_extract(text, '$nginxRx', 5) AS path,
           regexp_extract(text, '$nginxRx', 7) AS status,
           regexp_extract(text, '$nginxRx', 8) AS bytes
           FROM transcripts WHERE regexp_matches(text, '$nginxRx')"""))) { (s, dir) =>
      val parsed = ParseOps.RegexParser("text", TranscriptPipeline.nginxRegex,
        TranscriptPipeline.nginxKeys)(transcripts(s, dir))
      parsed.filter(col("ip").isNotNull)
        .select("conv_id", "turn_idx", "ip", "method", "path", "status", "bytes")
    },

    Query("json_parse", Some(withCte(
        """SELECT conv_id, turn_idx,
           json_extract_string(text, '$.level') AS level,
           json_extract_string(text, '$.code') AS code,
           json_extract_string(text, '$.msg') AS msg
           FROM transcripts WHERE text LIKE '{%'"""))) { (s, dir) =>
      val parsed = ParseOps.JsonParser("text", Seq("level", "code", "msg"))(
        transcripts(s, dir))
      parsed.filter(col("level").isNotNull)
        .select("conv_id", "turn_idx", "level", "code", "msg")
    },

    Query("kv_parse", Some(withCte(
        """SELECT conv_id, turn_idx,
           regexp_extract(text, 'status=([0-9]+)', 1) AS status,
           regexp_extract(text, 'latency_ms=([0-9]+)', 1) AS latency_ms
           FROM transcripts WHERE regexp_matches(text, '^tool=\S+ status=[0-9]+')"""))) { (s, dir) =>
      val t = transcripts(s, dir).filter(col("text").rlike("^tool=\\S+ status=\\d+"))
      ParseOps.KeyValueParser("text", " ", "=")
        .extract(t, Seq("status", "latency_ms"))
        .select("conv_id", "turn_idx", "status", "latency_ms")
    },

    Query("delimiter_parse", Some(withCte(
        s"""SELECT conv_id, turn_idx,
           regexp_extract(text, '$csvRx', 1) AS c_type,
           regexp_extract(text, '$csvRx', 2) AS c_status,
           regexp_extract(text, '$csvRx', 3) AS c_item,
           regexp_extract(text, '$csvRx', 4) AS c_bytes
           FROM transcripts WHERE regexp_matches(text, '$csvRx')"""))) { (s, dir) =>
      val t = transcripts(s, dir)
        .filter(col("text").rlike("^[^,\"]+,\\d+,\"[^\"]*\",\\d+$"))
      ParseOps.DelimiterParser("text", ",",
        Seq("c_type", "c_status", "c_item", "c_bytes"), quote = Some("\""))(t)
        .select("conv_id", "turn_idx", "c_type", "c_status", "c_item", "c_bytes")
    },

    Query("grok_parse", Some(withCte(
        s"""SELECT conv_id, turn_idx,
           regexp_extract(text, '$nginxRx', 1) AS client,
           regexp_extract(text, '$nginxRx', 4) AS verb,
           regexp_extract(text, '$nginxRx', 5) AS request,
           regexp_extract(text, '$nginxRx', 7) AS response,
           regexp_extract(text, '$nginxRx', 8) AS sent_bytes
           FROM transcripts WHERE regexp_matches(text, '$nginxRx')"""))) { (s, dir) =>
      val grok = ParseOps.GrokParser("text", Seq(
        "%{IP:client} - %{USERNAME:ident} \\[%{HTTPDATE:http_time}\\] \"%{WORD:verb} %{URIPATHPARAM:request} HTTP/%{NUMBER:httpversion}\" %{NUMBER:response} %{NUMBER:sent_bytes} \"-\" \"graft/1.0\""))
      grok(transcripts(s, dir)).filter(col("client").isNotNull)
        .select("conv_id", "turn_idx", "client", "verb", "request", "response", "sent_bytes")
    },

    Query("timestamp_parse", Some(withCte(
        """SELECT conv_id, turn_idx, date_trunc('second', ts) AS ts_parsed
           FROM transcripts"""))) { (s, dir) =>
      val t = transcripts(s, dir)
        .withColumn("ts_str", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      ParseOps.TimestampParser("ts_str", "yyyy-MM-dd HH:mm:ss", "ts_parsed")(t)
        .select("conv_id", "turn_idx", "ts_parsed")
    },

    Query("apsara_parse", Some(withCte(
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
           WHERE regexp_matches(text, '^\[[^\]]+\]\t\[\w+\]\t\[[0-9]+\]\t\[[^:\]]+:[0-9]+\]')"""))) { (s, dir) =>
      ParseOps.ApsaraParser("text")(transcripts(s, dir))
        .filter(col("__LEVEL__").isNotNull)
        .select(col("conv_id"), col("turn_idx"), col("time"),
          col("__LEVEL__").as("level"), col("__THREAD__").as("thread"),
          col("__FILE__").as("file"), col("__LINE__").as("line"),
          col("microtime"),
          try_element_at(col("apsara_kv"), lit("shard")).as("shard"))
    },

    // -- filters (SURVEY §2.3) ---------------------------------------------
    Query("filter_include", Some(withCte(
        """SELECT role, count(*) AS n FROM transcripts
           WHERE regexp_matches(role, '^(?:user|assistant)$')
             AND NOT regexp_matches(text, '^(?:\?\?.*)$')
           GROUP BY role"""))) { (s, dir) =>
      val f1 = FilterOps.IncludeFilter(Map("role" -> "user|assistant"))
      val f2 = FilterOps.ExcludeFilter(Map("text" -> "\\?\\?.*"))
      f2(f1(transcripts(s, dir))).groupBy(col("role"))
        .agg(count(lit(1)).as("n"))
    },

    Query("filter_expression", Some(withCte(
        """SELECT conv_id, turn_idx, role, tool FROM transcripts
           WHERE (regexp_matches(role, '^(?:tool)$') AND regexp_matches(tool, '^(?:search|bash)$'))
              OR NOT coalesce(regexp_matches(role, '^(?:user|assistant|system|tool)$'), false)"""))) { (s, dir) =>
      import FilterOps._
      val tree = Or(Seq(
        And(Seq(KeyRegex("role", "tool"), KeyRegex("tool", "search|bash"))),
        Not(KeyRegex("role", "user|assistant|system|tool"))))
      ExpressionFilter(tree)(transcripts(s, dir))
        .select("conv_id", "turn_idx", "role", "tool")
    },

    Query("fields_with_condition", Some(withCte(
        """SELECT role, tool,
           CASE WHEN role = 'assistant' THEN 'model'
                WHEN role LIKE 't%' AND regexp_matches(tool, '^(?:search|browser)$') THEN 'retriever'
                WHEN contains(role, 's') THEN 'sys' END AS speaker_kind,
           count(*) AS n
           FROM transcripts GROUP BY 1, 2, 3"""))) { (s, dir) =>
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

    Query("filter_key_regex", Some(withCte(
        """, keyed AS (
             SELECT conv_id, turn_idx, text,
               list_transform(str_split(text, ' '),
                 x -> CASE WHEN instr(x, '=') > 0
                           THEN x[1:instr(x, '=')-1] ELSE x END) AS ks
             FROM transcripts)
           SELECT conv_id, turn_idx, text FROM keyed
           WHERE len(list_filter(ks, k -> regexp_matches(k, '^latency_'))) > 0
             AND len(list_filter(ks, k -> regexp_matches(k, '^tool$'))) > 0
             AND len(list_filter(ks, k -> regexp_matches(k, '^debug'))) = 0"""))) { (s, dir) =>
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

    Query("rate_limit", Some(withCte(
        """SELECT role, count(*) AS n_kept FROM (
             SELECT role, row_number() OVER (
               PARTITION BY date_trunc('hour', ts), role
               ORDER BY ts, conv_id, turn_idx) AS rn
             FROM transcripts) WHERE rn <= 1 GROUP BY role"""))) { (s, dir) =>
      FilterOps.RateLimit(Seq("role"), limit = 1, tsCol = "ts",
        bucket = "1 hour", tieBreak = Seq("conv_id", "turn_idx"))(
        transcripts(s, dir))
        .groupBy(col("role")).agg(count(lit(1)).as("n_kept"))
    },

    // -- field ops (SURVEY §2.4) --------------------------------------------
    Query("field_ops", Some(withCte(
        """SELECT conv_id, turn_idx, role AS speaker, 'p1' AS pipeline
           FROM transcripts"""))) { (s, dir) =>
      val d0 = transcripts(s, dir)
      val d1 = FieldOps.AddFields(Map("pipeline" -> "p1"))(d0)
      val d2 = FieldOps.Rename(Map("role" -> "speaker"))(d1)
      FieldOps.PickKey(include = Seq("conv_id", "turn_idx", "speaker", "pipeline"))(d2)
    },

    Query("desensitize", Some(withCte(
        """SELECT conv_id, turn_idx,
           regexp_replace(text, '(latency_ms=)[0-9]+', '\1********', 'g') AS text
           FROM transcripts WHERE text LIKE 'tool=%'"""))) { (s, dir) =>
      val t = transcripts(s, dir).filter(col("text").startsWith("tool="))
      FieldOps.Desensitize("text", "latency_ms=", "\\d+")(t)
        .select("conv_id", "turn_idx", "text")
    },

    Query("string_replace", Some(withCte(
        """SELECT conv_id, turn_idx,
           regexp_replace(text, '[0-9]+', 'N', 'g') AS text_norm
           FROM transcripts WHERE text LIKE 'tool=%'"""))) { (s, dir) =>
      FieldOps.StringReplace("text", "\\d+", "N", destKey = Some("text_norm"))(
        transcripts(s, dir).filter(col("text").startsWith("tool=")))
        .select("conv_id", "turn_idx", "text_norm")
    },

    Query("anchor", Some(withCte(
        s"""SELECT conv_id, turn_idx,
           regexp_extract(text, 'item ([^"]*)"', 1) AS item_id
           FROM transcripts WHERE regexp_matches(text, '$csvRx')"""))) { (s, dir) =>
      val t = transcripts(s, dir)
        .filter(col("text").rlike("^[^,\"]+,\\d+,\"[^\"]*\",\\d+$"))
      FieldOps.Anchor("text", "item ", "\"", "item_id")(t)
        .select("conv_id", "turn_idx", "item_id")
    },

    Query("pack_json", Some(withCte(
        """SELECT conv_id, turn_idx,
           printf('{"role":"%s","tool":"%s"}', role, tool) AS packed
           FROM transcripts"""))) { (s, dir) =>
      FieldOps.PackJson(Seq("role", "tool"), "packed")(transcripts(s, dir))
        .select("conv_id", "turn_idx", "packed")
    },

    Query("md5_field", Some(withCte(
        """SELECT conv_id, turn_idx, md5(text) AS text_md5 FROM transcripts"""))) { (s, dir) =>
      FieldOps.Md5("text", "text_md5")(transcripts(s, dir))
        .select("conv_id", "turn_idx", "text_md5")
    },

    // -- enrich / joins (SURVEY §2.4, §2.7) ----------------------------------
    Query("dict_map", Some(withCte(
        """SELECT role,
           CASE role WHEN 'user' THEN 'human' WHEN 'assistant' THEN 'model'
             WHEN 'system' THEN 'control' ELSE 'other' END AS role_class,
           tool,
           CASE tool WHEN 'search' THEN 'retrieval' WHEN 'browser' THEN 'retrieval'
             WHEN 'bash' THEN 'exec' WHEN 'python' THEN 'exec' WHEN 'sql' THEN 'exec'
             WHEN 'editor' THEN 'authoring' WHEN 'none' THEN 'n/a'
             ELSE 'misc' END AS tool_family,
           count(*) AS n
           FROM transcripts GROUP BY 1, 2, 3, 4"""))) { (s, dir) =>
      TranscriptPipeline.enrich(transcripts(s, dir))
        .groupBy(col("role"), col("role_class"), col("tool"), col("tool_family"))
        .agg(count(lit(1)).as("n"))
    },

    Query("range_lookup", Some(
        """SELECT CASE WHEN value >= 0 AND value < 5 THEN 'low'
             WHEN value >= 5 AND value < 15 THEN 'mid'
             WHEN value >= 15 AND value < 1000000000 THEN 'high' END AS tier,
           count(*) AS n FROM events GROUP BY 1""")) { (s, dir) =>
      val sp = s
      import sp.implicits._
      val ranges = Seq((0.0, 5.0, "low"), (5.0, 15.0, "mid"),
        (15.0, 1e9, "high")).toDF("lo", "hi", "tier")
      EnrichOps.RangeLookup(ranges, "value")(tbl(s, dir, "events"))
        .groupBy(col("tier")).agg(count(lit(1)).as("n"))
    },

    // -- routing / grouping (SURVEY §2.5) ------------------------------------
    Query("router_first_match", Some(withCte(
        """SELECT conv_id, turn_idx,
           CASE WHEN regexp_matches(role, '^(?:assistant)$') THEN 'sink_llm'
                WHEN regexp_matches(role, '^(?:tool|system)$') THEN 'sink_infra'
                WHEN regexp_matches(role, '^(?:t.*)$') THEN 'sink_never'
                ELSE 'sink_user' END AS sink
           FROM transcripts"""))) { (s, dir) =>
      TranscriptPipeline.router(transcripts(s, dir))
        .select(col("conv_id"), col("turn_idx"), col("__sink__").as("sink"))
    },

    Query("router_multicast", Some(withCte(
        """SELECT sink, count(*) AS n FROM (
             SELECT unnest(list_filter([
               CASE WHEN role = 'tool' THEN 'all_tool' END,
               CASE WHEN regexp_matches(text, 'ERROR|"code":5[0-9][0-9]') THEN 'all_errorish' END,
               CASE WHEN role = 'user' THEN 'all_user' END], x -> x IS NOT NULL)) AS sink
             FROM transcripts) GROUP BY sink"""))) { (s, dir) =>
      val mc = RouteOps.MulticastRouter(Seq(
        "all_tool" -> (col("role") === "tool"),
        "all_errorish" -> col("text").rlike("ERROR|\"code\":5\\d\\d"),
        "all_user" -> (col("role") === "user")))
      mc.explodeSinks(transcripts(s, dir))
        .groupBy(col("__sink__").as("sink")).agg(count(lit(1)).as("n"))
        .select("sink", "n")
    },

    Query("shardhash", Some(withCte(
        """SELECT cast(cast(concat('0x', substr(md5(conv_id), 1, 8)) AS BIGINT) // 268435456 AS INT) AS bucket,
           count(*) AS n FROM transcripts GROUP BY 1"""))) { (s, dir) =>
      val sh = GroupOps.ShardHash(Seq("conv_id"), 16)
      transcripts(s, dir).withColumn("bucket", sh.bucketColumn)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    },

    Query("content_value_group", Some(withCte(
        """SELECT concat(coalesce(role, ''), '|', coalesce(tool, '')) AS grp,
           count(*) AS n FROM transcripts GROUP BY 1"""))) { (s, dir) =>
      GroupOps.ContentValueGroup(Seq("role", "tool"))(transcripts(s, dir))
        .groupBy(col("__group__").as("grp")).agg(count(lit(1)).as("n"))
        .select("grp", "n")
    },

    // -- aggregates / windows (SURVEY §2.8, §2.10) ---------------------------
    Query("sink_agg", Some(withCte(
        """SELECT CASE WHEN regexp_matches(role, '^(?:assistant)$') THEN 'sink_llm'
                WHEN regexp_matches(role, '^(?:tool|system)$') THEN 'sink_infra'
                ELSE 'sink_user' END AS sink,
           tool, date_trunc('hour', ts) AS bucket,
           count(*) AS n_events, count(DISTINCT conv_id) AS n_convs
           FROM transcripts GROUP BY 1, 2, 3"""))) { (s, dir) =>
      val routed = TranscriptPipeline(transcripts(s, dir))
      TranscriptPipeline.aggregates(routed)
        .withColumnRenamed("__sink__", "sink")
    },

    Query("conv_stats", Some(withCte(
        """SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS max_turn,
           cast(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT) AS role_repeats,
           min(ts) AS started_at, max(ts) AS ended_at
           FROM (SELECT *, lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
                 FROM transcripts)
           GROUP BY conv_id"""))) { (s, dir) =>
      AggOps.conversationStats(transcripts(s, dir))
    },

    Query("multiline_merge", Some(withCte(
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
           FROM seg GROUP BY 1, 2"""))) { (s, dir) =>
      AggOps.MultilineMerge("^java\\.lang")(transcripts(s, dir))
        .select("conv_id", "segment", "first_turn", "n_lines", "merged_text")
    },

    Query("multiline_endonly", Some(withCte(
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
           FROM seg GROUP BY 1, 2"""))) { (s, dir) => // end-only mode: garbage ??..?? terminators
      AggOps.MultilineMerge(endPattern = Some("\\?\\?$"))(transcripts(s, dir))
        .select("conv_id", "segment", "first_turn", "n_lines", "merged_text")
    },

    Query("multiline_startcont", Some(withCte(
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
           FROM badx GROUP BY 1, 2"""))) { (s, dir) => // start+continue: stack head + \tat lines
      AggOps.MultilineMerge(startPattern = Some("^java\\.lang"),
        continuePattern = Some("^\\tat "))(transcripts(s, dir))
        .select("conv_id", "segment", "first_turn", "n_lines", "merged_text")
    },

    // -- more processors / aggregates (SURVEY §2.2, §2.4, §2.5, §2.8) --------
    Query("json_expand", Some(withCte(
        """SELECT conv_id, turn_idx,
           json_extract_string(text, '$.level') AS level,
           json_extract_string(text, '$.meta.attempt') AS attempt
           FROM transcripts WHERE text LIKE '{%'"""))) { (s, dir) =>
      val t = transcripts(s, dir).filter(col("text").startsWith("{"))
      ParseOps.JsonExpand("text", depth = 2, connector = "_")(t)
        .select(col("conv_id"), col("turn_idx"),
          try_element_at(col("expanded"), lit("level")).as("level"),
          try_element_at(col("expanded"), lit("meta_attempt")).as("attempt"))
    },

    Query("spl_query", Some(withCte(
        s"""SELECT regexp_extract(text, '$nginxRx', 7) AS status, count(*) AS n
           FROM transcripts WHERE regexp_matches(text, '$nginxRx') GROUP BY 1"""))) { (s, dir) =>
      // the reference's processor_spl executes an SPL script against the
      // event group (ProcessorSPL.cpp:29-90); in this engine that IS
      // Spark SQL over the parsed view
      TranscriptPipeline.parse(transcripts(s, dir))
        .createOrReplaceTempView("parsed_events")
      s.sql("""SELECT status, count(*) AS n FROM parsed_events
               WHERE fmt = 'nginx' GROUP BY status""")
    },

    Query("split_explode", Some(withCte(
        s"""SELECT conv_id, turn_idx, unnest(str_split(text, ',')) AS part
           FROM transcripts WHERE regexp_matches(text, '$csvRx')"""))) { (s, dir) =>
      val t = transcripts(s, dir)
        .filter(col("text").rlike("^[^,\"]+,\\d+,\"[^\"]*\",\\d+$"))
      ParseOps.SplitExplode("text", ",")(t)
        .select("conv_id", "turn_idx", "part")
    },

    Query("gotime_reformat", Some(withCte(
        """SELECT conv_id, turn_idx, strftime(ts, '%Y/%m/%d %H') AS t_fmt,
           cast(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM transcripts"""))) { (s, dir) =>
      FieldOps.TimeReformat("ts", "t_fmt", "yyyy/MM/dd HH",
        epochKey = Some("epoch_s"))(transcripts(s, dir))
        .select("conv_id", "turn_idx", "t_fmt", "epoch_s")
    },

    Query("metric_reshape", Some(withCte(
        """, kv AS (
             SELECT *, regexp_extract(text, 'status=([0-9]+)', 1) AS status,
               regexp_extract(text, 'latency_ms=([0-9]+)', 1) AS latency_ms
             FROM transcripts WHERE regexp_matches(text, '^tool=\S+ status=[0-9]+')),
           lab AS (
             SELECT *, array_to_string(list_sort(
               ['role#$#' || role, 'tool#$#' || tool]), '|') AS labels FROM kv)
           SELECT labels, 'status' AS name, status AS value, ts AS metric_ts FROM lab
           UNION ALL
           SELECT labels, 'latency_ms' AS name, latency_ms AS value, ts AS metric_ts FROM lab"""))) { (s, dir) =>
      val t = transcripts(s, dir).filter(col("text").rlike("^tool=\\S+ status=\\d+"))
      val parsed = ParseOps.KeyValueParser("text", " ", "=")
        .extract(t, Seq("status", "latency_ms"))
      FieldOps.LogToMetric(Seq("role", "tool"), Seq("status", "latency_ms"))(parsed)
        .select("labels", "name", "value", "metric_ts")
    },

    Query("drop_last_key", Some(withCte(
        """SELECT conv_id, turn_idx,
           CASE WHEN regexp_matches(text, '^tool=\S+ status=[0-9]+')
                THEN regexp_extract(text, 'status=([0-9]+)', 1) END AS status,
           CASE WHEN regexp_matches(text, '^tool=\S+ status=[0-9]+')
                THEN NULL ELSE text END AS text
           FROM transcripts"""))) { (s, dir) =>
      val t = transcripts(s, dir)
      val parsed = ParseOps.KeyValueParser("text", " ", "=")
        .extract(t.filter(col("text").rlike("^tool=\\S+ status=\\d+")), Seq("status"))
        .drop("kv")
        .unionByName(t.filter(!col("text").rlike("^tool=\\S+ status=\\d+"))
          .withColumn("status", lit(null).cast("string")))
      FieldOps.DropLastKey("text", Seq("status"))(parsed)
        .select("conv_id", "turn_idx", "status", "text")
    },

    Query("turn_order", Some(withCte(
        """SELECT conv_id,
           bit_xor(cast(('0x' || substr(md5(turn_idx || ':' || text), 1, 15)) AS BIGINT)) AS turn_chain,
           count(*) AS n_turns FROM transcripts GROUP BY conv_id"""))) { (s, dir) =>
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

    Query("window_counts", Some(withCte(
        """SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket, role,
           count(*) AS n FROM transcripts GROUP BY 1, 2"""))) { (s, dir) =>
      transcripts(s, dir)
        .groupBy(window(col("ts"), "5 minutes"), col("role"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("bucket"), col("role"), col("n"))
    },

    Query("base64_field", Some(withCte(
        """SELECT conv_id, turn_idx, base64(cast(text AS BLOB)) AS text_b64
           FROM transcripts"""))) { (s, dir) =>
      FieldOps.Base64Encode("text", "text_b64")(transcripts(s, dir))
        .select("conv_id", "turn_idx", "text_b64")
    },

    Query("appender_sortlabels", Some(withCte(
        """SELECT conv_id, turn_idx,
           array_to_string(list_sort(str_split(
             tool || '#$#t|' || role || '#$#r' || '|zz#$#9', '|')), '|') AS labels
           FROM transcripts"""))) { (s, dir) =>
      val t = transcripts(s, dir)
        .withColumn("labels",
          concat(col("tool"), lit("#$#t|"), col("role"), lit("#$#r")))
      FieldOps.Appender("labels", "|zz#$#9", sortLabels = true)(t)
        .select("conv_id", "turn_idx", "labels")
    },

    Query("encrypt_field", None) { (s, dir) => // rows-only: AES not available in DuckDB
      FieldOps.Encrypt("text", keyHex = "00112233445566778899aabbccddeeff",
        ivHex = "000102030405060708090a0b0c0d0e0f")(transcripts(s, dir))
        .select(col("conv_id"), col("turn_idx"), col("text").as("text_enc"))
    },

    Query("encrypt_roundtrip", Some(withCte(
        """SELECT conv_id, turn_idx, md5(text) AS rt_md5 FROM transcripts"""))) { (s, dir) =>
      // hash-verifiable encryption evidence: encrypt → decrypt → md5
      // must equal DuckDB's md5 of the plaintext
      val enc = FieldOps.Encrypt("text",
        keyHex = "00112233445566778899aabbccddeeff",
        ivHex = "000102030405060708090a0b0c0d0e0f")(transcripts(s, dir))
      FieldOps.Decrypt("text", keyHex = "00112233445566778899aabbccddeeff",
        destKey = Some("text_rt"))(enc)
        .select(col("conv_id"), col("turn_idx"),
          md5(col("text_rt").cast("binary")).as("rt_md5"))
    }
  )
}
