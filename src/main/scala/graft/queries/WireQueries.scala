package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops._
import graft.oracle.TranscriptView.withCte
import Fixtures._

/** Wire formats (SURVEY §2 http service inputs and flushers): influx,
  * statsd, OTLP logs/metrics/traces, remote-write, SLS LogGroup,
  * pyroscope and pprof decoders, and the flusher encoders checked by
  * encode → decode round trips, each with its DuckDB SQL. */
object WireQueries {
  val all: Seq[Query] = Seq(
    // -- wire-format metric decoders (§2 http service input formats) ---------
    Query("influx_parse", Some(withCte(
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
             'svc#$#s ' || role, 5, 'string', 'msg' FROM base WHERE m = 2"""))) { (s, dir) =>
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

    // expected rows derived from the fixture's SOURCE columns (role /
    // tool / turn_idx), not by re-parsing the JSON in DuckDB — an
    // independent cross-check of the whole decode path
    Query("otlp_logs_parse", Some(withCte(
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
           FROM base"""))) { (s, dir) =>
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

    Query("otlp_metrics_parse", Some(withCte(
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
             'desc-' || tool FROM hl"""))) { (s, dir) =>
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

    Query("otlp_traces_parse", Some(withCte(
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
           FROM tb"""))) { (s, dir) =>
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
    Query("remote_write_parse", Some(
        """WITH t AS (SELECT unnest(range(0, 48)) AS i)
           SELECT i AS pid, 'rw_metric_' || (i % 3) AS "__name__",
             'instance#$#inst-' || i || '|job#$#job-' || (i % 5) AS "__labels__",
             (1663904182000 + i) * 1000000 AS "__time_nano__",
             i || '.5' AS "__value__" FROM t
           UNION ALL
           SELECT i, 'rw_metric_' || (i % 3),
             'instance#$#inst-' || i || '|job#$#job-' || (i % 5),
             (1663904183000 + i) * 1000000, cast(i * 2 AS VARCHAR) FROM t""")) { (s, dir) =>
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

    // encode → decode = identity over the same transcript-derived
    // metric rows (the sls_pb_roundtrip pattern)
    Query("remote_write_roundtrip", Some(withCte(
        """, r AS (
             SELECT 'turn_metric_' || mod(turn_idx, 3) AS n,
               'conv#$#' || conv_id || '|role#$#' || role AS l,
               cast(floor(epoch(ts)) AS BIGINT) * 1000000000 AS tn,
               turn_idx || '.5' AS v
             FROM transcripts)
           SELECT n AS "__name__", l AS "__labels__",
             tn AS "__time_nano__", v AS "__value__" FROM r"""))) { (s, dir) =>
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

    Query("sls_pb_parse", Some(
        """WITH t AS (SELECT unnest(range(0, 48)) AS i)
           SELECT i AS pid, 1663904182 + i AS log_time,
             'content=line-' || i || ',level=' ||
               (CASE WHEN i % 2 = 0 THEN 'info' ELSE 'warn' END) AS contents_str,
             't-' || (i % 2) AS topic, '10.0.0.' || i AS source,
             'host=h' || i AS tags_str FROM t
           UNION ALL
           SELECT i, 1663904183 + i, 'content=next-' || i,
             't-' || (i % 2), '10.0.0.' || i, 'host=h' || i FROM t""")) { (s, dir) =>
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

    // pack → decode = identity; the decoder renders attributes and
    // resources as key-sorted JSON objects of quoted strings
    Query("otlp_logs_roundtrip", Some(withCte(
        """, r AS (
             SELECT conv_id, turn_idx, role, text, tool,
               cast(floor(epoch(ts)) AS BIGINT) * 1000000000 AS tn
             FROM transcripts)
           SELECT tn AS time_unix_nano, role AS severity_text,
             text AS content,
             '{"tool":"' || tool || '","turn_idx":"' || turn_idx || '"}'
               AS attributes,
             '{"conv_id":"' || conv_id || '","source":"graft"}' AS resources
           FROM r"""))) { (s, dir) =>
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

    // the packed-then-decoded row set equals the source rows: the
    // oracle is the identity projection over the same transcript view
    Query("sls_pb_roundtrip", Some(withCte(
        """, r AS (
             SELECT conv_id, cast(turn_idx AS INT) AS turn_idx, role, text,
               cast(floor(epoch(ts)) AS BIGINT) AS log_time
             FROM transcripts)
           SELECT log_time, 'transcripts' AS topic, 'graft' AS source,
             conv_id, turn_idx, role, text FROM r"""))) { (s, dir) =>
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

    // line-protocol encode → decode = identity over the same
    // transcript-derived metric rows
    Query("influx_roundtrip", Some(withCte(
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
           FROM r"""))) { (s, dir) =>
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

    // the converter's sorted-key JSON objects, rebuilt directly from
    // the same transcript columns
    Query("custom_single_encode", Some(withCte(
        """SELECT conv_id, turn_idx,
             '{"contents":{"role":"' || role || '","tool":"' || tool ||
             '"},"tags":{"conv_id":"' || conv_id ||
             '","host.ip":"10.0.0.1","host.name":"graft-host",' ||
             '"log.topic":"transcripts"},"time":' ||
             cast(floor(epoch(ts)) AS BIGINT) || '}' AS payload
           FROM transcripts"""))) { (s, dir) =>
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

    Query("custom_flatten_encode", Some(withCte(
        """SELECT conv_id, turn_idx,
             '{"conv_id":"' || conv_id || '","host.ip":"10.0.0.1",' ||
             '"role":"' || role || '","time":' ||
             cast(floor(epoch(ts)) AS BIGINT) ||
             ',"tool":"' || tool || '"}' AS payload
           FROM transcripts"""))) { (s, dir) =>
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

    // encode → decode = the reference's metric-log rows for the same
    // transcript-derived metric events (labels key-sorted k#$#v|…;
    // counter adds the Delta-temporality/ismonotonic labels)
    Query("otlp_metrics_roundtrip", Some(withCte(
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
             tn, '1.5' FROM mb WHERE m3 = 2"""))) { (s, dir) =>
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

    // encode → decode = the reference's span-log field set for the
    // same transcript-derived spans (μs times, name-mapped kind and
    // status, key-sorted events/links JSON, host/service shortcuts)
    Query("otlp_traces_roundtrip", Some(withCte(
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
           FROM tb"""))) { (s, dir) =>
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

    // expected rows derived from the fixture's SOURCE columns — an
    // independent cross-check of the groups-format decode path
    Query("pyroscope_groups_parse", Some(withCte(
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
             lbl, printf('%.2f', cast(3 * fac AS DOUBLE)) FROM b"""))) { (s, dir) =>
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

    // expected rows recomputed from the same integer range the Spark
    // side built its protobuf payloads from (remote_write pattern):
    // 4 rows per payload — {alpha-stack, gamma-stack} × {samples
    // (scaled to ns, summed across same-stack samples), inuse_space}
    Query("pprof_parse", Some(
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
             lbl_span, printf('%.2f', cast(i + 2 AS DOUBLE)) FROM f""")) { (s, dir) =>
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

    Query("statsd_parse", Some(withCte(
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
             'c', 1.0, '', 0 FROM base WHERE m = 1"""))) { (s, dir) =>
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
    }
  )
}
