package graft.queries

import org.apache.spark.sql.functions._
import graft.ops._
import graft.oracle.TranscriptView.withCte
import Fixtures._

/** Text input formats (SURVEY §2.2 and the service inputs): container
  * stdout (CRI, docker json-file), Prometheus exposition text and
  * relabeling, syslog RFC 3164 / 5424 — each parsed from lines derived
  * deterministically from the transcript view, with the DuckDB SQL that
  * rebuilds the expected rows from the same source columns. */
object InputQueries {
  val all: Seq[Query] = Seq(
    // -- container stdout parse (§2.2; k8s CRI + docker json-file) ----------
    Query("container_cri", Some(withCte(
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
           FROM rec GROUP BY 1, 2"""))) { (s, dir) =>
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

    Query("container_docker", Some(withCte(
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
           FROM raw"""))) { (s, dir) =>
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
    // the prom fixture is deterministic in (turn_idx, tool, role), so the
    // oracle reconstructs the expected parse output directly from those
    // columns — an independent check of the regex/state-machine parse
    Query("prom_parse", Some(withCte(
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
           FROM prom WHERE m IN (0, 2, 3, 5, 6)"""))) { (s, dir) =>
      PromOps.TextParser("line", defaultTsSec = 86400L)(
        promFixture(transcripts(s, dir)))
        .select(col("conv_id"), col("turn_idx"), col("name"),
          promLabelsStr(col("labels")).as("labels_str"),
          col("value"), col("ts_sec"), col("ts_ns"))
    },

    Query("prom_relabel", Some(withCte(
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
           FROM h"""))) { (s, dir) =>
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
    // like the prom oracle: the fixture is deterministic in
    // (turn_idx, role, tool), so expected output is reconstructed from
    // those columns, independent of the parse regexes
    Query("syslog_3164", Some(withCte(
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
           FROM sys"""))) { (s, dir) =>
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

    Query("syslog_5424", Some(withCte(
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
           FROM sys"""))) { (s, dir) =>
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
    }
  )
}
