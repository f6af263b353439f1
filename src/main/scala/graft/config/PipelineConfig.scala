package graft.config

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._
import graft.ops._
import graft.pipeline.{CurationPipeline, TranscriptPipeline}
import graft.sink.{FanOutWriter, StageMetrics, TableIO}

/** Config-driven pipeline builder — the Spark analog of the reference's
  * pipeline-config surface (`Pipeline::Init`,
  * `core/pipeline/Pipeline.cpp:71-198`: a YAML/JSON plugin list builds
  * the processor line + router + flushers; plugin registry
  * `pkg/pipeline/processor.go` + per-plugin `init()` registration, e.g.
  * `plugins/processor/regex/regex.go:131`).
  *
  * A config is YAML or JSON:
  * {{{
  * processors:
  *   - type: parse_regex
  *     sourceKey: text
  *     regex: '(\\S+) (\\d+)'
  *     keys: [name, value]
  *   - type: dict_map
  *     sourceKey: role
  *     destKey: role_class
  *     dict: {user: human}
  * router:
  *   sourceKey: role
  *   rules: [{regex: assistant, sink: sink_llm}]
  *   default: sink_user
  * }}}
  *
  * Each processor entry resolves through [[registry]] to a
  * `DataFrame => DataFrame` stage built from the operator library — the
  * whole configured pipeline stays ONE declarative Catalyst plan
  * (config parsing happens at plan-build time, never per row). A parsed
  * [[Spec]] with a `sink:` section runs end to end through
  * [[graft.run.PipelineRunner.run]], the same runner as the built-in
  * [[graft.pipeline.TranscriptPipeline.spec]] and
  * [[graft.pipeline.CurationPipeline.spec]].
  */
object PipelineConfig {

  type Stage = DataFrame => DataFrame

  private def str(n: JsonNode, f: String): String = {
    require(n.hasNonNull(f), s"missing config field '$f'")
    n.get(f).asText
  }
  private def strOpt(n: JsonNode, f: String): Option[String] =
    if (n.hasNonNull(f)) Some(n.get(f).asText) else None
  private def strs(n: JsonNode, f: String): Seq[String] =
    if (n.hasNonNull(f)) n.get(f).elements.asScala.map(_.asText).toSeq else Nil
  private def strMap(n: JsonNode, f: String): Map[String, String] =
    if (n.hasNonNull(f))
      n.get(f).properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
    else Map.empty
  private def bool(n: JsonNode, f: String, dflt: Boolean): Boolean =
    if (n.hasNonNull(f)) n.get(f).asBoolean else dflt
  // asLong, not asInt: nanosecond epochs and hashmod moduli exceed
  // Int32 — asInt would silently truncate a valid config value
  private def dbl(n: JsonNode, f: String, dflt: Double): Double =
    if (n.hasNonNull(f)) n.get(f).asDouble else dflt
  private def lng(n: JsonNode, f: String, dflt: Long): Long =
    if (n.hasNonNull(f)) n.get(f).asLong else dflt
  private def int(n: JsonNode, f: String, dflt: Int): Int =
    if (n.hasNonNull(f)) n.get(f).asInt else dflt

  private def customSingle(n: JsonNode, flatten: Boolean): Stage =
    FlusherFormats.CustomSingleWriter(
      timeKey = str(n, "timeKey"),
      contentKeys = strs(n, "contentKeys"),
      tagCols = strs(n, "tagCols"),
      source = strOpt(n, "source").getOrElse(""),
      topic = strOpt(n, "topic").getOrElse(""),
      tags = strMap(n, "tags"),
      tagKeyRenameMap = strMap(n, "tagKeyRenameMap"),
      protocolKeyRenameMap = strMap(n, "protocolKeyRenameMap"),
      flatten = flatten,
      onlyContents = bool(n, "onlyContents", false),
      destKey = strOpt(n, "destKey").getOrElse("payload")).apply _

  /** Processor-type registry (SURVEY.md §2.12): name → stage factory. */
  val registry: Map[String, JsonNode => Stage] = Map(
    // the north-star multi-format parse (nginx/json/kv/csv/raw, `fmt`)
    "parse_transcript" -> { _ => TranscriptPipeline.parse _ },
    // the curation chain's stages (`doc_id` / `text` documents)
    "quality_gate" -> { _ => CurationPipeline.qualityGate _ },
    "exact_dedup" -> { _ => CurationPipeline.exactDedup _ },
    "near_dedup" -> { _ => CurationPipeline.nearDedup _ },
    "parse_regex" -> { n =>
      ParseOps.RegexParser(str(n, "sourceKey"), str(n, "regex"),
        strs(n, "keys"),
        ParserOptions(keepingSourceWhenParseFail =
          bool(n, "keepSourceWhenParseFail", true)))
        .apply _
    },
    "parse_json" -> { n =>
      ParseOps.JsonParser(str(n, "sourceKey"), strs(n, "keys")).apply _
    },
    "parse_delimiter" -> { n =>
      ParseOps.DelimiterParser(str(n, "sourceKey"), str(n, "separator"),
        strs(n, "keys"), quote = strOpt(n, "quote")).apply _
    },
    "parse_kv" -> { n =>
      val p = ParseOps.KeyValueParser(str(n, "sourceKey"),
        strOpt(n, "delimiter").getOrElse(" "),
        strOpt(n, "separator").getOrElse("="))
      val keys = strs(n, "keys")
      df => if (keys.nonEmpty) p.extract(df, keys) else p(df)
    },
    "parse_timestamp" -> { n =>
      ParseOps.TimestampParser(str(n, "sourceKey"), str(n, "format"),
        strOpt(n, "destKey").getOrElse("ts_parsed")).apply _
    },
    "grok" -> { n =>
      ParseOps.GrokParser(str(n, "sourceKey"), strs(n, "match")).apply _
    },
    "filter_include" -> { n => FilterOps.IncludeFilter(strMap(n, "include")).apply _ },
    "filter_exclude" -> { n => FilterOps.ExcludeFilter(strMap(n, "exclude")).apply _ },
    "add_fields" -> { n =>
      FieldOps.AddFields(strMap(n, "fields"),
        ignoreIfExist = bool(n, "ignoreIfExist", false)).apply _
    },
    "rename" -> { n => FieldOps.Rename(strMap(n, "mapping")).apply _ },
    "drop" -> { n => FieldOps.Drop(strs(n, "keys")).apply _ },
    "pick" -> { n =>
      FieldOps.PickKey(include = strs(n, "include"),
        exclude = strs(n, "exclude")).apply _
    },
    "dict_map" -> { n =>
      // DictFilePath wins over the inline dict when both are present
      // (processor_dict_map.go:69-74); MaxDictSize caps file entries
      val dict = strOpt(n, "dictFilePath") match {
        case Some(p) =>
          EnrichOps.DictMap.loadCsv(p, int(n, "maxDictSize", 1000))
        case None => strMap(n, "dict")
      }
      EnrichOps.DictMap(dict, str(n, "sourceKey"),
        str(n, "destKey"), handleMissing = n.hasNonNull("missing"),
        missing = strOpt(n, "missing").getOrElse("")).apply _
    },
    "cloud_meta" -> { n =>
      // constant metadata stamping (cloudmeta/tag-native shape)
      EnrichOps.StaticTags(strMap(n, "tags")).apply _
    },
    "range_lookup" -> { n =>
      // geoip-shaped broadcast range join: inline `ranges` rows
      // [{lo, hi, <string attrs>}] or a parquet `rangesPath` with the
      // same (lo, hi, attrs...) columns; attrs append to matched rows
      val keyCol = str(n, "sourceKey")
      val rangesPath = strOpt(n, "rangesPath")
      val inline = Option(n.get("ranges")).toSeq
        .flatMap(_.elements.asScala).map { r =>
        require(r.hasNonNull("lo") && r.hasNonNull("hi"),
          "range_lookup: every range entry needs 'lo' and 'hi'")
        (r.get("lo").asLong, r.get("hi").asLong,
          r.properties.asScala
            .filterNot(e => e.getKey == "lo" || e.getKey == "hi")
            .map(e => e.getKey -> e.getValue.asText).toMap)
      }
      // attr columns = UNION of keys over all rows, values bound by
      // key lookup (a row missing a key yields null) — positional
      // binding against the first row's keys would misassign values
      // for heterogeneous entries
      val attrCols = inline.flatMap(_._3.keys).distinct.sorted
      df => {
        val s = df.sparkSession
        import s.implicits._
        val ranges = rangesPath.map(s.read.parquet(_)).getOrElse {
          inline.map { case (lo, hi, attrs) =>
            (lo, hi, attrCols.map(attrs.get(_).orNull))
          }
            .toDF("lo", "hi", "__attrs__")
            .select(col("lo") +: col("hi") +: attrCols.zipWithIndex.map {
              case (a, i) => col("__attrs__")(i).as(a)
            }: _*)
        }
        EnrichOps.RangeLookup(ranges, keyCol)(df)
      }
    },
    "desensitize" -> { n =>
      FieldOps.Desensitize(str(n, "sourceKey"), str(n, "before"),
        str(n, "pattern")).apply _
    },
    "string_replace" -> { n =>
      FieldOps.StringReplace(str(n, "sourceKey"), str(n, "pattern"),
        str(n, "replacement"), destKey = strOpt(n, "destKey")).apply _
    },
    "base64_encode" -> { n =>
      FieldOps.Base64Encode(str(n, "sourceKey"), str(n, "destKey")).apply _
    },
    "base64_decode" -> { n =>
      FieldOps.Base64Decode(str(n, "sourceKey"), str(n, "destKey")).apply _
    },
    "md5" -> { n => FieldOps.Md5(str(n, "sourceKey"), str(n, "destKey")).apply _ },
    "pack_json" -> { n =>
      FieldOps.PackJson(strs(n, "sourceKeys"), str(n, "destKey")).apply _
    },
    "parse_apsara" -> { n => ParseOps.ApsaraParser(str(n, "sourceKey")).apply _ },
    "grok_custom" -> { n => // grok with a custom pattern dictionary
      ParseOps.GrokParser(str(n, "sourceKey"), strs(n, "match"),
        customPatterns = strMap(n, "customPatterns")).apply _
    },
    "json_expand" -> { n =>
      ParseOps.JsonExpand(str(n, "sourceKey"), depth = int(n, "depth", 2),
        connector = strOpt(n, "connector").getOrElse("_"),
        prefix = strOpt(n, "prefix").getOrElse(""),
        destKey = strOpt(n, "destKey").getOrElse("expanded"),
        expandArray = bool(n, "expandArray", false)).apply _
    },
    "split_explode" -> { n =>
      ParseOps.SplitExplode(str(n, "sourceKey"), str(n, "separator"),
        destKey = strOpt(n, "destKey").getOrElse("part")).apply _
    },
    "multiline" -> { n =>
      AggOps.MultilineMerge(
        startPattern = strOpt(n, "startPattern"),
        continuePattern = strOpt(n, "continuePattern"),
        endPattern = strOpt(n, "endPattern"),
        convCol = strOpt(n, "convCol").getOrElse("conv_id"),
        orderCol = strOpt(n, "orderCol").getOrElse("turn_idx"),
        textCol = strOpt(n, "textCol").getOrElse("text"),
        discardUnmatched = bool(n, "discardUnmatched", false)).apply _
    },
    "filter_key_regex" -> { n =>
      FilterOps.KeyRegexFilter(str(n, "mapCol"),
        include = strs(n, "include"), exclude = strs(n, "exclude")).apply _
    },
    "filter_expression" -> { n =>
      FilterOps.ExpressionFilter(parseCond(n.get("expr"))).apply _
    },
    "fields_with_condition" -> { n =>
      val cases = Option(n.get("cases")).toSeq.flatMap(_.elements.asScala).map { c =>
        val conds = Option(c.get("when")).toSeq.flatMap(_.elements.asScala).map { w =>
          val rel = strOpt(w, "op").getOrElse("equals") match {
            case "equals"    => FilterOps.Equals
            case "regexp"    => FilterOps.Regexp
            case "contains"  => FilterOps.Contains
            case "startwith" => FilterOps.StartWith
            case other => throw new IllegalArgumentException(s"op '$other'")
          }
          FilterOps.FieldCond(str(w, "key"), rel, str(w, "value"))
        }
        FilterOps.Case(conds, allMustMatch = bool(c, "all", true),
          strMap(c, "fields"))
      }
      FilterOps.FieldsWithCondition(cases,
        dropIfNotMatch = bool(n, "drop", false)).apply _
    },
    "rate_limit" -> { n =>
      FilterOps.RateLimit(strs(n, "fields"), limit = int(n, "limit", 1),
        tsCol = strOpt(n, "tsCol").getOrElse("ts"),
        bucket = strOpt(n, "bucket").getOrElse("1 second"),
        tieBreak = strs(n, "tieBreak")).apply _
    },
    "appender" -> { n =>
      FieldOps.Appender(str(n, "key"), str(n, "value"),
        sortLabels = bool(n, "sortLabels", false)).apply _
    },
    "anchor" -> { n =>
      FieldOps.Anchor(str(n, "sourceKey"), str(n, "start"), str(n, "stop"),
        str(n, "destKey"),
        fieldType = strOpt(n, "fieldType").getOrElse("string"),
        connector = strOpt(n, "connector").getOrElse("_"),
        expandDepth = int(n, "expandDepth", 2)).apply _
    },
    "gotime" -> { n =>
      FieldOps.TimeReformat(str(n, "sourceKey"), str(n, "destKey"),
        str(n, "format"), epochKey = strOpt(n, "epochKey")).apply _
    },
    "encrypt" -> { n =>
      FieldOps.Encrypt(str(n, "sourceKey"), str(n, "keyHex"),
        str(n, "ivHex")).apply _
    },
    "drop_last_key" -> { n =>
      FieldOps.DropLastKey(str(n, "dropKey"), strs(n, "includeKeys")).apply _
    },
    "log_to_metric" -> { n =>
      FieldOps.LogToMetric(strs(n, "labelKeys"), strs(n, "valueKeys"),
        tsKey = strOpt(n, "tsKey").getOrElse("ts")).apply _
    },
    "shardhash" -> { n =>
      val sh = GroupOps.ShardHash(strs(n, "keys"),
        int(n, "buckets", 32))
      df => df.withColumn(strOpt(n, "destKey").getOrElse("__bucket__"),
        sh.bucketColumn)
    },
    "content_value_group" -> { n =>
      GroupOps.ContentValueGroup(strs(n, "keys")).apply _
    },
    "parse_container_cri" -> { n =>
      ContainerOps.CriParser(strOpt(n, "sourceKey").getOrElse("text"),
        ignoringStdout = bool(n, "ignoringStdout", false),
        ignoringStderr = bool(n, "ignoringStderr", false),
        keepingSourceWhenParseFail = bool(n, "keepSourceOnFail", true)).apply _
    },
    "parse_container_docker" -> { n =>
      ContainerOps.DockerJsonParser(strOpt(n, "sourceKey").getOrElse("text"),
        ignoringStdout = bool(n, "ignoringStdout", false),
        ignoringStderr = bool(n, "ignoringStderr", false),
        keepingSourceWhenParseFail = bool(n, "keepSourceOnFail", true)).apply _
    },
    "parse_syslog" -> { n =>
      // the reference's ParseProtocol config (syslog.go); format names
      // follow parser.go's registry keys
      val fmt: SyslogOps.Format = strOpt(n, "format").getOrElse("auto") match {
        case "rfc5424" => SyslogOps.Rfc5424()
        case f @ ("rfc3164" | "auto") =>
          val h = bool(n, "hasHostname", true)
          val d = strOpt(n, "defaultHostname").getOrElse("")
          val y = int(n, "year", 2025)
          if (f == "rfc3164") SyslogOps.Rfc3164(h, d, y)
          else SyslogOps.Auto(h, d, y)
        case other =>
          throw new IllegalArgumentException(s"syslog format '$other'")
      }
      df => fmt(df, strOpt(n, "sourceKey").getOrElse("line"),
        bool(n, "ignoreParseFailure", true))
    },
    "prom_parse" -> { n =>
      PromOps.TextParser(strOpt(n, "sourceKey").getOrElse("text"),
        honorTimestamps = bool(n, "honorTimestamps", true),
        defaultTsSec = lng(n, "defaultTsSec", 0L)).apply _
    },
    "influx_parse" -> { n =>
      WireFormats.InfluxLineParser(strOpt(n, "sourceKey").getOrElse("line"),
        fieldsExtend = bool(n, "fieldsExtend", false),
        defaultTimeNano = lng(n, "defaultTimeNano", 0L)).apply _
    },
    "statsd_parse" -> { n =>
      WireFormats.StatsdParser(strOpt(n, "sourceKey").getOrElse("line")).apply _
    },
    "otlp_log_parse" -> { n =>
      WireFormats.OtlpLogParser(
        strOpt(n, "sourceKey").getOrElse("payload")).apply _
    },
    "otlp_metric_parse" -> { n =>
      OtlpOps.OtlpMetricParser(
        strOpt(n, "sourceKey").getOrElse("payload")).apply _
    },
    "otlp_trace_parse" -> { n =>
      OtlpOps.OtlpTraceParser(
        strOpt(n, "sourceKey").getOrElse("payload")).apply _
    },
    "raw_parse" -> { n =>
      BinaryDecoders.RawParser(strOpt(n, "sourceKey").getOrElse("payload"),
        strOpt(n, "destKey").getOrElse("content")).apply _
    },
    "remote_write_parse" -> { n =>
      BinaryDecoders.RemoteWriteParser(
        strOpt(n, "sourceKey").getOrElse("payload"),
        snappy = bool(n, "snappy", true)).apply _
    },
    "sls_pb_parse" -> { n =>
      BinaryDecoders.SlsPbParser(
        strOpt(n, "sourceKey").getOrElse("payload")).apply _
    },
    "otlp_log_pack" -> { n =>
      // flusher-side OTLP/JSON logs serialization (one payload/group)
      OtlpOps.OtlpLogWriter(
        timeKey = str(n, "timeKey"),
        orderKey = str(n, "orderKey"),
        groupKeys = strs(n, "groupKeys"),
        bodyKey = strOpt(n, "bodyKey").getOrElse("content"),
        levelKey = strOpt(n, "levelKey").getOrElse("level"),
        attrKeys = strs(n, "attrKeys"),
        tags = strMap(n, "tags")).apply _
    },
    "remote_write_pack" -> { n =>
      // flusher_prometheus serialization (≤SeriesLimit series/payload)
      BinaryDecoders.RemoteWriteWriter(
        nameKey = strOpt(n, "nameKey").getOrElse("__name__"),
        labelsKey = strOpt(n, "labelsKey").getOrElse("__labels__"),
        timeKey = strOpt(n, "timeKey").getOrElse("__time_nano__"),
        valueKey = strOpt(n, "valueKey").getOrElse("__value__"),
        seriesLimit = int(n, "seriesLimit", 1000),
        snappy = bool(n, "snappy", true)).apply _
    },
    "otlp_metric_pack" -> { n =>
      // flusher-side OTLP/JSON metrics serialization (one payload/group;
      // family picked per row by typeKey — ConvertPipelineEventToOtlpMetric)
      OtlpOps.OtlpMetricWriter(
        nameKey = str(n, "nameKey"),
        timeKey = str(n, "timeKey"),
        orderKey = str(n, "orderKey"),
        groupKeys = strs(n, "groupKeys"),
        typeKey = strOpt(n, "typeKey").getOrElse("metric_type"),
        valueKey = strOpt(n, "valueKey").getOrElse("value"),
        attrKeys = strs(n, "attrKeys"),
        tags = strMap(n, "tags")).apply _
    },
    "otlp_trace_pack" -> { n =>
      // flusher-side OTLP/JSON traces serialization (one payload/group —
      // ConvertPipelineEventToOtlpSpan)
      OtlpOps.OtlpTraceWriter(
        nameKey = str(n, "nameKey"),
        orderKey = str(n, "orderKey"),
        groupKeys = strs(n, "groupKeys"),
        traceIdKey = strOpt(n, "traceIdKey").getOrElse("trace_id"),
        spanIdKey = strOpt(n, "spanIdKey").getOrElse("span_id"),
        kindKey = strOpt(n, "kindKey").getOrElse("kind"),
        startKey = strOpt(n, "startKey").getOrElse("start_nano"),
        endKey = strOpt(n, "endKey").getOrElse("end_nano"),
        scopeName = strOpt(n, "scopeName").getOrElse(""),
        scopeVersion = strOpt(n, "scopeVersion").getOrElse(""),
        attrKeys = strs(n, "attrKeys"),
        tags = strMap(n, "tags")).apply _
    },
    "sls_pb_pack" -> { n =>
      // flusher-side LogGroup packing (FlusherSLS batch caps)
      BinaryDecoders.SlsPbWriter(
        timeKey = str(n, "timeKey"),
        contentKeys = strs(n, "contentKeys"),
        topic = strOpt(n, "topic").getOrElse(""),
        source = strOpt(n, "source").getOrElse(""),
        tags = strMap(n, "tags").toSeq.sortBy(_._1),
        maxLogs = int(n, "maxLogs", 4000),
        maxBytes = int(n, "maxBytes", 10 << 20)).apply _
    },
    "custom_single_pack" -> { n =>
      // flusher serialization: custom_single / custom_single_flatten
      // JSON (pkg/protocol/converter/{custom_single_log,
      // converter_single_log_flatten}.go)
      customSingle(n, bool(n, "flatten", false))
    },
    "jsonline_pack" -> { n =>
      // jsonline = the flatten JSON shape; the text sink's one-per-line
      // write IS the newline join (pkg/protocol/converter/jsonline.go)
      customSingle(n, flatten = true)
    },
    "influx_pack" -> { n =>
      // flusher serialization: influx line protocol over metric-log
      // rows (pkg/protocol/converter/influxdb_metric.go)
      FlusherFormats.InfluxLineWriter(
        nameKey = strOpt(n, "nameKey").getOrElse("__name__"),
        labelsKey = strOpt(n, "labelsKey").getOrElse("__labels__"),
        valueKey = strOpt(n, "valueKey").getOrElse("__value__"),
        timeKey = strOpt(n, "timeKey").getOrElse("__time_nano__"),
        typeKey = strOpt(n, "typeKey").getOrElse("__type__"),
        fieldKey = strOpt(n, "fieldKey").getOrElse("__field__"),
        destKey = strOpt(n, "destKey").getOrElse("line")).apply _
    },
    "pyroscope_groups_parse" -> { n =>
      PyroscopeOps.GroupsParser(
        bodyKey = strOpt(n, "sourceKey").getOrElse("body"),
        nameKey = strOpt(n, "nameKey").getOrElse("name"),
        tags = strMap(n, "tags")).apply _
    },
    "pprof_parse" -> { n =>
      // pyroscope pprof body decode (gzipped profile.proto)
      PprofOps.PprofParser(
        sourceKey = strOpt(n, "sourceKey").getOrElse("payload"),
        nameKey = strOpt(n, "nameKey").getOrElse("name"),
        tags = strMap(n, "tags")).apply _
    },
    // -- deterministic sampling / mixing (training-data curation) ----------
    "sample_hash" -> { n =>
      SampleOps.HashSample(str(n, "keyField"), dbl(n, "rate", 1.0),
        salt = int(n, "salt", 0),
        portable = bool(n, "portable", true)).apply _
    },
    "sample_stratified" -> { n =>
      val rates = Option(n.get("rates")).map(_.fields.asScala
        .map(e => e.getKey -> e.getValue.asDouble).toMap)
        .getOrElse(Map.empty[String, Double])
      SampleOps.StratifiedSample(str(n, "stratumField"), str(n, "keyField"),
        rates, defaultRate = dbl(n, "defaultRate", 1.0),
        salt = int(n, "salt", 0),
        portable = bool(n, "portable", true)).apply _
    },
    "sample_weighted" -> { n =>
      SampleOps.WeightedRepeat(str(n, "keyField"),
        weight = col(str(n, "weightField")),
        salt = int(n, "salt", 0),
        portable = bool(n, "portable", true)).apply _
    },
    "decontaminate" -> { n =>
      // benchmark = inline `probes` strings (eval items, like dict_map's
      // inline dict) or a parquet `benchPath` with (bench_id, text)
      val probes = Option(n.get("probes")).toSeq
        .flatMap(_.elements.asScala).map(_.asText)
      val benchPath = strOpt(n, "benchPath")
      val op = DedupOps.Decontaminate(int(n, "n", 8),
        int(n, "minOverlap", 1),
        strOpt(n, "idField").getOrElse("doc_id"),
        strOpt(n, "textField").getOrElse("text"))
      df => {
        val s = df.sparkSession
        import s.implicits._
        val bench = benchPath.map(s.read.parquet(_)).getOrElse(
          probes.zipWithIndex.map { case (t, i) => (i.toLong, t) }
            .toDF("bench_id", "text"))
        op.survivors(df, bench)
      }
    },
    "paragraph_dedup" -> { n =>
      DedupOps.ParagraphDedup(strOpt(n, "delim").getOrElse("\n\n"),
        int(n, "minChars", 1),
        strOpt(n, "idField").getOrElse("doc_id"),
        strOpt(n, "textField").getOrElse("text")).apply _
    },
    "prom_relabel" -> { n =>
      val rules = Option(n.get("rules")).toSeq.flatMap(_.elements.asScala)
        .map { r =>
          PromOps.RelabelRule(str(r, "action"),
            sourceLabels = strs(r, "sourceLabels"),
            separator = strOpt(r, "separator").getOrElse(";"),
            targetLabel = strOpt(r, "targetLabel").getOrElse(""),
            regex = strOpt(r, "regex").getOrElse("(.*)"),
            replacement = strOpt(r, "replacement").getOrElse("$1"),
            modulus = lng(r, "modulus", 0L),
            matchList = strs(r, "matchList").toSet)
        }
      PromOps.Relabel(rules.toSeq).apply _
    })

  /** Recursive EXPRESSION_MODE condition tree from config:
    * `{key, regex}` leaf | `{and: [...]}` | `{or: [...]}` | `{not: {}}`. */
  private def parseCond(n: JsonNode): FilterOps.Cond = {
    require(n != null, "filter_expression needs an 'expr' node")
    if (n.hasNonNull("and"))
      FilterOps.And(n.get("and").elements.asScala.map(parseCond).toSeq)
    else if (n.hasNonNull("or"))
      FilterOps.Or(n.get("or").elements.asScala.map(parseCond).toSeq)
    else if (n.hasNonNull("not")) FilterOps.Not(parseCond(n.get("not")))
    else FilterOps.KeyRegex(str(n, "key"), str(n, "regex"))
  }

  /** `sink:` section — drives the resumable fan-out writer (the
    * config-surface analog of the reference's flushers list). */
  final case class SinkSpec(
      table: String,
      numBuckets: Int,
      bucketKeys: Seq[String],
      aggBucket: Option[String])

  final case class Spec(processors: Seq[Stage],
      router: Option[RouteOps.LogstoreRouter],
      multicast: Option[RouteOps.MulticastRouter] = None,
      sink: Option[SinkSpec] = None,
      // dynamic sink naming (flusher_kafka `Topic: "logs_%{content.x}"`)
      topic: Option[RouteOps.TopicTemplate] = None,
      // per-stage metadata for self-monitor counters (parallel to
      // `processors` when built by parse(); empty for hand-built specs)
      stageInfo: Seq[StageMetrics.StageInfo] = Nil) {
    /** The composed pipeline: processor line, then routing column. */
    def apply(df: DataFrame): DataFrame =
      route(processors.foldLeft(df)((d, s) => s(d)))

    private def route(processed: DataFrame): DataFrame = {
      val routed = router.fold(processed)(r => r(processed))
      val cast = multicast.fold(routed)(m => m.explodeSinks(routed))
      topic.fold(cast)(t => t(cast))
    }

    private def infos: Seq[StageMetrics.StageInfo] =
      if (stageInfo.size == processors.size) stageInfo
      else processors.map(_ => StageMetrics.StageInfo("stage"))

    /** The processor line instrumented with the reference's per-plugin
      * self-monitor counters (in/out/discarded, parse success/fail) —
      * [[StageMetrics]]. Run one action on the returned frame, then
      * read `.counters`. Routing is NOT applied here. */
    def applyObserved(df: DataFrame): StageMetrics.Observed =
      StageMetrics.instrument(df, infos.zip(processors))

    /** The complete routed-sink set, declared statically by the router
      * rules and multicast conditions, so the fan-out writer enumerates
      * its (sink, bucket) partitions with no data scan. Empty under a
      * dynamic topic template: that sink set is data-dependent, and the
      * writer's distinct() fallback discovers it (the reference likewise
      * cannot enumerate dynamic kafka topics ahead of the data). */
    def declaredSinks: Seq[String] =
      if (topic.nonEmpty) Nil
      else (router.toSeq.flatMap(r => r.rules.map(_.sink) :+ r.defaultSink)
        ++ multicast.toSeq.flatMap(_.conditions.map(_._1))).distinct

    /** The resumable fan-out writer the `sink` section describes (its
      * table, bucket keys and count) over [[declaredSinks]] — the one
      * writer the batch and streaming runners use. */
    def writer(io: TableIO): FanOutWriter = {
      val s = sink.getOrElse(throw new IllegalArgumentException(
        "pipeline spec has no 'sink' section"))
      FanOutWriter(io, table = s.table, numBuckets = s.numBuckets,
        bucketKeys = s.bucketKeys, sinks = declaredSinks)
    }
  }

  def parse(text: String): Spec = {
    val mapper =
      if (text.trim.startsWith("{")) new ObjectMapper()
      else new ObjectMapper(new YAMLFactory())
    val root = mapper.readTree(text)
    val stageDefs = Option(root.get("processors")).toSeq
      .flatMap(_.elements.asScala).map { p =>
        val kind = str(p, "type")
        val stage = registry.getOrElse(kind,
          throw new IllegalArgumentException(s"unknown processor type '$kind'"))
          .apply(p)
        // parse stages: success ⇔ the first declared output key was
        // extracted (exact for regex/delimiter/grok — a match fills
        // every key; a proxy for free-schema json/kv, where the key may
        // also be genuinely absent from a parsed document). Grok
        // declares its keys inside the match expression, so the first
        // alias comes from compiling it.
        val successKey = kind match {
          case "parse_regex" | "parse_json" | "parse_delimiter" |
               "parse_kv" =>
            strs(p, "keys").headOption
          case "grok" | "grok_custom" =>
            strs(p, "match").headOption.flatMap(m =>
              graft.functions.Grok
                .compile(m, strMap(p, "customPatterns"))._2.headOption)
          case _ => None
        }
        (StageMetrics.StageInfo(kind, successKey), stage)
      }
    val stages = stageDefs.map(_._2)
    val router = Option(root.get("router")).filter(_.hasNonNull("sourceKey"))
      .map { r =>
        val rules = Option(r.get("rules")).toSeq.flatMap(_.elements.asScala)
          .map(x => RouteOps.Rule(str(x, "regex"), str(x, "sink")))
        RouteOps.LogstoreRouter(str(r, "sourceKey"), rules,
          defaultSink = strOpt(r, "default").getOrElse("default"),
          dropDisMatch = bool(r, "dropDisMatch", false))
      }
    // multicast router: every matching condition's sink gets a copy
    // (C++ Router::Route parity); conditions are anchored key-regexes
    val multicast = Option(root.get("multicast")).map { m =>
      val conds: Seq[(String, Column)] =
        Option(m.get("conditions")).toSeq.flatMap(_.elements.asScala).map { x =>
          val c = col(str(x, "key"))
          str(x, "sink") -> (c.isNotNull &&
            c.rlike(s"^(?:${str(x, "regex")})$$"))
        }
      val dropTags = Option(m.get("dropTags")).map(d =>
        d.properties.asScala.map(e =>
          e.getKey -> e.getValue.elements.asScala.map(_.asText).toSeq).toMap)
        .getOrElse(Map.empty[String, Seq[String]])
      RouteOps.MulticastRouter(conds, dropTags)
    }
    val sink = Option(root.get("sink")).map { s =>
      SinkSpec(
        table = strOpt(s, "table").getOrElse("events_routed"),
        numBuckets = int(s, "numBuckets", 32),
        bucketKeys = Option(strs(s, "bucketKeys")).filter(_.nonEmpty)
          .getOrElse(Seq("conv_id")),
        aggBucket = strOpt(s, "aggBucket"))
    }
    // one routing model per pipeline, as in the reference (a pipeline
    // has EITHER the Go first-match aggregator router OR the C++
    // multicast router): stacking them would have multicast overwrite
    // the router's __sink__ column and silently drop its routing
    require(router.isEmpty || multicast.isEmpty,
      "config may declare 'router' or 'multicast', not both")
    // sink.topic: dynamic-topic template string (kafka flusher parity);
    // it OWNS the __sink__ column, so it excludes the static routers
    val topic = Option(root.get("sink"))
      .flatMap(s => strOpt(s, "topic"))
      .map(RouteOps.TopicTemplate(_))
    require(topic.isEmpty || (router.isEmpty && multicast.isEmpty),
      "a dynamic sink 'topic' template cannot be combined with " +
        "'router'/'multicast' (both write the routing column)")
    Spec(stages, router, multicast, sink, topic,
      stageInfo = stageDefs.map(_._1))
  }
}
