package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Grok

/** Parsers — the projection-producing processors of the reference
  * (SURVEY.md §2.2), each a pure-Catalyst `DataFrame => DataFrame`.
  * No UDFs anywhere: every extraction is `regexp_extract` / `rlike` /
  * `get_json_object` / `from_csv` / `str_to_map` / `to_timestamp`, all
  * codegen'd by Tungsten and safe at 10^12-row scale.
  */
object ParseOps {

  /** Full-line regex parse.
    *
    * Reference: `core/plugin/processor/ProcessorParseRegexNative.cpp`
    * — boost full match (`:187`) of `sourceKey` against `regex`, capture
    * group i → `keys(i-1)` (`:239-241`), whole-line fast path when the
    * regex is `(.*)` (`:63,163-167`), failure counters + keep/drop per
    * CommonParserOptions (`:146-158`).
    */
  final case class RegexParser(
      sourceKey: String,
      regex: String,
      keys: Seq[String],
      opts: ParserOptions = ParserOptions()) {

    def apply(df: DataFrame): DataFrame = {
      val src = col(sourceKey)
      if (regex == "(.*)") {
        // Whole-line fast path: single key takes the full value.
        opts.finish(df, sourceKey, src.isNotNull, Seq(keys.head -> src))
      } else {
        val anchored = s"^(?:$regex)$$"
        val ok = src.isNotNull && src.rlike(anchored)
        if (keys.size <= 2) {
          val fields = keys.zipWithIndex.map { case (k, i) =>
            k -> regexp_extract(src, anchored, i + 1)
          }
          opts.finish(df, sourceKey, ok, fields)
        } else {
          // Single-match extraction (Cols.packGroups): 2 regex
          // executions instead of keys.size+1.
          val packed = graft.functions.Cols.packGroups(src, anchored, keys.size)
          val arrCol = "__rx_groups__"
          val d = df.withColumn(arrCol, when(ok, packed))
          val fields = keys.zipWithIndex.map { case (k, i) =>
            k -> element_at(col(arrCol), i + 1)
          }
          opts.finish(d, sourceKey, ok, fields).drop(arrCol)
        }
      }
    }
  }

  /** JSON expand of one field into string-typed keys.
    *
    * Reference: `core/plugin/processor/ProcessorParseJsonNative.cpp`
    * — top-level object only (`:164-177`), every member stringified
    * (nested objects re-serialized compactly, `:30-52`).
    *
    * `get_json_object` reproduces exactly that: scalars come back as
    * their literal text, nested objects/arrays as compact JSON — and it
    * is codegen'd. `expandKeys` is the expected key list (schema-on-read;
    * the reference discovers keys per-row, which a columnar engine
    * deliberately fixes at plan time — unknown remainder available via
    * [[JsonMapParser]]).
    */
  final case class JsonParser(
      sourceKey: String,
      expandKeys: Seq[String],
      opts: ParserOptions = ParserOptions()) {
    def apply(df: DataFrame): DataFrame = {
      val src = col(sourceKey)
      // Valid top-level JSON object: starts with '{' and parses.
      val ok = src.isNotNull &&
        get_json_object(src, "$").isNotNull &&
        src.rlike("^\\s*\\{")
      val fields = expandKeys.map { k =>
        k -> get_json_object(src, s"$$['$k']")
      }
      opts.finish(df, sourceKey, ok, fields)
    }
  }

  /** Schema-free JSON → `MapType(String,String)` column (v2 semantics,
    * `pkg/models/logs.go:19` KeyValues). Nested values are NOT
    * re-stringified by from_json map conversion, so this is only for flat
    * objects; use [[JsonParser]] for parity-critical paths. */
  final case class JsonMapParser(
      sourceKey: String,
      destKey: String = "fields") {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(destKey,
        from_json(col(sourceKey), MapType(StringType, StringType)))
  }

  /** Delimiter/CSV parse.
    *
    * Reference: `core/plugin/processor/ProcessorParseDelimiterNative.cpp`
    * — single/multi-char separator (`:46-70`), quoted-field FSM
    * (`:96-109,249`), `AllowingShortenedFields`, extra columns named
    * `__column{N}__` (`:333`).
    *
    * Quote mode uses `from_csv` (Univocity, RFC-4180); plain mode uses
    * `split` + `element_at` (codegen'd). `extraKeys` pre-declares how many
    * overflow columns to surface (columnar engines need a fixed schema).
    */
  final case class DelimiterParser(
      sourceKey: String,
      separator: String,
      keys: Seq[String],
      quote: Option[String] = None,
      allowShortenedFields: Boolean = false,
      extraColumns: Int = 0,
      opts: ParserOptions = ParserOptions()) {

    def apply(df: DataFrame): DataFrame = {
      val src = col(sourceKey)
      val parts: Column = quote match {
        case Some(q) =>
          val schema = StructType(
            (0 until keys.size + extraColumns).map(i => StructField(s"_c$i", StringType)))
          val parsed = from_csv(src, schema,
            Map("sep" -> separator, "quote" -> q, "mode" -> "PERMISSIVE"))
          array((0 until keys.size + extraColumns).map(i => parsed.getField(s"_c$i")): _*)
        case None =>
          split(src, java.util.regex.Pattern.quote(separator), -1)
      }
      val partsCol = "__parts__"
      val d0 = df.withColumn(partsCol, parts)
      val n = size(col(partsCol))
      val ok = src.isNotNull &&
        (if (allowShortenedFields) n >= 1 else n >= keys.size)
      val named = keys.zipWithIndex.map { case (k, i) =>
        k -> try_element_at(col(partsCol), lit(i + 1))
      }
      val extras = (0 until extraColumns).map { j =>
        s"__column${keys.size + j}__" -> try_element_at(col(partsCol), lit(keys.size + j + 1))
      }
      opts.finish(d0, sourceKey, ok, named ++ extras).drop(partsCol)
    }
  }

  /** Key=value pair splitting.
    *
    * Reference: `plugins/processor/split/keyvalue/key_value_splitter.go:26-43`
    * — `Delimiter` between pairs, `Separator` between key and value,
    * quoted values. Parsed into one `MapType` column via `str_to_map`
    * (codegen'd); project pairs out with [[extract]].
    */
  /** `str_to_map` with LAST-wins duplicate-key semantics (the Go
    * splitter's `map[key]=value` behavior) — Spark 4's default map
    * policy THROWS on duplicate keys, which would make the parser
    * non-total over arbitrary input. */
  def strToMapLastWin(src: Column, delimiter: String,
      separator: String): Column = {
    val parts = split(src, java.util.regex.Pattern.quote(delimiter), -1)
    val sepLoc = (p: Column) => instr(p, separator)
    val entries = transform(parts, p => struct(
      when(sepLoc(p) > 0, p.substr(lit(1), sepLoc(p) - 1)).otherwise(p).as("key"),
      when(sepLoc(p) > 0, p.substr(sepLoc(p) + separator.length, length(p)))
        .as("value")))
    // keep an entry only if no LATER entry shares its key (last wins)
    val deduped = filter(entries, (e, i) =>
      !exists(slice(entries, i + 2, size(entries)),
        p => p.getField("key") <=> e.getField("key")))
    map_from_entries(deduped)
  }

  final case class KeyValueParser(
      sourceKey: String,
      delimiter: String = "\t",
      separator: String = ":",
      destKey: String = "kv") {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(destKey,
        strToMapLastWin(col(sourceKey), delimiter, separator))

    /** Surface selected keys as typed string columns. */
    def extract(df: DataFrame, keys: Seq[String]): DataFrame =
      keys.foldLeft(apply(df)) { (d, k) =>
        d.withColumn(k, try_element_at(col(destKey), lit(k)))
      }
  }

  /** Apsara log format parse:
    * `[2024-01-01 12:00:00.123456]\t[LEVEL]\t[thread]\t[file:line]\tk:v\tk:v`.
    *
    * Reference: `core/plugin/processor/ProcessorParseApsaraNative.cpp`
    * — base fields `__LEVEL__/__THREAD__/__FILE__/__LINE__` (`:31-34`),
    * `microtime` (`:229`), k:v tail (`ParseApsaraBaseFields`, `:430`).
    */
  final case class ApsaraParser(
      sourceKey: String,
      opts: ParserOptions = ParserOptions()) {
    private val rx =
      "^\\[([^\\]]+)\\]\\t\\[(\\w+)\\]\\t\\[(\\d+)\\]\\t\\[([^:\\]]+):(\\d+)\\](.*)$"
    def apply(df: DataFrame): DataFrame = {
      val src = col(sourceKey)
      val ok = src.isNotNull && src.rlike(rx)
      val tail = regexp_extract(src, rx, 6)
      val fields = Seq(
        "time" -> regexp_extract(src, rx, 1),
        "__LEVEL__" -> regexp_extract(src, rx, 2),
        "__THREAD__" -> regexp_extract(src, rx, 3),
        "__FILE__" -> regexp_extract(src, rx, 4),
        "__LINE__" -> regexp_extract(src, rx, 5),
        // try_to_timestamp: a line can match the shape with a
        // nonsense time ("[notatime]\t[INFO]\t…") — parser totality
        // demands null, not an ANSI parse exception
        "microtime" -> unix_micros(try_to_timestamp(
          regexp_extract(src, rx, 1),
          lit("yyyy-MM-dd HH:mm:ss.SSSSSS"))).cast(StringType),
        "apsara_kv" -> strToMapLastWin(regexp_replace(tail, "^\\t", ""), "\t", ":"))
      opts.finish(df, sourceKey, ok, fields)
    }
  }

  /** Timestamp parse of a string field into the event time.
    *
    * Reference: `core/plugin/processor/ProcessorParseTimestampNative.cpp`
    * — strptime with `SourceFormat`, `SourceTimezone`; content kept.
    * `format` uses Spark datetime patterns (strptime equivalents).
    */
  final case class TimestampParser(
      sourceKey: String,
      format: String,
      destKey: String = "ts",
      timezone: Option[String] = None) {
    def apply(df: DataFrame): DataFrame = {
      val parsed = try_to_timestamp(col(sourceKey), lit(format))
      val adjusted = timezone match {
        case Some(tz) => to_utc_timestamp(parsed, tz)
        case None     => parsed
      }
      df.withColumn(destKey, adjusted)
    }
  }

  /** Grok parse: the named-pattern dictionary is expanded to a plain Java
    * regex at plan-build time (reference compiles at Init:
    * `plugins/processor/grok/processor_grok.go:48-65`), then the standard
    * regex path applies — runtime stays UDF-free and codegen'd.
    * `matchPatterns` are tried in order, first match wins
    * (`processGrok`, processor_grok.go:135-140).
    */
  final case class GrokParser(
      sourceKey: String,
      matchPatterns: Seq[String],
      customPatterns: Map[String, String] = Map.empty,
      opts: ParserOptions = ParserOptions()) {

    private val compiled: Seq[(String, Seq[(String, Option[String], Int)])] =
      matchPatterns.map(p => Grok.compileIndexed(p, customPatterns))

    /** Alias type-cast suffix → Spark type (`processor_grok.go:49`).
      * try_cast: an unparseable value nulls instead of failing the job
      * under ANSI mode. */
    private def castTo(c: Column, t: String): Column = t match {
      case "int" | "long" => c.try_cast("long")
      case "float" | "double" => c.try_cast("double")
      case "bool" | "boolean" => c.try_cast("boolean")
      case "string" => c
      case other => throw new IllegalArgumentException(s"grok cast '$other'")
    }

    def apply(df: DataFrame): DataFrame = {
      val src = col(sourceKey)
      // First-match-wins across alternatives: each key's value comes from
      // the first alternative whose regex matches the line.
      val ok = compiled.map { case (rx, _) => src.rlike(rx) }
        .reduce(_ || _) && src.isNotNull
      val allKeys = compiled.flatMap(_._2.map(_._1)).distinct
      val keyType: Map[String, Option[String]] =
        compiled.flatMap(_._2).groupBy(_._1).view
          .mapValues(_.flatMap(_._2).headOption).toMap
      val fields = allKeys.map { k =>
        val alternatives = compiled.flatMap { case (rx, keys) =>
          keys.find(_._1 == k).map { case (_, _, idx) =>
            when(src.rlike(rx), regexp_extract(src, rx, idx))
          }
        }
        val raw = coalesce(alternatives: _*)
        k -> keyType(k).map(t => castTo(raw, t)).getOrElse(raw)
      }
      opts.finish(df, sourceKey, ok, fields)
    }
  }

  /** Schema-free nested-JSON flatten of a JSON-object string into
    * `map<string,string>` entries: keys of nested objects become
    * `a_b_c`-style flattened keys up to `depth` levels, joined by
    * `connector`; array elements (when `expandArray`) become `k[0]`,
    * `k[1]`, … index-suffixed keys (reference `flattenArray`,
    * `processor_json.go:171-191`); scalars stringify.
    *
    * Pure higher-order-function rewrite: each pass explodes map entries
    * whose value is itself a JSON object/array into child entries — no
    * UDFs, no shuffles, bounded by `depth` passes.
    */
  def flattenJson(src: Column, depth: Int, connector: String,
      prefix: String, expandArray: Boolean): Column = {
    val mapType = "map<string,string>"
    val none = Map.empty[String, String]
    def isObj(v: Column): Column = v.startsWith("{")
    def isArr(v: Column): Column = v.startsWith("[")
    // one flatten pass over an array<struct<key,value>> entry list
    def pass(entries: Column): Column = flatten(transform(entries, e => {
      val v = e.getField("value")
      val sub = from_json(v, mapType, none)
      val subArr = from_json(v, "array<string>", none)
      val objCase = when(isObj(v) && sub.isNotNull,
        transform(map_entries(sub), s => struct(
          concat(e.getField("key"), lit(connector), s.getField("key")).as("key"),
          s.getField("value").as("value"))))
      (if (expandArray)
        objCase.when(isArr(v) && subArr.isNotNull,
          // empty arrays disappear entirely (reference flattenArray:
          // ArrayEach over [] appends nothing, processor_json_test.go
          // asserts k7:[] is gone) — and guard the sequence() range,
          // which would go descending for size 0
          when(size(subArr) > 0,
            zip_with(subArr, sequence(lit(0), size(subArr) - 1), (el, i) =>
              struct(concat(e.getField("key"), lit("["), i.cast("string"),
                lit("]")).as("key"), el.as("value"))))
          .otherwise(array().cast("array<struct<key:string,value:string>>")))
      else objCase)
        .otherwise(array(e))
    }))
    val base = map_entries(from_json(src, mapType, none))
    val flattened = (1 until depth).foldLeft(base)((acc, _) => pass(acc))
    val prefixed =
      if (prefix.isEmpty) flattened
      else transform(flattened, e => struct(
        concat(lit(prefix), e.getField("key")).as("key"),
        e.getField("value").as("value")))
    map_from_entries(prefixed)
  }

  /** Nested-JSON flatten processor over one field.
    * Reference: `plugins/processor/json/processor_json.go:29-42`
    * (`ExpandDepth`, `ExpandConnector`, `Prefix`, `ExpandArray`). */
  final case class JsonExpand(
      sourceKey: String,
      depth: Int = 2,
      connector: String = "_",
      prefix: String = "",
      destKey: String = "expanded",
      expandArray: Boolean = false) {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(destKey,
        flattenJson(col(sourceKey), depth, connector, prefix, expandArray))
  }

  /** 1→N row split: explode `sourceKey` on a separator (one event per
    * part). Reference: `plugins/processor/split/char/split_char.go` /
    * `split/logstring/split_log_string.go` and the inner
    * `ProcessorSplitLogStringNative` ('\n' line split). */
  final case class SplitExplode(
      sourceKey: String,
      separator: String,
      destKey: String = "part") {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(destKey,
        explode(split(col(sourceKey), java.util.regex.Pattern.quote(separator))))
  }
}
