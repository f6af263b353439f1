package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Cols

/** Wire-format metric decoders of the HTTP service input — the
  * influxdb line protocol and (dog)statsd frame formats
  * (`plugins/input/httpserver` selects a decoder by Format;
  * `pkg/protocol/decoder/{influxdb,statsd}/decoder.go`).
  *
  * Both decode to the reference's metric-log shape
  * (`pkg/helper/log_helper.go:258-296`): `__name__`, `__value__`,
  * `__labels__` (sorted `k#$#v|`-joined), `__time_nano__` — the same
  * layout `FieldOps.LogToMetric` produces, so decoded wire metrics
  * compose with the metric pipeline unchanged.
  *
  * Reference semantics kept (influx, `decoder.go:159-222`):
  * one OUTPUT ROW PER FIELD; `__name__` = measurement, or
  * `measurement:field` for fields other than `value`; float rendered
  * shortest (`strconv 'g'`: `1.0` → "1"), int `42i` → "42", bool →
  * "1"/"0"; string fields only with `fieldsExtend` (which also adds
  * `__type__` and `__field__`). Malformed LINES are dropped here,
  * where the reference rejects the whole HTTP payload (400) — a batch
  * table has no request boundary to reject (documented divergence).
  * Absent timestamps take `defaultTimeNano` rather than arrival time
  * (deterministic over re-runs).
  */
object WireFormats {

  private val LabelSep = "#$#"

  /** Unescape influx identifier escapes: `\,` `\ ` `\=` (and a literal
    * `\\` stays `\` + next char per the line-protocol reader). */
  private def unescapeIdent(c: Column): Column =
    when(!c.contains("\\"), c).otherwise(
      regexp_replace(c, "\\\\([, =\\\\])", "$1"))

  /** Influx line protocol:
    * `meas[,tag=v…] field=val[,field=val…] [ts]`. */
  final case class InfluxLineParser(
      sourceKey: String = "line",
      fieldsExtend: Boolean = false,
      defaultTimeNano: Long = 0L) {

    private val ident = "(?:[^,\\\\ =]|\\\\.)+"
    private val meas = "(?:[^,\\\\ ]|\\\\.)+"
    private val quoted = "\"(?:[^\"\\\\]|\\\\.)*\""
    private val bare = "[^,\" ]+"
    private val fieldPair = s"$ident=(?:$quoted|$bare)"
    // groups: 1 measurement, 2 tag section, 3 field section, 4 ts
    private[ops] val regex =
      s"^($meas)((?:,$ident=$ident)*) " +
        s"($fieldPair(?:,$fieldPair)*)(?: (-?\\d+))?$$"

    private val tagRe = s",($ident)=($ident)"
    private val fieldRe = s"(?:^|,)($ident)=($quoted|$bare)"

    def apply(df: DataFrame): DataFrame = {
      val src = col(sourceKey)
      val ok = src.isNotNull && src.rlike(regex)
      // labels/ts/fields all read the packed-groups COLUMN (a bound
      // attribute), never the packing expression itself — referencing
      // the tree again would re-run the whole regex per use
      // the label scanner drops a trailing '|' (readSortedLabels), so a
      // last value ending in '|' gets one more: `k#$#v||` reads back v|
      def labelsOf(tagSection: Column) = Cols.let(tagSection) { t =>
        Cols.let(array_join(array_sort(zip_with(
          regexp_extract_all(t, lit(tagRe), lit(1)),
          regexp_extract_all(t, lit(tagRe), lit(2)),
          (k, v) => concat(unescapeIdent(k), lit(LabelSep), unescapeIdent(v)))),
          "|"))(j => when(j.endsWith("|"), concat(j, lit("|"))).otherwise(j))
      }
      val parsed = df
        .filter(ok)
        .withColumn("__ilp__", Cols.packGroups(src, regex, 4))
        // ts is digits by regex but may still overflow int64: try_cast
        // keeps ANSI mode from killing the job; an overflowed ts drops
        // the line (the reference rejects the point on ParseInt error)
        .withColumn("__time_nano__",
          when(element_at(col("__ilp__"), 4) === "", lit(defaultTimeNano))
            .otherwise(element_at(col("__ilp__"), 4).try_cast("long")))
        .filter(col("__time_nano__").isNotNull)
        .withColumn("__meas__", unescapeIdent(element_at(col("__ilp__"), 1)))
        .withColumn("__labels__", labelsOf(element_at(col("__ilp__"), 2)))
        .select(col("*"),
          posexplode(zip_with(
            regexp_extract_all(element_at(col("__ilp__"), 3), lit(fieldRe), lit(1)),
            regexp_extract_all(element_at(col("__ilp__"), 3), lit(fieldRe), lit(2)),
            (k, v) => struct(k.as("k"), v.as("v"))))
            .as(Seq("__fidx__", "__field_kv__")))
      val fkey = unescapeIdent(col("__field_kv__").getField("k"))
      val fval = col("__field_kv__").getField("v")
      val isStr = fval.startsWith("\"")
      val isInt = fval.rlike("^-?\\d+i$")
      val isBool = fval.rlike("^(?i)(t|true|f|false)$")
      val asFloat = fval.try_cast("double")
      val ftype = when(isStr, "string").when(isInt, "int")
        .when(isBool, "boolean")
        .when(asFloat.isNotNull, "float")
      val fvalue = when(isStr,
          // quoted string: strip quotes, unescape \" and \\
          regexp_replace(regexp_replace(
            fval.substr(lit(2), length(fval) - 2),
            "\\\\\"", "\""), "\\\\\\\\", "\\\\"))
        .when(isInt, regexp_replace(fval, "i$", ""))
        .when(isBool, when(lower(fval).isin("t", "true"), "1").otherwise("0"))
        .when(asFloat.isNotNull, Cols.goFloat(asFloat))
      val out = parsed
        .withColumn("__ftype__", ftype)
        .withColumn("__fkey__", fkey)
        // unsupported field types drop (reference `continue`); strings
        // drop unless fieldsExtend
        .filter(col("__ftype__").isNotNull &&
          (lit(fieldsExtend) || !isStr))
        .withColumn("__name__",
          when(col("__fkey__") === "value", col("__meas__"))
            .otherwise(concat(col("__meas__"), lit(":"), col("__fkey__"))))
        .withColumn("__value__", fvalue)
      val extended =
        if (fieldsExtend)
          out.withColumn("__type__", col("__ftype__"))
            .withColumn("__field__", col("__fkey__"))
        else out
      extended.drop("__ilp__", "__meas__", "__field_kv__", "__fidx__",
        "__ftype__", "__fkey__")
    }
  }

  /** OTLP/JSON log payload (ExportLogsServiceRequest) → one row per
    * logRecord, the reference's V1 log conversion
    * (`pkg/protocol/decoder/opentelemetry/otlpDataToSLSProto.go:276-338`,
    * wire shape `decoder_test.go:39`): fields `time_unix_nano`,
    * `severity_number`, `severity_text`, `content` (= body.AsString),
    * and `attributes`/`resources` as compact key-sorted JSON objects
    * (Go's `json.Marshal` of a map sorts keys; empty maps render here
    * as "" where the reference omits the field — a table column cannot
    * be absent). Non-OTLP / unparseable payloads drop (the reference
    * rejects the HTTP request).
    *
    * Spark-first shape: one `from_json` with the full nested schema,
    * three generator explodes (resourceLogs → scopeLogs → logRecords),
    * everything else per-row projections — no shuffle, no UDF. */
  final case class OtlpLogParser(sourceKey: String = "payload") {

    private val anyVal =
      "STRUCT<stringValue: STRING, intValue: STRING, " +
        "doubleValue: DOUBLE, boolValue: BOOLEAN>"
    private val kvs = s"ARRAY<STRUCT<key: STRING, value: $anyVal>>"
    private[ops] val schemaDDL =
      s"""resourceLogs ARRAY<STRUCT<
            resource: STRUCT<attributes: $kvs>,
            scopeLogs: ARRAY<STRUCT<
              scope: STRUCT<name: STRING>,
              logRecords: ARRAY<STRUCT<
                timeUnixNano: STRING,
                severityNumber: BIGINT,
                severityText: STRING,
                body: $anyVal,
                attributes: $kvs>>>>>>"""

    /** One AnyValue rendered as a JSON scalar the way `json.Marshal`
      * renders `AsRaw()`: strings quoted+escaped, int64 (a STRING in
      * proto3 JSON) bare, bools bare. The intValue branch emits the
      * try_cast("long") result (canonical digits — jsonpb would render
      * the unmarshalled int64 the same way), so a hostile
      * `"intValue":"12abc"` can't splice invalid JSON into the output:
      * it falls through to quoted-string rendering instead. */
    private def renderAny(v: Column): Column =
      when(v.getField("stringValue").isNotNull,
          OtlpOps.jsonStr(v.getField("stringValue")))
        .when(v.getField("intValue").try_cast("long").isNotNull,
          v.getField("intValue").try_cast("long").cast("string"))
        .when(v.getField("intValue").isNotNull,
          OtlpOps.jsonStr(v.getField("intValue")))
        .when(v.getField("boolValue").isNotNull,
          v.getField("boolValue").cast("string"))
        .when(v.getField("doubleValue").isNotNull,
          v.getField("doubleValue").cast("string"))
        .otherwise(lit("null"))

    /** pdata `Value.AsString`: the raw string for strings, number/bool
      * rendering otherwise. */
    private def anyString(v: Column): Column =
      coalesce(v.getField("stringValue"), v.getField("intValue"),
        v.getField("boolValue").cast("string"),
        v.getField("doubleValue").cast("string"), lit(""))

    /** Attribute list → `{"k":v,...}` with keys sorted (Go map
      * marshal order); empty/absent → "". */
    private def attrsJson(attrs: Column): Column =
      when(attrs.isNull || size(attrs) === 0, lit(""))
        .otherwise(concat(lit("{"),
          array_join(transform(
            array_sort(transform(attrs, a => struct(
              a.getField("key").as("k"),
              concat(OtlpOps.jsonStr(a.getField("key")), lit(":"),
                renderAny(a.getField("value"))).as("e")))),
            s => s.getField("e")), ","), lit("}")))

    def apply(df: DataFrame): DataFrame = {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDDL)
      df.withColumn("__otlp__", from_json(col(sourceKey), schema))
        .filter(col("__otlp__").isNotNull &&
          col("__otlp__").getField("resourceLogs").isNotNull)
        .select(col("*"), explode(col("__otlp__.resourceLogs")).as("__rl__"))
        .withColumn("resources", attrsJson(col("__rl__.resource.attributes")))
        .select(col("*"), explode(col("__rl__.scopeLogs")).as("__sl__"))
        .select(col("*"), explode(col("__sl__.logRecords")).as("__lr__"))
        .withColumn("time_unix_nano",
          coalesce(col("__lr__.timeUnixNano").try_cast("long"), lit(0L)))
        .withColumn("severity_number",
          coalesce(col("__lr__.severityNumber"), lit(0L)))
        .withColumn("severity_text",
          coalesce(col("__lr__.severityText"), lit("")))
        .withColumn("content", anyString(col("__lr__.body")))
        .withColumn("attributes", attrsJson(col("__lr__.attributes")))
        .drop("__otlp__", "__rl__", "__sl__", "__lr__")
    }
  }

  /** (dog)statsd frame: `name:value|type[|@rate][|#k:v,…]`
    * (`decoder/statsd/decoder.go:44-66` via the dogstatsd grammar);
    * every frame becomes one metric log with a float value. */
  final case class StatsdParser(
      sourceKey: String = "line",
      defaultTimeNano: Long = 0L) {

    // groups: 1 name, 2 value, 3 type, 4 rate, 5 tags
    private[ops] val regex =
      "^([^:|#]+):(-?[0-9.]+)\\|(c|g|ms|h|s|d)" +
        "(?:\\|@([0-9.]+))?(?:\\|#([^|]*))?$"

    def apply(df: DataFrame): DataFrame = {
      val src = col(sourceKey)
      val tagRe = "(?:^|,)([^:,]+):([^,]*)"
      // one rlike gate + one packGroups = two regex passes per row; the
      // value/rate validity checks read the PACKED column (try_cast,
      // never a plain ANSI cast on wire data) instead of re-matching.
      // "1.2.3"-style rates match the [0-9.]+ class but fail the
      // numeric parse — that frame drops (dogstatsd rejects it too).
      df.filter(src.isNotNull && src.rlike(regex))
        .withColumn("__sd__", Cols.packGroups(src, regex, 5))
        .withColumn("__value__",
          element_at(col("__sd__"), 2).try_cast("double"))
        .withColumn("__rate__",
          when(element_at(col("__sd__"), 4) === "", lit(1.0))
            .otherwise(element_at(col("__sd__"), 4).try_cast("double")))
        .filter(col("__value__").isNotNull && col("__rate__").isNotNull)
        .withColumn("__name__", element_at(col("__sd__"), 1))
        .withColumn("__stype__", element_at(col("__sd__"), 3))
        .withColumn("__labels__",
          Cols.let(element_at(col("__sd__"), 5)) { t =>
            array_join(array_sort(zip_with(
              regexp_extract_all(t, lit(tagRe), lit(1)),
              regexp_extract_all(t, lit(tagRe), lit(2)),
              (k, v) => concat(k, lit(LabelSep), v))), "|")
          })
        .withColumn("__time_nano__", lit(defaultTimeNano))
        .drop("__sd__")
    }
  }
}
