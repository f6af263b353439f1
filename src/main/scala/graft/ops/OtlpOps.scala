package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.Cols
import graft.functions.Cols.{goFloat, optCol}

/** OTLP/JSON metric and trace decoders — the remaining two thirds of
  * the OTLP family next to [[WireFormats.OtlpLogParser]].
  *
  * Reference: metric conversion
  * `pkg/protocol/decoder/opentelemetry/otlpDataToSLSProto.go:120-423`
  * (gauge/sum/summary/histogram/exponential-histogram/untyped →
  * metric-log rows `__name__`/`__labels__`/`__time_nano__`/`__value__`),
  * label rendering `pkg/helper/log_helper.go:196-228,292-366`
  * (`k#$#v` sorted by key, `|`-joined; key chars outside `[A-Za-z0-9_]`
  * and `|` in values → `_`; metric names additionally allow `:`),
  * trace conversion `otlp_trace_parser.go:51-284` (span → one log row
  * with host/service/resource + scope + span fields, events/links as
  * key-sorted JSON), wire vectors `decoder_test.go:210-470,944-1180`.
  *
  * Spark-first shape (same as the log decoder): one `from_json` with
  * the full nested schema, generator explodes down to the
  * metric/span, then per-row projections building an array of
  * metric-log row structs that a single `explode` flattens — no
  * shuffle, no UDF. All casts on wire data are `try_cast`/
  * `try_element_at` so a hostile payload drops a row, never the job.
  *
  * Documented divergences (all wall-clock-dependent reference paths,
  * made deterministic here): untyped metrics carry `__time_nano__` 0
  * instead of `time.Now()`; a span with no end timestamp keeps end 0
  * instead of substituting `time.Now()`; bytes-typed exemplar
  * filteredAttributes render base64 (pdata `AsString`) rather than
  * Go's `%v` byte-slice dump.
  */
object OtlpOps {

  private val LabelSep = "#$#"

  private[ops] val ScalarDDL =
    "STRUCT<stringValue: STRING, intValue: STRING, doubleValue: DOUBLE, " +
      "boolValue: BOOLEAN, bytesValue: STRING>"
  /** AnyValue with ONE composite level (arrayValue / kvlistValue of
    * scalars) — covers every reference test vector; deeper nesting
    * renders as JSON null, a documented bound of the static schema. */
  private[ops] val AnyValDDL =
    "STRUCT<stringValue: STRING, intValue: STRING, doubleValue: DOUBLE, " +
      "boolValue: BOOLEAN, bytesValue: STRING, " +
      s"arrayValue: STRUCT<values: ARRAY<$ScalarDDL>>, " +
      s"kvlistValue: STRUCT<values: ARRAY<STRUCT<key: STRING, " +
      s"value: $ScalarDDL>>>>"
  private[ops] val KvsDDL = s"ARRAY<STRUCT<key: STRING, value: $AnyValDDL>>"
  private val EntriesDDL = "ARRAY<STRUCT<k: STRING, v: STRING>>"
  private val RowsDDL =
    "ARRAY<STRUCT<name: STRING, labels: STRING, tn: BIGINT, value: STRING>>"

  private def noEntries: Column = array().cast(EntriesDDL)
  private def noRows: Column = array().cast(RowsDDL)

  private def scalarString(v: Column): Column =
    coalesce(v.getField("stringValue"), v.getField("intValue"),
      v.getField("boolValue").cast("string"),
      goFloat(v.getField("doubleValue")), v.getField("bytesValue"))

  /** pdata `Value.AsString`: raw string, int digits, bool true/false,
    * double shortest, bytes base64 (the JSON wire already carries
    * base64); composite values JSON-serialize, as pdata does. */
  private def anyString(v: Column): Column =
    coalesce(scalarString(v),
      when(v.getField("arrayValue").isNotNull, arrayJson(v))
        .when(v.getField("kvlistValue").isNotNull, kvlistJson(v)))

  // EnableSlsMetricsFormat sanitizers (log_helper.go:292-366)
  private def labelKey(k: Column): Column =
    regexp_replace(k, "[^A-Za-z0-9_]", "_")
  private def labelValue(v: Column): Column = translate(v, "|", "_")
  private def metricName(n: Column): Column =
    regexp_replace(n, "[^A-Za-z0-9_:]", "_")

  private def entry(k: Column, v: Column): Column =
    struct(labelKey(k).as("k"), coalesce(labelValue(v), lit("")).as("v"))

  private def attrEntries(attrs: Column): Column =
    when(attrs.isNotNull, transform(attrs, a =>
      entry(a.getField("key"), anyString(a.getField("value")))))
      .otherwise(noEntries)

  /** MetricLabels.String(): entries sorted by key (ties by value — the
    * reference's unstable sort makes equal-key order arbitrary), joined
    * `k#$#v|…`. Duplicate keys are kept, as in the reference. */
  private def renderLabels(entries: Column): Column =
    array_join(transform(array_sort(entries),
      e => concat(e.getField("k"), lit(LabelSep), e.getField("v"))), "|")

  /** NewMetricLogStringVal time normalization (log_helper.go:270-283):
    * 19 digits stay nanos, 13 digits are ms → nanos, anything else is
    * scaled to 19 digits through float64 — mirroring the reference's
    * lossy float math for the odd lengths. */
  private def tnNorm(ts: Column): Column =
    Cols.let2(coalesce(ts.try_cast("long"), lit(0L)),
        length(coalesce(ts, lit("0")))) { (t, len) =>
      when(len === 19, t)
        .when(len === 13 && abs(t) <= 9223372036854L, t * 1000000L)
        .otherwise(coalesce(
          (t.cast("double") * pow(lit(10.0), lit(19) - len))
            .try_cast("long"), lit(0L)))
    }

  /** Sum/Histogram AggregationTemporality enum → pdata String():
    * proto3 JSON carries the int or the enum name. */
  private def tempoStr(t: Column): Column =
    when(t.isin("2", "AGGREGATION_TEMPORALITY_CUMULATIVE"), "Cumulative")
      .when(t.isin("1", "AGGREGATION_TEMPORALITY_DELTA"), "Delta")
      .otherwise("Unspecified")

  private def mrow(name: Column, labels: Column, tn: Column,
      value: Column): Column =
    struct(name.as("name"), labels.as("labels"),
      tn.cast("bigint").as("tn"), value.as("value"))

  /** OTLP/JSON metric payload (ExportMetricsServiceRequest) → the
    * reference's metric-log rows, `ConvertOtlpMetricV1`
    * (otlpDataToSLSProto.go:344-423). One output row per value the
    * reference emits: data points, per-point exemplars, summary
    * sum/count/quantiles, histogram sum/min/max/count + cumulative
    * `le` buckets (+Inf last), exponential-histogram buckets with
    * `(lower,upper]` / `[-upper,-lower)` le values plus
    * positive.offset / zero.count / negative.offset rows, and a
    * single row per untyped metric. `__value__` is the reference's
    * string rendering (shortest-float), so untyped metrics can carry
    * their description exactly as the reference does. */
  final case class OtlpMetricParser(sourceKey: String = "payload") {

    private val exemplarDDL =
      s"STRUCT<filteredAttributes: $KvsDDL, timeUnixNano: STRING, " +
        "asDouble: DOUBLE, asInt: STRING, traceId: STRING, spanId: STRING>"
    private val numDpDDL =
      s"STRUCT<attributes: $KvsDDL, timeUnixNano: STRING, " +
        s"asDouble: DOUBLE, asInt: STRING, exemplars: ARRAY<$exemplarDDL>>"
    private val summaryDpDDL =
      s"STRUCT<attributes: $KvsDDL, timeUnixNano: STRING, count: STRING, " +
        "sum: DOUBLE, quantileValues: ARRAY<STRUCT<quantile: DOUBLE, " +
        "value: DOUBLE>>>"
    private val histDpDDL =
      s"STRUCT<attributes: $KvsDDL, timeUnixNano: STRING, count: STRING, " +
        "sum: DOUBLE, min: DOUBLE, max: DOUBLE, " +
        "explicitBounds: ARRAY<DOUBLE>, bucketCounts: ARRAY<STRING>, " +
        s"exemplars: ARRAY<$exemplarDDL>>"
    private val ehBucketsDDL =
      "STRUCT<offset: BIGINT, bucketCounts: ARRAY<STRING>>"
    private val expDpDDL =
      s"STRUCT<attributes: $KvsDDL, timeUnixNano: STRING, count: STRING, " +
        "sum: DOUBLE, min: DOUBLE, max: DOUBLE, scale: BIGINT, " +
        s"zeroCount: STRING, positive: $ehBucketsDDL, " +
        s"negative: $ehBucketsDDL, exemplars: ARRAY<$exemplarDDL>>"
    private[ops] val schemaDDL =
      s"""resourceMetrics ARRAY<STRUCT<
            resource: STRUCT<attributes: $KvsDDL>,
            scopeMetrics: ARRAY<STRUCT<
              scope: STRUCT<name: STRING, version: STRING>,
              metrics: ARRAY<STRUCT<
                name: STRING,
                description: STRING,
                gauge: STRUCT<dataPoints: ARRAY<$numDpDDL>>,
                sum: STRUCT<dataPoints: ARRAY<$numDpDDL>,
                  aggregationTemporality: STRING, isMonotonic: BOOLEAN>,
                summary: STRUCT<dataPoints: ARRAY<$summaryDpDDL>>,
                histogram: STRUCT<dataPoints: ARRAY<$histDpDDL>,
                  aggregationTemporality: STRING>,
                exponentialHistogram: STRUCT<dataPoints: ARRAY<$expDpDDL>,
                  aggregationTemporality: STRING>>>>>>>"""

    /** Gauge/Sum data-point value (GaugeToLogs/SumToLogs): the int
      * value wins when non-zero, else the double. */
    private def numValueStr(dp: Column): Column =
      Cols.let(dp.getField("asInt").try_cast("long")) { iv =>
        when(iv.isNotNull && iv =!= 0, iv.cast("string"))
          .otherwise(goFloat(coalesce(dp.getField("asDouble"), lit(0.0))))
      }

    /** `name_exemplars` rows (newExemplarMetricLogFromRaw): point
      * labels + traceId/spanId (when present) + filtered attributes;
      * `__time_nano__` is the exemplar's unix SECONDS — the reference
      * formats `.Unix()` there, unlike every other row. */
    private def exemplarRows(name: Column, exs: Column,
        pt: Column): Column =
      when(exs.isNotNull, transform(exs, ex => {
        val ids = filter(array(
          struct(lit("traceId").as("k"),
            coalesce(ex.getField("traceId"), lit("")).as("v")),
          struct(lit("spanId").as("k"),
            coalesce(ex.getField("spanId"), lit("")).as("v"))),
          e => e.getField("v") =!= "")
        mrow(
          metricName(concat(name, lit("_exemplars"))),
          renderLabels(concat(pt, ids,
            attrEntries(ex.getField("filteredAttributes")))),
          floor(coalesce(ex.getField("timeUnixNano").try_cast("long"),
            lit(0L)) / 1e9).cast("bigint"),
          goFloat(coalesce(ex.getField("asDouble"), lit(0.0))))
      })).otherwise(noRows)

    private def numRows(name: Column, dps: Column, res: Column,
        extras: Column): Column =
      when(dps.isNotNull, flatten(transform(dps, dp =>
        Cols.let2(
            concat(res, attrEntries(dp.getField("attributes")), extras),
            tnNorm(dp.getField("timeUnixNano"))) { (pt, tn) =>
          concat(
            exemplarRows(name, dp.getField("exemplars"), pt),
            array(mrow(metricName(name), renderLabels(pt), tn,
              numValueStr(dp))))
        }))).otherwise(noRows)

    private def summaryRows(name: Column, dps: Column,
        res: Column): Column =
      when(dps.isNotNull, flatten(transform(dps, dp =>
        Cols.let2(
            concat(res, attrEntries(dp.getField("attributes"))),
            tnNorm(dp.getField("timeUnixNano"))) { (pt, tn) =>
          Cols.let(renderLabels(pt)) { lbl =>
            concat(
              array(
                mrow(metricName(concat(name, lit("_sum"))), lbl, tn,
                  goFloat(coalesce(dp.getField("sum"), lit(0.0)))),
                mrow(metricName(concat(name, lit("_count"))), lbl, tn,
                  coalesce(dp.getField("count").try_cast("long"), lit(0L))
                    .cast("string"))),
              when(dp.getField("quantileValues").isNotNull,
                transform(dp.getField("quantileValues"), q =>
                  mrow(metricName(name),
                    renderLabels(concat(pt, array(entry(lit("quantile"),
                      goFloat(coalesce(q.getField("quantile"),
                        lit(0.0))))))),
                    tn,
                    goFloat(coalesce(q.getField("value"), lit(0.0))))))
                .otherwise(noRows))
          }
        }))).otherwise(noRows)

    /** sum/min/max rows gated on field presence (HasSum/HasMin/HasMax —
      * absent in JSON ⇒ null struct field). */
    private def smmRows(name: Column, dp: Column, lbl: Column,
        tn: Column): Column =
      concat(Seq("sum" -> "_sum", "min" -> "_min", "max" -> "_max").map {
        case (f, suffix) =>
          when(dp.getField(f).isNotNull,
            array(mrow(metricName(concat(name, lit(suffix))), lbl, tn,
              goFloat(dp.getField(f))))).otherwise(noRows)
      }: _*)

    private def countRow(name: Column, cnt: Column, lbl: Column,
        tn: Column): Column =
      array(mrow(metricName(concat(name, lit("_count"))), lbl, tn,
        coalesce(cnt.try_cast("long"), lit(0L)).cast("string")))

    private def histRows(name: Column, dps: Column, res: Column,
        extras: Column): Column =
      when(dps.isNotNull, flatten(transform(dps, dp =>
        Cols.let2(
            concat(res, attrEntries(dp.getField("attributes")), extras),
            tnNorm(dp.getField("timeUnixNano"))) { (pt, tn) =>
          Cols.let(renderLabels(pt)) { lbl =>
            val bounds = dp.getField("explicitBounds")
            val counts = dp.getField("bucketCounts")
            // min(len(bounds)+1, len(counts)) cumulative buckets; the
            // last in-range bound gets le=+Inf (HistogramToLogs:209-226)
            val nb = least(
              coalesce(size(bounds), lit(0)) + 1,
              coalesce(size(counts), lit(0)))
            val bucketRows = when(nb >= 1,
              transform(sequence(lit(1), nb), j =>
                mrow(metricName(concat(name, lit("_bucket"))),
                  renderLabels(concat(pt, array(entry(lit("le"),
                    when(j <= size(bounds),
                      goFloat(try_element_at(bounds, j)))
                      .otherwise(lit("+Inf")))))),
                  tn,
                  aggregate(slice(counts, lit(1), j), lit(0L), (acc, c) =>
                    acc + coalesce(c.try_cast("long"), lit(0L)))
                    .cast("string")))).otherwise(noRows)
            concat(
              smmRows(name, dp, lbl, tn),
              countRow(name, dp.getField("count"), lbl, tn),
              exemplarRows(name, dp.getField("exemplars"), pt),
              bucketRows)
          }
        }))).otherwise(noRows)

    private def expHistRows(name: Column, dps: Column, res: Column,
        extras: Column): Column =
      when(dps.isNotNull, flatten(transform(dps, dp =>
        Cols.let2(
            concat(res, attrEntries(dp.getField("attributes")), extras),
            tnNorm(dp.getField("timeUnixNano"))) { (pt, tn) =>
          Cols.let(renderLabels(pt)) { lbl =>
            val bucketName = metricName(concat(name, lit("_bucket")))
            // base = 2^(2^-scale); bucket i of an offset-o side spans
            // (base^(o+i), base^(o+i+1)] — negative side mirrored
            // (ExponentialHistogramToLogs:255-271, metric_helper.go:31)
            val base = pow(lit(2.0), pow(lit(2.0),
              -coalesce(dp.getField("scale"), lit(0L)).cast("double")))
            def leRow(le: Column, value: Column): Column =
              mrow(bucketName,
                renderLabels(concat(pt, array(entry(lit("le"), le)))),
                tn, value)
            def sideRows(side: Column, positive: Boolean): Column = {
              val off = coalesce(side.getField("offset"), lit(0L))
              val cnts = side.getField("bucketCounts")
              val bRows = when(cnts.isNotNull, transform(cnts, (c, i) =>
                Cols.let(pow(base, (off + i).cast("double"))) { lower =>
                  val upper = lower * base
                  leRow(
                    if (positive)
                      concat(lit("("), goFloat(lower), lit(","),
                        goFloat(upper), lit("]"))
                    else
                      concat(lit("["), goFloat(-upper), lit(","),
                        goFloat(-lower), lit(")")),
                    coalesce(c.try_cast("long"), lit(0L)).cast("string"))
                })).otherwise(noRows)
              // the offset row is emitted even for an absent side — the
              // reference ranges over a nil-safe empty struct
              concat(bRows, array(leRow(
                lit(if (positive) "positive.offset" else "negative.offset"),
                off.cast("string"))))
            }
            concat(
              smmRows(name, dp, lbl, tn),
              countRow(name, dp.getField("count"), lbl, tn),
              exemplarRows(name, dp.getField("exemplars"), pt),
              sideRows(dp.getField("positive"), positive = true),
              array(leRow(lit("zero.count"),
                coalesce(dp.getField("zeroCount").try_cast("long"), lit(0L))
                  .cast("string"))),
              sideRows(dp.getField("negative"), positive = false))
          }
        }))).otherwise(noRows)

    def apply(df: DataFrame): DataFrame = {
      val schema = StructType.fromDDL(schemaDDL)
      val base = df.withColumn("__omr__", from_json(col(sourceKey), schema))
        .filter(col("__omr__").isNotNull &&
          col("__omr__").getField("resourceMetrics").isNotNull)
        .select(col("*"), explode(col("__omr__.resourceMetrics")).as("__rm__"))
        .withColumn("__res__", attrEntries(col("__rm__.resource.attributes")))
        .select(col("*"), explode(col("__rm__.scopeMetrics")).as("__sm__"))
        .select(col("*"), explode(col("__sm__.metrics")).as("__mx__"))
      val m = col("__mx__")
      val res = col("__res__")
      val name = m.getField("name")
      val sumExtras = array(
        entry(lit("otlp.metric.ismonotonic"),
          coalesce(m.getField("sum").getField("isMonotonic"), lit(false))
            .cast("string")),
        entry(lit("otlp.metric.aggregation.temporality"),
          tempoStr(m.getField("sum").getField("aggregationTemporality"))))
      def histoExtras(fam: String, typeName: String) = array(
        entry(lit("otlp.metric.aggregation.temporality"),
          tempoStr(m.getField(fam).getField("aggregationTemporality"))),
        entry(lit("otlp.metric.histogram.type"), lit(typeName)))
      val hasTyped = m.getField("gauge").isNotNull ||
        m.getField("sum").isNotNull || m.getField("summary").isNotNull ||
        m.getField("histogram").isNotNull ||
        m.getField("exponentialHistogram").isNotNull
      // untyped fallback (ConvertOtlpMetricV1 default arm): raw name,
      // type string as labels, description as value; __time_nano__ 0
      // where the reference stamps wall-clock (documented divergence)
      val untypedRows = when(!hasTyped && name.isNotNull,
        array(mrow(name, lit("Empty"), lit(0L),
          coalesce(m.getField("description"), lit(""))))).otherwise(noRows)
      val rows = concat(
        numRows(name, m.getField("gauge").getField("dataPoints"), res,
          noEntries),
        numRows(name, m.getField("sum").getField("dataPoints"), res,
          sumExtras),
        summaryRows(name, m.getField("summary").getField("dataPoints"), res),
        histRows(name, m.getField("histogram").getField("dataPoints"), res,
          histoExtras("histogram", "Histogram")),
        expHistRows(name,
          m.getField("exponentialHistogram").getField("dataPoints"), res,
          histoExtras("exponentialHistogram", "ExponentialHistogram")),
        untypedRows)
      base.withColumn("__rows__", rows)
        .select(col("*"), explode(col("__rows__")).as("__r__"))
        .withColumn("__name__", col("__r__.name"))
        .withColumn("__labels__", col("__r__.labels"))
        .withColumn("__time_nano__", col("__r__.tn"))
        .withColumn("__value__", col("__r__.value"))
        .drop("__omr__", "__rm__", "__res__", "__sm__", "__mx__",
          "__rows__", "__r__")
    }
  }

  // --- traces ---------------------------------------------------------------

  /** JSON-escaped quoted string (to_json of a 1-element array escapes,
    * then the brackets are trimmed). */
  private[ops] def jsonStr(v: Column): Column =
    Cols.let(to_json(array(v)))(a => a.substr(lit(2), length(a) - 2))

  /** The scalar arms of `json.Marshal(AsRaw())` (same contract as
    * OtlpLogParser.renderAny, plus bytes → base64 string) — null when
    * no scalar field is set, so callers can coalesce in their own
    * fallthrough. ONE copy: renderScalarJson and renderAnyJson both
    * extend it. */
  private def scalarJson(v: Column): Column =
    when(v.getField("stringValue").isNotNull,
      jsonStr(v.getField("stringValue")))
      .when(v.getField("intValue").try_cast("long").isNotNull,
        v.getField("intValue").try_cast("long").cast("string"))
      .when(v.getField("intValue").isNotNull, jsonStr(v.getField("intValue")))
      .when(v.getField("boolValue").isNotNull,
        v.getField("boolValue").cast("string"))
      .when(v.getField("doubleValue").isNotNull,
        goFloat(v.getField("doubleValue")))
      .when(v.getField("bytesValue").isNotNull,
        jsonStr(v.getField("bytesValue")))

  /** Scalar AnyValue → JSON; composites render "null". */
  private def renderScalarJson(v: Column): Column =
    coalesce(scalarJson(v), lit("null"))

  /** `json.Marshal` of a slice AsRaw: element order preserved. */
  private def arrayJson(v: Column): Column =
    concat(lit("["), array_join(transform(
      coalesce(v.getField("arrayValue").getField("values"),
        array().cast(s"ARRAY<$ScalarDDL>")),
      e => renderScalarJson(e)), ","), lit("]"))

  /** `json.Marshal` of a map AsRaw: keys sorted. */
  private def kvlistJson(v: Column): Column =
    concat(lit("{"), array_join(transform(
      array_sort(transform(
        coalesce(v.getField("kvlistValue").getField("values"),
          array().cast(s"ARRAY<STRUCT<key: STRING, value: $ScalarDDL>>")),
        a => struct(a.getField("key").as("k"),
          concat(jsonStr(a.getField("key")), lit(":"),
            renderScalarJson(a.getField("value"))).as("e")))),
      s => s.getField("e")), ","), lit("}"))

  /** Full AnyValue → JSON: scalars, then one composite level. */
  private def renderAnyJson(v: Column): Column =
    coalesce(scalarJson(v),
      when(v.getField("arrayValue").isNotNull, arrayJson(v))
        .when(v.getField("kvlistValue").isNotNull, kvlistJson(v)),
      lit("null"))

  /** Attribute list → `{"k":v,…}`, keys sorted (Go map marshal order);
    * null/empty → `{}` (json.Marshal of an empty map). */
  private[ops] def attrsJsonObj(attrs: Column): Column =
    when(attrs.isNull || size(attrs) === 0, lit("{}"))
      .otherwise(concat(lit("{"),
        array_join(transform(
          array_sort(transform(attrs, a => struct(
            a.getField("key").as("k"),
            concat(jsonStr(a.getField("key")), lit(":"),
              renderAnyJson(a.getField("value"))).as("e")))),
          s => s.getField("e")), ","), lit("}")))

  /** OTLP/JSON trace payload (ExportTraceServiceRequest) → one row per
    * span with the reference's span-log field set
    * (`otlp_trace_parser.go:132-216`): resource host/service pulled out
    * of the attribute map, the rest as JSON; scope name/version under
    * the reference's shortcut keys; span ids/kind/name/state; events
    * (`logs`) and links as key-sorted JSON arrays; start/end/duration
    * in MICROseconds (the reference divides nanos by 1000); status
    * code/message. A span without an end timestamp keeps end 0 — the
    * reference substitutes `time.Now()` (documented divergence). */
  final case class OtlpTraceParser(sourceKey: String = "payload") {

    private[ops] val schemaDDL =
      s"""resourceSpans ARRAY<STRUCT<
            resource: STRUCT<attributes: $KvsDDL>,
            scopeSpans: ARRAY<STRUCT<
              scope: STRUCT<name: STRING, version: STRING>,
              spans: ARRAY<STRUCT<
                traceId: STRING, spanId: STRING, parentSpanId: STRING,
                name: STRING, kind: STRING, traceState: STRING,
                startTimeUnixNano: STRING, endTimeUnixNano: STRING,
                attributes: $KvsDDL,
                events: ARRAY<STRUCT<timeUnixNano: STRING, name: STRING,
                  attributes: $KvsDDL>>,
                links: ARRAY<STRUCT<traceId: STRING, spanId: STRING,
                  attributes: $KvsDDL>>,
                status: STRUCT<code: STRING, message: STRING>>>>>>>"""

    private def kindStr(k: Column): Column =
      when(k.isin("1", "SPAN_KIND_INTERNAL"), "internal")
        .when(k.isin("2", "SPAN_KIND_SERVER"), "server")
        .when(k.isin("3", "SPAN_KIND_CLIENT"), "client")
        .when(k.isin("4", "SPAN_KIND_PRODUCER"), "producer")
        .when(k.isin("5", "SPAN_KIND_CONSUMER"), "consumer")
        .otherwise("")

    private def statusStr(c: Column): Column =
      when(c.isin("2", "STATUS_CODE_ERROR"), "ERROR")
        .when(c.isin("1", "STATUS_CODE_OK"), "OK")
        .otherwise("UNSET")

    private def attrLookup(attrs: Column, key: String): Column =
      coalesce(anyString(
        try_element_at(filter(attrs, a => a.getField("key") === key),
          lit(1)).getField("value")), lit(""))

    /** `[{"attribute":{…},"name":"…","time":<nanos>},…]` — the Go map
      * marshal key order of eventsToString (otlp_trace_parser.go:257). */
    private def eventsJson(events: Column): Column =
      when(events.isNull, lit("[]")).otherwise(concat(lit("["),
        array_join(transform(events, e => concat(
          lit("{\"attribute\":"), attrsJsonObj(e.getField("attributes")),
          lit(",\"name\":"), jsonStr(coalesce(e.getField("name"), lit(""))),
          lit(",\"time\":"),
          coalesce(e.getField("timeUnixNano").try_cast("long"), lit(0L))
            .cast("string"),
          lit("}"))), ","), lit("]")))

    /** `[{"attribute":{…},"spanID":"…","traceID":"…"},…]`
      * (spanLinksToString, otlp_trace_parser.go:272). */
    private def linksJson(links: Column): Column =
      when(links.isNull, lit("[]")).otherwise(concat(lit("["),
        array_join(transform(links, l => concat(
          lit("{\"attribute\":"), attrsJsonObj(l.getField("attributes")),
          lit(",\"spanID\":"), jsonStr(coalesce(l.getField("spanId"), lit(""))),
          lit(",\"traceID\":"), jsonStr(coalesce(l.getField("traceId"), lit(""))),
          lit("}"))), ","), lit("]")))

    /** nanos → micros; integral division (`div`) — a double divide is
      * NOT exact here: nano timestamps (~1.7e18) exceed the 53-bit
      * double mantissa, so `(t/1000).cast` is off by one whenever the
      * nano value isn't a multiple of a large power of two. */
    private def micros(t: Column): Column =
      call_function("div", t, lit(1000L)).cast("bigint")

    def apply(df: DataFrame): DataFrame = {
      val schema = StructType.fromDDL(schemaDDL)
      val sp = col("__sp__")
      val startT = coalesce(
        sp.getField("startTimeUnixNano").try_cast("long"), lit(0L))
      val endT = coalesce(
        sp.getField("endTimeUnixNano").try_cast("long"), lit(0L))
      df.withColumn("__otr__", from_json(col(sourceKey), schema))
        .filter(col("__otr__").isNotNull &&
          col("__otr__").getField("resourceSpans").isNotNull)
        .select(col("*"), explode(col("__otr__.resourceSpans")).as("__rs__"))
        .withColumn("host",
          attrLookup(col("__rs__.resource.attributes"), "host.name"))
        .withColumn("service",
          attrLookup(col("__rs__.resource.attributes"), "service.name"))
        .withColumn("resource", attrsJsonObj(filter(
          coalesce(col("__rs__.resource.attributes"),
            array().cast(KvsDDL)),
          a => !a.getField("key").isin("host.name", "service.name"))))
        .select(col("*"), explode(col("__rs__.scopeSpans")).as("__ss__"))
        .withColumn("otlp.name",
          coalesce(col("__ss__.scope.name"), lit("")))
        .withColumn("otlp.version",
          coalesce(col("__ss__.scope.version"), lit("")))
        .select(col("*"), explode(col("__ss__.spans")).as("__sp__"))
        .withColumn("traceID", coalesce(sp.getField("traceId"), lit("")))
        .withColumn("spanID", coalesce(sp.getField("spanId"), lit("")))
        .withColumn("parentSpanID",
          coalesce(sp.getField("parentSpanId"), lit("")))
        .withColumn("kind", kindStr(sp.getField("kind")))
        .withColumn("name", coalesce(sp.getField("name"), lit("")))
        .withColumn("links", linksJson(sp.getField("links")))
        .withColumn("logs", eventsJson(sp.getField("events")))
        .withColumn("traceState",
          coalesce(sp.getField("traceState"), lit("")))
        .withColumn("start", micros(startT))
        .withColumn("end", micros(endT))
        .withColumn("duration", micros(endT - startT))
        .withColumn("attribute", attrsJsonObj(sp.getField("attributes")))
        .withColumn("statusCode",
          statusStr(sp.getField("status").getField("code")))
        .withColumn("statusMessage",
          coalesce(sp.getField("status").getField("message"), lit("")))
        .drop("__otr__", "__rs__", "__ss__", "__sp__")
    }
  }

  /** Flusher-side OTLP/JSON logs serialization — the
    * `ConvertToOtlpResourseLogs` direction
    * (`pkg/protocol/converter/otlp.go:43-101`): one ResourceLogs per
    * group with resource attributes = the group-key columns plus static
    * tags (the LogGroup source/topic/machine_uuid/LogTags analog), one
    * ScopeLogs, one LogRecord per row — timestamp seconds→nanos, body
    * from `bodyKey`, severityText from `levelKey`, each `attrKeys`
    * column a string attribute (the reference auto-derives attributes
    * as contents-minus-body/level; here the caller names them — same
    * payload, explicit schema). The reference's ObservedTimestamp is
    * wall-clock (`otlp.go:84`) and deliberately omitted: batch re-runs
    * must be byte-identical.
    *
    * Pure Catalyst: group assembly is the stable ordered-concat idiom
    * (windowed collect_list, bounded by rows-per-group), rendering is
    * ONE to_json — no UDFs, no driver state. The round trip through
    * [[WireFormats.OtlpLogParser]] is an identity on the row set.
    * Output: (groupKeys…, payload, n_records). */
  final case class OtlpLogWriter(
      timeKey: String,
      orderKey: String,
      groupKeys: Seq[String],
      bodyKey: String = "content",
      levelKey: String = "level",
      attrKeys: Seq[String] = Nil,
      tags: Map[String, String] = Map.empty) {
    require(groupKeys.nonEmpty, "need at least one group key")

    def apply(df: DataFrame): DataFrame = {
      // null attribute values are ABSENT attributes, not {"k":null};
      // group keys can be null too — same rule via the shared filter
      val record = struct(
        (col(timeKey).cast("long") * 1000000000L).cast("string")
          .as("timeUnixNano"),
        col(levelKey).cast("string").as("severityText"),
        struct(col(bodyKey).cast("string").as("stringValue")).as("body"),
        strAttrs(attrKeys).as("attributes"))
      groupedRequest(df, groupKeys, orderKey,
        Seq(timeKey, levelKey, bodyKey) ++ attrKeys, tags, record,
        (recs, res) => struct(array(struct(
          struct(res.as("attributes")).as("resource"),
          array(struct(recs.as("logRecords")))
            .as("scopeLogs"))).as("resourceLogs")))
    }
  }

  /** One OTLP string attribute struct (null value → filtered out by
    * [[strAttrs]]/the resource filter: absent attribute, not k:null). */
  private def strAttr(k: String, v: Column): Column =
    struct(lit(k).as("key"),
      struct(v.cast("string").as("stringValue")).as("value"))

  /** The attrKeys columns as a string-attribute array; zero keys needs
    * a TYPED empty array (a bare array() is array<void> and the filter
    * lambda cannot extract from it). */
  private def strAttrs(attrKeys: Seq[String]): Column =
    if (attrKeys.isEmpty) array().cast(
      "array<struct<key:string,value:struct<stringValue:string>>>")
    else filter(array(attrKeys.map(k => strAttr(k, col(k))): _*),
      a => a.getField("value").getField("stringValue").isNotNull)

  /** Shared flusher-side assembly: order rows per group with the
    * stable ordered-concat idiom and serialize ONE JSON request per
    * group — used by the log, metric, and trace writers. `record` is
    * the per-row pdata struct; `wrap` turns the collected record array
    * + resource attrs into the request struct to `to_json`.
    *
    * `tiebreakCols` must cover EVERY serialized column: orderKey ties
    * get a content-hash tiebreak because without it tie order depends
    * on shuffle input order and a re-run at different parallelism
    * could swap records, breaking byte-identical output (equal-hash
    * ties are identical records, so any order serializes the same
    * bytes). */
  private def groupedRequest(df: DataFrame, groupKeys: Seq[String],
      orderKey: String, tiebreakCols: Seq[String],
      tags: Map[String, String], record: Column,
      wrap: (Column, Column) => Column,
      extraRes: Seq[(String, Column)] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tiebreak = xxhash64(tiebreakCols.distinct.map(col): _*)
    val byG = Window.partitionBy(groupKeys.map(col): _*)
      .orderBy(col(orderKey), tiebreak)
    val full = byG.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // extraRes columns must be group-constant (resource-level fields
    // like host/service) — they are read off the group's first row
    val resAttrs = filter(
      array(extraRes.map { case (k, v) => strAttr(k, v) } ++
        groupKeys.map(k => strAttr(k, col(k))) ++
        tags.toSeq.sortBy(_._1).map { case (k, v) => strAttr(k, lit(v)) }: _*),
      a => a.getField("value").getField("stringValue").isNotNull)
    df.select(groupKeys.map(col) :+
        row_number().over(byG).as("__rn__") :+
        collect_list(record).over(full).as("__recs__") :+
        resAttrs.as("__res__"): _*)
      .where(col("__rn__") === 1)
      .select(groupKeys.map(col) :+
        to_json(wrap(col("__recs__"), col("__res__"))).as("payload") :+
        size(col("__recs__")).as("n_records"): _*)
  }

  /** Flusher-side OTLP/JSON **metrics** serialization —
    * `ConvertPipelineEventToOtlpMetric`
    * (`pkg/protocol/converter/otlp.go:230-289`): one Metric per metric
    * row, family picked by `typeKey` exactly as the reference switches
    * on `MetricType`:
    *  - `gauge` → Gauge, one double-valued NumberDataPoint
    *    (`appgendNumberDatapoint` always `SetDoubleValue`, otlp.go:380-387);
    *  - `counter` → Sum with DELTA temporality (otlp.go:251-254);
    *  - `summary` → Summary with sum/count + quantileValues
    *    (otlp.go:389-407);
    *  - `histogram` → Histogram with count, optional sum/min/max,
    *    explicitBounds + bucketCounts (otlp.go:409-436);
    *  - `exp_histogram` → ExponentialHistogram with scale/zeroCount and
    *    positive/negative (offset, bucketCounts) (otlp.go:438-470);
    *  - anything else (untyped/meter) is SKIPPED, as the reference's
    *    switch does (otlp.go:245-246,270-271).
    * Family-specific columns are optional — an absent column reads as
    * null and the family simply never fires. Data-point attributes come
    * from `attrKeys`; resource attributes are the group keys + static
    * tags. One ExportMetricsServiceRequest JSON payload per group;
    * `OtlpMetricParser(this(df))` round-trips to the exact metric-log
    * row set. Pure Catalyst: windowed ordered-concat + ONE to_json. */
  final case class OtlpMetricWriter(
      nameKey: String,
      timeKey: String, // unix nanos
      orderKey: String,
      groupKeys: Seq[String],
      typeKey: String = "metric_type",
      valueKey: String = "value",
      sumKey: String = "m_sum",
      countKey: String = "m_count",
      minKey: String = "m_min",
      maxKey: String = "m_max",
      quantilesKey: String = "quantiles", // array<struct<quantile,value>>
      boundsKey: String = "bounds", // array<double>
      bucketCountsKey: String = "bucket_counts", // array<long>
      scaleKey: String = "scale",
      zeroCountKey: String = "zero_count",
      posOffsetKey: String = "pos_offset",
      posCountsKey: String = "pos_counts",
      negOffsetKey: String = "neg_offset",
      negCountsKey: String = "neg_counts",
      attrKeys: Seq[String] = Nil,
      tags: Map[String, String] = Map.empty) {
    require(groupKeys.nonEmpty, "need at least one group key")

    def apply(df: DataFrame): DataFrame = {
      val attrs = strAttrs(attrKeys)
      val tn = col(timeKey).cast("long").cast("string")
      val mtype = col(typeKey)
      val numDp = array(struct(attrs.as("attributes"),
        tn.as("timeUnixNano"),
        optCol(df, valueKey, "double").cast("double").as("asDouble")))
      val counts = optCol(df, countKey, "long").cast("long")
      val summaryDp = array(struct(attrs.as("attributes"),
        tn.as("timeUnixNano"), counts.as("count"),
        optCol(df, sumKey, "double").cast("double").as("sum"),
        optCol(df, quantilesKey,
          "array<struct<quantile:double,value:double>>")
          .as("quantileValues")))
      val histDp = array(struct(attrs.as("attributes"),
        tn.as("timeUnixNano"), counts.as("count"),
        optCol(df, sumKey, "double").cast("double").as("sum"),
        optCol(df, minKey, "double").cast("double").as("min"),
        optCol(df, maxKey, "double").cast("double").as("max"),
        optCol(df, boundsKey, "array<double>").as("explicitBounds"),
        optCol(df, bucketCountsKey, "array<long>").as("bucketCounts")))
      def side(offKey: String, cntKey: String) =
        struct(optCol(df, offKey, "long").cast("long").as("offset"),
          optCol(df, cntKey, "array<long>").as("bucketCounts"))
      val expDp = array(struct(attrs.as("attributes"),
        tn.as("timeUnixNano"), counts.as("count"),
        optCol(df, sumKey, "double").cast("double").as("sum"),
        optCol(df, minKey, "double").cast("double").as("min"),
        optCol(df, maxKey, "double").cast("double").as("max"),
        optCol(df, scaleKey, "long").cast("long").as("scale"),
        optCol(df, zeroCountKey, "long").cast("long").as("zeroCount"),
        side(posOffsetKey, posCountsKey).as("positive"),
        side(negOffsetKey, negCountsKey).as("negative")))
      // pdata JSON marshals enums as ints: 1 = DELTA
      val metric = struct(
        col(nameKey).cast("string").as("name"),
        when(mtype === "gauge", struct(numDp.as("dataPoints"))).as("gauge"),
        when(mtype === "counter", struct(numDp.as("dataPoints"),
          lit(1).as("aggregationTemporality"))).as("sum"),
        when(mtype === "summary",
          struct(summaryDp.as("dataPoints"))).as("summary"),
        when(mtype === "histogram",
          struct(histDp.as("dataPoints"))).as("histogram"),
        when(mtype === "exp_histogram",
          struct(expDp.as("dataPoints"))).as("exponentialHistogram"))
      val known =
        mtype.isin("gauge", "counter", "summary", "histogram",
          "exp_histogram")
      // the tie tiebreak must hash EVERY serialized column — equal-key
      // rows with different values would otherwise order by shuffle
      // placement, breaking byte-identical re-runs (the OtlpLogWriter
      // contract); value-bearing columns are optional, hash the ones
      // that exist
      val valueCols = Seq(valueKey, sumKey, countKey, minKey, maxKey,
        quantilesKey, boundsKey, bucketCountsKey, scaleKey, zeroCountKey,
        posOffsetKey, posCountsKey, negOffsetKey, negCountsKey)
        .filter(df.columns.contains)
      groupedRequest(df.where(known), groupKeys, orderKey,
        Seq(nameKey, timeKey, typeKey) ++ attrKeys ++ valueCols, tags,
        metric,
        (recs, res) => struct(array(struct(
          struct(res.as("attributes")).as("resource"),
          array(struct(recs.as("metrics")))
            .as("scopeMetrics"))).as("resourceMetrics")))
    }
  }

  /** Flusher-side OTLP/JSON **traces** serialization —
    * `ConvertPipelineEventToOtlpSpan`
    * (`pkg/protocol/converter/otlp.go:292-361`): one Span per row with
    * ids, numeric kind, start/end nanos, attributes from `attrKeys`,
    * numeric status code + optional message, trace state, and optional
    * events/links carried as array-typed columns (attribute-less — the
    * common shape; the reference copies tags per event/link the same
    * way). Resource attributes are the group keys + static tags, with
    * optional `host.name`/`service.name` pulled from `hostKey`/
    * `serviceKey` (the trace parser's shortcut fields); scope
    * name/version from config, as `setScope` reads them from group tags
    * (otlp.go:364-378). One ExportTraceServiceRequest JSON per group;
    * `OtlpTraceParser(this(df))` round-trips the span-log row set. */
  final case class OtlpTraceWriter(
      nameKey: String,
      orderKey: String,
      groupKeys: Seq[String],
      traceIdKey: String = "trace_id",
      spanIdKey: String = "span_id",
      parentSpanIdKey: String = "parent_span_id",
      kindKey: String = "kind", // numeric ptrace.SpanKind
      startKey: String = "start_nano",
      endKey: String = "end_nano",
      statusCodeKey: String = "status_code", // numeric ptrace.StatusCode
      statusMessageKey: String = "status_message",
      traceStateKey: String = "trace_state",
      eventsKey: String = "events", // array<struct<name:string,time:long>>
      linksKey: String = "links", // array<struct<traceId:string,spanId:string>>
      hostKey: String = "host",
      serviceKey: String = "service",
      scopeName: String = "",
      scopeVersion: String = "",
      attrKeys: Seq[String] = Nil,
      tags: Map[String, String] = Map.empty) {
    require(groupKeys.nonEmpty, "need at least one group key")

    def apply(df: DataFrame): DataFrame = {
      val attrs = strAttrs(attrKeys)
      val events = transform(
        optCol(df, eventsKey, "array<struct<name:string,time:long>>"),
        e => struct(e.getField("time").cast("string").as("timeUnixNano"),
          e.getField("name").as("name")))
      val links = optCol(df, linksKey,
        "array<struct<traceId:string,spanId:string>>")
      val span = struct(
        col(traceIdKey).cast("string").as("traceId"),
        col(spanIdKey).cast("string").as("spanId"),
        optCol(df, parentSpanIdKey, "string").cast("string")
          .as("parentSpanId"),
        col(nameKey).cast("string").as("name"),
        col(kindKey).cast("int").as("kind"),
        optCol(df, traceStateKey, "string").cast("string").as("traceState"),
        col(startKey).cast("long").cast("string").as("startTimeUnixNano"),
        col(endKey).cast("long").cast("string").as("endTimeUnixNano"),
        attrs.as("attributes"),
        events.as("events"),
        links.as("links"),
        struct(
          optCol(df, statusCodeKey, "int").cast("int").as("code"),
          optCol(df, statusMessageKey, "string").cast("string")
            .as("message")).as("status"))
      // host.name / service.name resource attributes (group-constant,
      // the trace parser's shortcut fields) + scope name/version
      val extraRes =
        (if (df.columns.contains(hostKey))
           Seq("host.name" -> col(hostKey)) else Nil) ++
        (if (df.columns.contains(serviceKey))
           Seq("service.name" -> col(serviceKey)) else Nil)
      val scope = struct(
        (if (scopeName.nonEmpty) lit(scopeName)
         else lit(null).cast("string")).as("name"),
        (if (scopeVersion.nonEmpty) lit(scopeVersion)
         else lit(null).cast("string")).as("version"))
      // hash every serialized column that exists (same determinism
      // contract as the metric writer's tiebreak)
      val spanCols = Seq(traceIdKey, spanIdKey, nameKey, startKey,
        endKey, kindKey, parentSpanIdKey, statusCodeKey,
        statusMessageKey, traceStateKey, eventsKey, linksKey)
        .filter(df.columns.contains)
      groupedRequest(df, groupKeys, orderKey,
        spanCols ++ attrKeys, tags,
        span,
        (recs, res) => struct(array(struct(
          struct(res.as("attributes")).as("resource"),
          array(struct(scope.as("scope"), recs.as("spans")))
            .as("scopeSpans"))).as("resourceSpans")),
        extraRes = extraRes)
    }
  }
}
