package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Cols

/** Syslog frame parsing — the service_syslog input's parser family
  * (SURVEY.md §2 service inputs), re-expressed as batch projections so
  * the same code serves the streaming socket adapter and a
  * DuckDB-verifiable batch query.
  *
  * Reference: `plugins/input/syslog/parser.go:27-208` (parseResult
  * shape, rfc3164 / rfc5424 / auto parser selection,
  * `ignoreParseFailure` keeping the raw line as content), field names
  * `plugins/input/syslog/syslog.go:412-444` (`_hostname_`, `_program_`,
  * `_priority_`, `_facility_`, `_severity_`, `_content_`,
  * `_process_id_`, `_message_id_`, `_structured_data_`).
  *
  * Failure semantics (parser.go:100-107): `ignoreParseFailure=true`
  * keeps the raw line in `_content_` with the newParseResult defaults
  * (priority/facility/severity −1, empty hostname/program);
  * `false` drops the row. The reference stamps `time.Now()` on failed
  * rows — a wall-clock, not data, value; here failed rows carry a null
  * `_ts_` (documented divergence: deterministic over re-runs).
  *
  * RFC3164 has no year and a host-local zone; the reference resolves
  * both from the collector host (`time.Local`, current year). Year and
  * zone are config here (`year` parameter, session time zone) — the
  * same information, explicit instead of ambient.
  */
object SyslogOps {

  private val MonthNames = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  val FieldNames: Seq[String] = Seq("_hostname_", "_program_",
    "_process_id_", "_message_id_", "_priority_", "_facility_",
    "_severity_", "_ts_", "_structured_data_", "_content_")

  /** One parser format = a match predicate + field expressions over the
    * source column. Both are pure Catalyst, so AutoParser can merge
    * formats per-row in a single pass. */
  sealed trait Format {
    def ok(src: Column): Column
    def fields(src: Column): Map[String, Column]
    final def apply(df: DataFrame, sourceKey: String,
        ignoreParseFailure: Boolean): DataFrame =
      finishSyslog(df, sourceKey, ignoreParseFailure, ok(col(sourceKey)),
        fields(col(sourceKey)))
  }

  /** Month name → 1-12; an unknown name yields 0, which
    * try_make_timestamp folds to null (= parse failure). Deliberately
    * NOT nullif-based: nullif is a RuntimeReplaceable that Spark 4
    * rewrites through a `With` expression, and RewriteWithExpression
    * hoists the bound child into its own UNGUARDED project column —
    * which then evaluates on non-matching rows where the packed group
    * array is garbage and element_at throws. */
  private def monthNum(mon: Column): Column =
    array_position(array(MonthNames.map(lit): _*), mon).cast("int")

  /** `<PRI>Mmm dd hh:mm:ss [hostname] tag[pid]: content`.
    *
    * `hasHostname=false` mirrors the reference's preset-hostname mode
    * (parser.go:96-98: when the collector supplies the hostname, the
    * line's header goes straight from timestamp to tag). */
  final case class Rfc3164(
      hasHostname: Boolean = true,
      defaultHostname: String = "",
      year: Int = 2025) extends Format {

    private val hostPart = if (hasHostname) "(\\S+) " else "()"
    // groups: 1 pri, 2 mon, 3 day, 4 h, 5 m, 6 s, 7 host, 8 tag,
    //         9 pid, 10 content
    private[ops] val regex =
      "^<(\\d{1,3})>([A-Z][a-z]{2})\\s+(\\d{1,2}) " +
        "(\\d{2}):(\\d{2}):(\\d{2}) " + hostPart +
        "([^:\\[ ]+)(?:\\[([^\\]]*)\\])?: ?(.*)$"

    /** Header timestamp, built with try_make_timestamp so an
      * out-of-range-but-regex-admitted date ('Feb 30', hour 99) nulls
      * instead of DATETIME_FIELD_OUT_OF_RANGE killing the job under
      * ANSI — Go time.Parse fails the same lines, so null == parse
      * failure here. try_cast on the pieces keeps the expression total
      * even if a predicate reorder evaluates it on a non-matching row
      * (where the packed groups are garbage). */
    private def tsExpr(src: Column): Column = {
      val g = Cols.packGroups(src, regex, 10)
      call_function("try_make_timestamp",
        lit(year), monthNum(try_element_at(g, lit(2))),
        try_element_at(g, lit(3)).try_cast("int"),
        try_element_at(g, lit(4)).try_cast("int"),
        try_element_at(g, lit(5)).try_cast("int"),
        try_element_at(g, lit(6)).try_cast("decimal(8,6)"))
    }

    override def ok(src: Column): Column =
      src.isNotNull && src.rlike(regex) &&
        // try_cast: a predicate reorder may evaluate this conjunct on a
        // non-matching row, where the extract is "" and a plain ANSI
        // cast would throw
        regexp_extract(src, regex, 1).try_cast("int") <= 191 &&
        tsExpr(src).isNotNull // subsumes the month-name check

    override def fields(src: Column): Map[String, Column] = {
      val g = Cols.packGroups(src, regex, 10)
      val pri = element_at(g, 1).cast("int")
      val ts = tsExpr(src)
      Map(
        "_hostname_" -> (if (hasHostname) element_at(g, 7)
          else lit(defaultHostname)),
        "_program_" -> element_at(g, 8),
        // when-based, not nullif: see monthNum on With-expression hoisting
        "_process_id_" -> when(element_at(g, 9) =!= "", element_at(g, 9)),
        "_priority_" -> pri,
        "_facility_" -> (pri / 8).cast("int"),
        "_severity_" -> pmod(pri, lit(8)).cast("int"),
        "_ts_" -> ts,
        "_content_" -> element_at(g, 10))
    }
  }

  /** `<PRI>1 TIMESTAMP HOSTNAME APP-NAME PROCID MSGID SD [MSG]` with
    * `-` as the nil value. Structured data is parsed and rendered
    * canonically (sorted element ids, sorted param keys,
    * `id{k=v,…}id2{…}`) — the reference JSON-marshals the same map with
    * the same key ordering (syslog.go:433-435). */
  final case class Rfc5424() extends Format {

    private val sdElem = "\\[(?:[^\\]\"]|\"(?:[^\"\\\\]|\\\\.)*\")*\\]"
    // groups: 1 pri, 2 version, 3 ts, 4 host, 5 app, 6 procid, 7 msgid,
    //         8 sd, 9 msg
    private[ops] val regex =
      "^<(\\d{1,3})>(\\d{1,2}) (\\S+) (\\S+) (\\S+) (\\S+) (\\S+) " +
        s"(-|(?:$sdElem)+)(?: (.*))?$$"

    override def ok(src: Column): Column =
      src.isNotNull && src.rlike(regex) &&
        // try_cast: total even if a predicate reorder evaluates the
        // conjunct on a non-matching row (extract "" → ANSI cast throws)
        regexp_extract(src, regex, 1).try_cast("int") <= 191 &&
        // a present timestamp must parse as RFC3339
        (regexp_extract(src, regex, 3) === "-" ||
          try_to_timestamp(regexp_extract(src, regex, 3)).isNotNull)

    private def nilable(c: Column): Column =
      when(c === "-", lit(null: String)).otherwise(c)

    override def fields(src: Column): Map[String, Column] = {
      val g = Cols.packGroups(src, regex, 9)
      val pri = element_at(g, 1).cast("int")
      val tsTok = element_at(g, 3)
      Map(
        "_hostname_" -> coalesce(nilable(element_at(g, 4)), lit("")),
        "_program_" -> coalesce(nilable(element_at(g, 5)), lit("")),
        "_process_id_" -> nilable(element_at(g, 6)),
        "_message_id_" -> nilable(element_at(g, 7)),
        "_priority_" -> pri,
        "_facility_" -> (pri / 8).cast("int"),
        "_severity_" -> pmod(pri, lit(8)).cast("int"),
        "_ts_" -> when(tsTok =!= "-", try_to_timestamp(tsTok)),
        "_structured_data_" -> sdCanonical(element_at(g, 8)),
        "_content_" -> coalesce(element_at(g, 9), lit("")))
    }
  }

  /** Try RFC3164 first, then RFC5424 (parser.go:181-201 registers and
    * tries in that order) — merged per-row in ONE pass: both field sets
    * are column expressions, so the choice is a `when` chain, not a
    * union of filtered scans. */
  final case class Auto(
      hasHostname: Boolean = true,
      defaultHostname: String = "",
      year: Int = 2025) extends Format {

    private val p3 = Rfc3164(hasHostname, defaultHostname, year)
    private val p5 = Rfc5424()

    override def ok(src: Column): Column = p3.ok(src) || p5.ok(src)

    override def fields(src: Column): Map[String, Column] = {
      val f3 = p3.fields(src)
      val f5 = p5.fields(src)
      val is3 = p3.ok(src)
      FieldNames.map { name =>
        name -> ((f3.get(name), f5.get(name)) match {
          case (Some(a), Some(b)) => when(is3, a).otherwise(b)
          case (Some(a), None) => when(is3, a)
          case (None, Some(b)) => when(!is3, b)
          case (None, None) => lit(null: String)
        })
      }.toMap
    }
  }

  /** RFC5424 param-value unescape: `\"` `\\` `\]` (RFC 5424 §6.3.3).
    * `\\` is protected through a placeholder so `\\"` decodes to `\"`
    * (escape-precedence order). */
  private def sdUnescape(v: Column): Column =
    when(!v.contains("\\"), v).otherwise(
      translate(
        regexp_replace(regexp_replace(regexp_replace(
          v, "\\\\\\\\", "\u0002"), "\\\\\"", "\""), "\\\\\\]", "]"),
        "\u0002", "\\"))

  /** Canonical structured-data rendering: elements sorted by id, params
    * sorted by key — `meta{seq=1,svc=x}origin{}`; `-` → empty. */
  private[ops] def sdCanonical(sd: Column): Column =
    when(sd === "-" || sd === "", lit("")).otherwise {
      val inner = "\\[((?:[^\\]\"]|\"(?:[^\"\\\\]|\\\\.)*\")*)\\]"
      val pairRe = "([^ =\"\\]]+)=\"((?:[^\"\\\\]|\\\\.)*)\""
      Cols.let(regexp_extract_all(sd, lit(inner), lit(1))) { elems =>
        array_join(array_sort(transform(elems, e => {
          val pairs = array_sort(zip_with(
            regexp_extract_all(e, lit(pairRe), lit(1)),
            transform(regexp_extract_all(e, lit(pairRe), lit(2)),
              v => sdUnescape(v)),
            (k, v) => concat(k, lit("="), v)))
          concat(regexp_extract(e, "^([^ ]+)", 1),
            lit("{"), array_join(pairs, ","), lit("}"))
        })), "")
      }
    }

  /** Shared failure policy: parse-ok rows project `fields`; failed rows
    * either carry the newParseResult defaults (ignore=true) or drop. */
  private def finishSyslog(
      df: DataFrame,
      sourceKey: String,
      ignoreParseFailure: Boolean,
      ok: Column,
      fields: Map[String, Column]): DataFrame = {
    val okCol = "__syslog_ok__"
    val d = df.withColumn(okCol, coalesce(ok, lit(false)))
    val withFields = FieldNames.foldLeft(d) { (acc, name) =>
      val onFail: Column = name match {
        case "_priority_" | "_facility_" | "_severity_" => lit(-1)
        case "_content_" => col(sourceKey)
        case "_hostname_" | "_program_" => lit("")
        case "_ts_" => lit(null).cast("timestamp")
        case _ => lit(null).cast("string")
      }
      fields.get(name) match {
        case Some(value) =>
          acc.withColumn(name, when(col(okCol), value).otherwise(onFail))
        case None => acc // field family absent from this format (3164 has
                         // no msgid/structured-data), as in the reference
      }
    }
    val out = if (ignoreParseFailure) withFields
      else withFields.filter(col(okCol))
    out.drop(okCol)
  }
}
