package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Routing (SURVEY.md §2.5 router + C++ §3.1 step 5) — fan-out of one
  * stream to many sinks. Two distinct reference semantics, both kept:
  *
  *  1. Go `aggregator_logstore_router`: FIRST-MATCH-WINS over anchored
  *     regexes, each row goes to exactly one sink (or default / dropped).
  *  2. C++ `Router::Route`: MULTICAST — every matching condition gets a
  *     copy of the row.
  *
  * Both are realized as a routing COLUMN (+ per-sink filters), never a
  * driver-side loop: a single `when` chain is one codegen'd projection,
  * and the fan-out write partitions by it — no extra shuffle.
  */
object RouteOps {

  /** First-match-wins regex router.
    *
    * Reference: `plugins/aggregator/logstorerouter/aggregator_router.go:
    * 97-136` — value of `sourceKey` matched against `rules(i).regex`
    * ANCHORED (full match: `:99` checks indexArray spans whole value),
    * first match wins; non-matching rows → `defaultSink` unless
    * `dropDisMatch` (`:104-110`); missing key → default or drop
    * (`:129-135`).
    */
  final case class Rule(regex: String, sink: String)

  final case class LogstoreRouter(
      sourceKey: String,
      rules: Seq[Rule],
      defaultSink: String = "default",
      dropDisMatch: Boolean = false) {

    def routingColumn: Column = {
      val src = col(sourceKey)
      val chain = rules.foldLeft(when(lit(false), lit(null: String))) {
        (acc, r) => acc.when(src.isNotNull && src.rlike(s"^(?:${r.regex})$$"), lit(r.sink))
      }
      if (dropDisMatch) chain // null → dropped
      else chain.otherwise(lit(defaultSink))
    }

    def apply(df: DataFrame): DataFrame = {
      val routed = df.withColumn("__sink__", routingColumn)
      if (dropDisMatch) routed.filter(col("__sink__").isNotNull) else routed
    }

    /** The per-sink split (for sink-specific TEST pipelines). CACHES the
      * full routed DataFrame so the per-sink filters share one pass —
      * fine at test scale, but at 100 TB callers must use the
      * single-pass `FanOutWriter` / `MulticastRouter.explodeSinks`
      * partitioned-write path instead of materializing the corpus in
      * cache. */
    def split(df: DataFrame): Map[String, DataFrame] = {
      val routed = apply(df).cache()
      val sinks = rules.map(_.sink) ++ (if (dropDisMatch) Nil else Seq(defaultSink))
      sinks.distinct.map(s => s -> routed.filter(col("__sink__") === s)).toMap
    }
  }

  /** Dynamic sink/topic template — the kafka flusher's `Topic` pattern.
    *
    * Reference: `plugins/flusher/kafkav2/flusher_kafka_v2.go:234-239,
    * 296-306` (per-log `FormatTopic`), grammar
    * `pkg/fmtstr/formatstring.go:104,415-424` (`%{key}` tokens; a `%`
    * not followed by `{` falls through as a literal — there is no `%%`
    * escape), fallback `pkg/fmtstr/format_topic.go:18-24`: a
    * key absent from the value map substitutes ITS OWN NAME. Keys carry
    * the converter's `content.` / `tag.` prefixes
    * (`pkg/protocol/converter/converter.go:46-47`) — both address the
    * flat column space here, so the prefix is stripped.
    *
    * Compiles to ONE `concat` projection (codegen'd, no UDF); the
    * resulting column is the fan-out writer's partition column, so
    * dynamic topics ride the existing single-pass partitioned write.
    */
  final case class TopicTemplate(pattern: String) {
    require(pattern.nonEmpty, "empty topic pattern")

    /** (literal-before, key) pairs + trailing literal. The reference
      * lexer has NO `%%` escape — a `%` not followed by `{` is already
      * literal (fmtstr/formatstring.go:415-424 falls through), so
      * literals pass through untouched. */
    private val (parts: Seq[(String, String)], tail: String) = {
      val token = "%\\{([^}]*)\\}".r
      val ps = Seq.newBuilder[(String, String)]
      var last = 0
      for (m <- token.findAllMatchIn(pattern)) {
        ps += ((pattern.substring(last, m.start), m.group(1)))
        last = m.end
      }
      (ps.result(), pattern.substring(last))
    }

    /** Referenced keys with their converter prefix stripped. */
    val keys: Seq[String] = parts.map(_._2).map(stripPrefix)

    private def stripPrefix(k: String): String =
      Seq("content.", "tag.", "field.").find(k.startsWith)
        .fold(k)(p => k.substring(p.length))

    /** Per-row topic column; a missing column or null value falls back
      * to the literal key name, as `FormatTopic` does. */
    def column(df: DataFrame): Column = {
      val cols = parts.flatMap { case (lead, key) =>
        val c = stripPrefix(key)
        val v =
          if (df.columns.contains(c)) coalesce(col(c).cast("string"), lit(key))
          else lit(key)
        Seq(lit(lead), v)
      } :+ lit(tail)
      concat(cols: _*)
    }

    def apply(df: DataFrame): DataFrame =
      df.withColumn("__sink__", column(df))
  }

  /** C++ multicast router: each sink has a Column condition; every
    * matching sink receives the row (copies).
    * Reference: `core/pipeline/route/Router.cpp:49-81` (all matching
    * flushers get the group), conditions `core/pipeline/route/
    * Condition.{h,cpp}` (event-type / tag-equality).
    */
  final case class MulticastRouter(conditions: Seq[(String, Column)],
      // per-sink columns to blank after routing — the C++ Condition's
      // tag-drop (`core/pipeline/route/Condition.cpp:105-112`: a
      // tag-equality condition may remove the matched tag from the
      // group it routes)
      dropTags: Map[String, Seq[String]] = Map.empty) {
    /** One filtered view per sink — Catalyst shares the scan via
      * ReuseExchange / the caller caches upstream once. */
    def split(df: DataFrame): Map[String, DataFrame] =
      conditions.map { case (s, c) =>
        val routed = df.filter(c)
        s -> dropTags.getOrElse(s, Nil).foldLeft(routed)((d, t) =>
          d.withColumn(t, lit(null).cast(d.schema(t).dataType)))
      }.toMap

    /** Single-pass variant: explode the matched-sink array so one write
      * with partitionBy(__sink__) covers all sinks (duplicate rows for
      * multi-match, exactly the reference's copy semantics). */
    def explodeSinks(df: DataFrame): DataFrame = {
      val arr = array(conditions.map { case (s, c) =>
        when(c, lit(s)).otherwise(lit(null: String))
      }: _*)
      df.withColumn("__sink__", explode(filter(arr, _.isNotNull)))
    }
  }
}
