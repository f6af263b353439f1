package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Aggregates (SURVEY.md §2.10) — the reference's numeric "aggregation"
  * is counters per group; the north star asks for per-sink event counts
  * per conv_id / tool / time bucket and window functions over turn_idx
  * ordering. All built-in hash aggregation: Catalyst plans
  * partial (map-side) + final automatically, so a 10^12-row groupBy
  * shuffles only the partial aggregates, not rows.
  */
object AggOps {

  /** Per-sink counts per (conv_id, tool, time bucket). `date_trunc`
    * buckets (not `window()`) keep the output schema flat for
    * cross-engine verification; the streaming runner uses `window()`.
    */
  def sinkAggregates(
      df: DataFrame,
      sinkCol: String = "__sink__",
      bucket: String = "hour"): DataFrame =
    df.groupBy(
        col(sinkCol),
        col("tool"),
        date_trunc(bucket, col("ts")).as("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("conv_id")).as("n_convs"))

  /** Per-conversation ordered stats over the turn_idx ordering —
    * exercises the range-partition + in-partition sort contract
    * (aggregator_context parity, SURVEY.md §2.8). */
  def conversationStats(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    df.withColumn("prev_role", lag(col("role"), 1).over(w))
      .withColumn("turn_rank", row_number().over(w))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        max(col("turn_idx")).as("max_turn"),
        sum(when(col("role") === col("prev_role"), 1).otherwise(0)).as("role_repeats"),
        min(col("ts")).as("started_at"),
        max(col("ts")).as("ended_at"))
  }

  /** Multiline re-segmentation: group consecutive turns of a conversation
    * into segments per the reference's Start/Continue/End pattern state
    * machine, then concatenate.
    * Reference: `core/plugin/processor/inner/
    * ProcessorSplitMultilineLogStringNative.cpp:130-295` (the per-group
    * scan), `core/file_server/MultilineOptions.h:29-44` (+ `.cpp:126-158`
    * config normalization), `ProcessorMergeMultilineLogNative.cpp`
    * (merge-back). Patterns are SEARCH semantics (BoostRegexSearch),
    * matching `rlike`.
    *
    * Valid combinations and their execution strategy:
    *  - start-only, end-only, start+continue: pure Catalyst window
    *    prefix-sums — fully distributed, no per-group state. (For
    *    start+continue, a line matching BOTH patterns is treated as a
    *    start; the reference's sequential scan would treat it as a
    *    continuation of an open record — disjoint patterns, the
    *    practical case, are exact.)
    *  - start+end, continue+end: the record boundary is genuinely
    *    sequential (idle↔partial automaton), so these run the faithful
    *    per-conversation FSM via `flatMapGroups` — conversations are the
    *    distribution unit, exactly the reference's one-file event group.
    *  - all three given → continue dropped; continue alone → ignored
    *    (reference normalization, MultilineOptions.cpp:126-158).
    *
    * Output: (convCol, segment, first_turn, n_lines, merged_text).
    * Matched segments get increasing positive ids in turn order;
    * unmatched lines follow `UnmatchedContentTreatment`: SINGLE_LINE
    * keeps each as its own segment with id `-turn-1` (discardUnmatched =
    * false), DISCARD drops them.
    */
  final case class MultilineMerge(
      startPattern: Option[String] = None,
      continuePattern: Option[String] = None,
      endPattern: Option[String] = None,
      convCol: String = "conv_id",
      orderCol: String = "turn_idx",
      textCol: String = "text",
      discardUnmatched: Boolean = false) {

    // Config normalization (MultilineOptions.cpp:126-158): S+C+E drops
    // the continue pattern; a lone continue pattern disables multiline.
    private val (startP, contP, endP) =
      (startPattern, continuePattern, endPattern) match {
        case (Some(s), Some(_), Some(e)) => (Some(s), None, Some(e))
        case (None, Some(_), None)       => (None, None, None)
        case other                       => other
      }

    def apply(df: DataFrame): DataFrame = (startP, contP, endP) match {
      case (Some(s), None, None)    => startOnly(df, s)
      case (None, None, Some(e))    => endOnly(df, e)
      case (Some(s), Some(c), None) => startContinue(df, s, c)
      case (Some(_), None, Some(_)) | (None, Some(_), Some(_)) => fsm(df)
      case _                        => passThrough(df)
    }

    private def w = Window.partitionBy(col(convCol)).orderBy(col(orderCol))

    private def merge(body: DataFrame): DataFrame =
      body.groupBy(col(convCol), col("__seg__").as("segment"))
        .agg(
          min(col(orderCol)).as("first_turn"),
          count(lit(1)).as("n_lines"),
          array_join(transform(
            array_sort(collect_list(struct(col(orderCol).as("i"), col(textCol).as("t")))),
            x => x.getField("t")), "\n").as("merged_text"))

    private def unmatchedOrDrop(flagged: DataFrame, isUnmatched: Column,
        matchedSeg: Column): DataFrame = {
      val body = if (discardUnmatched) flagged.filter(!isUnmatched)
        else flagged.withColumn("__seg__",
          when(isUnmatched, -col(orderCol).cast("long") - 1)
            .otherwise(matchedSeg))
      if (discardUnmatched) body.withColumn("__seg__", matchedSeg) else body
    }

    /** New record at each start match; anything until the next start
      * appends; prefix lines before the first start are unmatched. */
    private def startOnly(df: DataFrame, s: String): DataFrame = {
      val flagged = df
        .withColumn("__start__", when(col(textCol).rlike(s), 1).otherwise(0))
        .withColumn("__run__", sum(col("__start__")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      merge(unmatchedOrDrop(flagged, col("__run__") === 0, col("__run__")))
    }

    /** Everything up to AND INCLUDING an end-matching line is one
      * record; lines after the last end (partial at EOF) are unmatched
      * (end-only mode, ProcessorSplitMultilineLogStringNative.cpp:
      * 162-167,232-246,289-307). */
    private def endOnly(df: DataFrame, e: String): DataFrame = {
      val flagged = df
        .withColumn("__end__", when(col(textCol).rlike(e), 1).otherwise(0))
        .withColumn("__lagseg__", coalesce(sum(col("__end__")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("__tot__",
          sum(col("__end__")).over(Window.partitionBy(col(convCol))))
      merge(unmatchedOrDrop(flagged, col("__lagseg__") === col("__tot__"),
        col("__lagseg__") + 1))
    }

    /** A start line opens a record; the maximal run of continue lines
      * after it appends; the first other line closes it (that line is a
      * new start, or unmatched — as are later continue lines with no
      * open record). */
    private def startContinue(df: DataFrame, s: String, c: String): DataFrame = {
      val flagged = df
        .withColumn("__start__", when(col(textCol).rlike(s), 1).otherwise(0))
        .withColumn("__cont__", when(col(textCol).rlike(c), 1).otherwise(0))
        .withColumn("__run__", sum(col("__start__")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // within a run: any non-start non-continue line poisons the rest
      val wSeg = Window.partitionBy(col(convCol), col("__run__"))
        .orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bad = sum(when(col("__start__") === 1 || col("__cont__") === 1, 0)
        .otherwise(1)).over(wSeg)
      val withBad = flagged.withColumn("__bad__", bad)
      merge(unmatchedOrDrop(withBad,
        col("__run__") === 0 || col("__bad__") > 0, col("__run__")))
    }

    /** No multiline config: every line is its own (matched) record. */
    private def passThrough(df: DataFrame): DataFrame =
      df.select(col(convCol),
        (col(orderCol).cast("long") + 1).as("segment"),
        col(orderCol).as("first_turn"),
        lit(1L).as("n_lines"),
        col(textCol).as("merged_text"))

    /** Faithful sequential automaton for the start+end / continue+end
      * combinations (idle↔partial with chunk emission on the END line,
      * EOF-partial handled as unmatched), one conversation per group.
      * State is one conversation's lines — the same in-memory unit the
      * reference holds as a PipelineEventGroup. */
    private def fsm(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val stepper = MultilineFsm(startP, contP, endP, discardUnmatched)
      val proj = df.select(col(convCol).cast("string"),
        col(orderCol).cast("long"), col(textCol).cast("string"))
        .as[(String, Long, String)]
      val out = proj.groupByKey(_._1).flatMapGroups { (conv, it) =>
        val lines = it.toArray.sortBy(_._2).iterator
          .map { case (_, i, t) => (i, t) }
        val (recs, st) = stepper.run(stepper.initial, lines)
        (recs ++ stepper.flush(st)).iterator
          .map(r => (conv, r.segment, r.first, r.nLines, r.text))
      }
      // restore the INPUT's conv/order column types (the typed FSM ran
      // over strings/longs) so FSM and window modes emit one schema
      out.toDF(convCol, "segment", "first_turn", "n_lines", "merged_text")
        .withColumn(convCol, col(convCol).cast(df.schema(convCol).dataType))
        .withColumn("first_turn",
          col("first_turn").cast(df.schema(orderCol).dataType))
    }
  }

  object MultilineMerge {
    /** Start-pattern-only mode (the common config). */
    def apply(startPattern: String): MultilineMerge =
      MultilineMerge(startPattern = Some(startPattern))
    def apply(startPattern: String, discardUnmatched: Boolean): MultilineMerge =
      MultilineMerge(startPattern = Some(startPattern),
        discardUnmatched = discardUnmatched)
  }

  /** The full reference multiline automaton as a resumable stepper —
    * one transition function over (state, line) covering ALL five valid
    * pattern combinations, so a STREAM can carry the open chunk across
    * micro-batches (`streaming/StreamingMultiline`) with semantics
    * identical to the batch scan.
    * Reference: `ProcessorSplitMultilineLogStringNative.cpp:130-295`. */
  private[graft] final case class MultilineFsm(
      startPattern: Option[String],
      continuePattern: Option[String],
      endPattern: Option[String],
      discardUnmatched: Boolean) {
    // reference config normalization (MultilineOptions.cpp:126-158)
    val (sOpt, cOpt, eOpt) =
      (startPattern, continuePattern, endPattern) match {
        case (Some(s), Some(_), Some(e)) => (Some(s), None, Some(e))
        case (None, Some(_), None)       => (None, None, None)
        case other                       => other
      }
    @transient private lazy val sRe = sOpt.map(java.util.regex.Pattern.compile)
    @transient private lazy val cRe = cOpt.map(java.util.regex.Pattern.compile)
    @transient private lazy val eRe = eOpt.map(java.util.regex.Pattern.compile)
    private def m(p: Option[java.util.regex.Pattern], t: String): Boolean =
      p.exists(_.matcher(if (t == null) "" else t).find())

    def initial: MultilineState =
      MultilineState(Vector.empty, Vector.empty,
        partial = sOpt.isEmpty && cOpt.isEmpty && eOpt.nonEmpty, 1L)

    /** No multiline configured (after normalization)? Each line is its
      * own MATCHED record — the reference's "ignore multiline config"
      * path and the batch operator's passThrough. */
    val disabled: Boolean = sOpt.isEmpty && cOpt.isEmpty && eOpt.isEmpty

    private def nn(t: String): String = if (t == null) "" else t

    /** The single matched-record constructor (chunk → record). */
    private def matchedRec(st: MultilineState): MultilineRec =
      MultilineRec(st.nextSeg, st.idxs.head, st.idxs.length.toLong,
        st.txts.map(nn).mkString("\n"))

    /** The single unmatched-lines constructor (SINGLE_LINE treatment). */
    private def unmatchedRecs(st: MultilineState): Seq[MultilineRec] =
      if (discardUnmatched) Nil
      else st.idxs.zip(st.txts).map { case (i, t) =>
        MultilineRec(-i - 1, i, 1L, nn(t))
      }

    /** Feed ordered lines; returns emitted records + carry-over state. */
    def run(st0: MultilineState, lines: Iterator[(Long, String)])
        : (Vector[MultilineRec], MultilineState) = {
      if (disabled)
        return (lines.map { case (i, t) =>
          MultilineRec(i + 1, i, 1L, nn(t))
        }.toVector, st0)
      var st = st0
      val out = Vector.newBuilder[MultilineRec]
      def matched(): Unit = {
        out += matchedRec(st)
        st = st.copy(idxs = Vector.empty, txts = Vector.empty,
          nextSeg = st.nextSeg + 1)
      }
      def unmatched(): Unit = {
        out ++= unmatchedRecs(st)
        st = st.copy(idxs = Vector.empty, txts = Vector.empty)
      }
      def add(i: Long, t: String): Unit =
        st = st.copy(idxs = st.idxs :+ i, txts = st.txts :+ t)
      lines.foreach { case (idx, text) =>
        if (!st.partial) {
          if (m(sRe, text) || (sRe.isEmpty && m(cRe, text))) {
            add(idx, text); st = st.copy(partial = true)
          } else if (sRe.isEmpty && cRe.nonEmpty && m(eRe, text)) {
            add(idx, text); matched() // lone END line in continue+end
          } else { add(idx, text); unmatched() }
        } else if (cRe.nonEmpty && m(cRe, text)) {
          add(idx, text) // continue appends
        } else if (eRe.nonEmpty) {
          if (cRe.nonEmpty) { // continue+end: end decides the chunk
            add(idx, text)
            if (m(eRe, text)) matched() else unmatched()
            st = st.copy(partial = false)
          } else if (m(eRe, text)) { // start+end / end-only
            add(idx, text); matched()
            if (sRe.nonEmpty) st = st.copy(partial = false)
          } else add(idx, text) // accumulate until end
        } else if (cRe.isEmpty) { // start-only
          if (m(sRe, text)) { matched(); add(idx, text) }
          else add(idx, text)
        } else { // start+continue: a non-continue line closes the record
          matched()
          if (m(sRe, text)) add(idx, text)
          else { add(idx, text); unmatched(); st = st.copy(partial = false) }
        }
      }
      (out.result(), st)
    }

    /** EOF/timeout flush of an open chunk (batch end-of-conversation or
      * streaming idle timeout): matched when no end pattern is
      * configured, unmatched-per-line otherwise (cpp:289-307). Returns
      * the post-flush state so a stream preserves the segment counter
      * across idle-timeout flushes (segment ids must stay unique per
      * key). */
    def flushWithState(st: MultilineState)
        : (Vector[MultilineRec], MultilineState) =
      if (st.partial && st.idxs.nonEmpty) {
        if (eOpt.isEmpty)
          (Vector(matchedRec(st)),
            initial.copy(nextSeg = st.nextSeg + 1))
        else (unmatchedRecs(st).toVector, initial.copy(nextSeg = st.nextSeg))
      } else (Vector.empty, initial.copy(nextSeg = st.nextSeg))

    def flush(st: MultilineState): Vector[MultilineRec] =
      flushWithState(st)._1
  }

  /** Open-chunk carry-over of [[MultilineFsm]] — top-level so streaming
    * state Encoders work (no path-dependent inner types). */
  final case class MultilineState(idxs: Seq[Long], txts: Seq[String],
      partial: Boolean, nextSeg: Long)
  /** One emitted multiline record. */
  final case class MultilineRec(segment: Long, first: Long, nLines: Long,
      text: String)
}
