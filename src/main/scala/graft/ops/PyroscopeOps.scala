package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Cols

/** Pyroscope push-ingest profile decode — the "groups" (collapsed
  * call-stack text) wire format, re-expressed as Catalyst projections.
  *
  * Reference: `pkg/protocol/decoder/pyroscope/decoder.go:48-156`
  * (request metadata: `name` query param → segment-key labels with the
  * `.cpu` suffix rewrite, `from`/`until`, `sampleRate` default 100,
  * `spyName` with `pyroscope-` / `spy` trims, `units` default samples,
  * `aggregationType` default sum; the no-header default body branch is
  * `FormatGroups`), `pkg/helper/profile/pyroscope/raw/profile.go:56-178`
  * (per line: split at the LAST space, count = Atoi of the tail; name =
  * last `;`-frame, stack = the remaining frames REVERSED and
  * `\n`-joined, one trailing empty frame trimmed; CallStack field set;
  * samples → nanoseconds value scaling `v *= 1e9 / sampleRate`), and
  * `pkg/helper/profile/meta.go:104-224` (spy-language frame layout in
  * `FormatPositionAndName`, value-type and profile-type detection).
  * Field vectors: `pkg/protocol/decoder/pyroscope/decoder_test.go:63-81`.
  *
  * The binary bodies of the same endpoint — transporttrie, pprof, JFR —
  * live behind external profile libraries in the reference and are a
  * documented divergence (§2.1); `groups` is the text wire shape and
  * carries the entire output field-set semantics.
  *
  * Total-function posture (same as the other wire decoders): the
  * reference fails the whole HTTP request on a bad count token or a
  * division by a zero sample rate; a batch over hostile wire data must
  * not die on one frame, so such LINES drop and everything stays
  * `try_cast`-guarded. A request row whose `name` param is null/empty
  * drops entirely (the reference rejects the request at
  * `segment.ParseKey`). Two deterministic divergences, both deliberate:
  * a missing `from`/`until` yields null `_ts_`/`durationNs` where the
  * reference stamps `time.Now()`, and `profileID` falls back to a
  * CONTENT-derived uuid-shaped id where the reference draws a random
  * uuid-v4 (`meta.go:121-130`) — batch re-runs must be reproducible.
  * `stackID` is the Spark `xxhash64` (seed 42) of the stack string
  * rendered as lowercase hex; the reference uses xxhash with seed 0
  * (`profile.go:95`) — same shape and stability contract, different
  * constant.
  */
object PyroscopeOps {

  /** Spy names whose frames are `pos name` (meta.go:144-155); the
    * FunctionFirst set renders `name pos`; any OTHER spy value leaves
    * the frame untouched (the zero SequenceType falls through to the
    * default branch in `FormatPositionAndName`). */
  private val PosFirstSpies = Seq("rs", "rb", "py", "php")
  private val FunctionFirstSpies =
    Seq("node", "go", "dotnet", "java", "ebpf", "unknown")

  val FieldNames: Seq[String] = Seq("name", "stack", "stackID",
    "language", "type", "units", "valueTypes", "aggTypes", "dataType",
    "durationNs", "profileID", "labels", "val", "_ts_")

  /** units.DetectValueType() (meta.go:213-225). */
  private def detectValueType(units: Column): Column =
    when(units.isin("nanoseconds", "samples"), "cpu")
      .when(units.isin("objects", "bytes"), "mem")
      .when(units === "goroutines", "goroutines")
      .when(units.isin("lock_samples", "lock_nanoseconds"), "mutex")
      .otherwise("unknown")

  /** DetectProfileType(valueType).Kind for the value-type names the
    * raw path can produce. Quirk kept on purpose: "mem" and "mutex"
    * are NOT in DetectProfileType's case lists (meta.go:104-118 matches
    * pprof sample-type names like "alloc_space", not the coarse
    * DetectValueType outputs), so byte/object and lock profiles land on
    * `profile_unknown` — exactly what the reference computes. */
  private def profileKind(valueType: Column): Column =
    when(valueType === "cpu", "profile_cpu")
      .when(valueType === "goroutines", "profile_goroutines")
      .otherwise("profile_unknown")

  /** One profile POST per input row: a text body of collapsed-stack
    * lines plus the query-param metadata columns (all strings, null =
    * absent param). Output: one row per valid body line carrying the
    * reference's CallStack field set, request columns preserved. */
  final case class GroupsParser(
      bodyKey: String = "body",
      nameKey: String = "name",
      fromKey: String = "from",
      untilKey: String = "until",
      sampleRateKey: String = "sampleRate",
      spyNameKey: String = "spyName",
      unitsKey: String = "units",
      aggTypeKey: String = "aggregationType",
      tags: Map[String, String] = Map.empty) {

    /** Last-wins key dedup over an entries array (the map constructor
      * throws on duplicates — CLAUDE.md; same idiom as
      * PromOps.TextParser). */
    private def dedupLastWins(ents: Column): Column =
      Cols.let(ents) { es =>
        filter(es, (e, i) =>
          !exists(slice(es, i + lit(2), size(es)), e2 =>
            e2.getField("key") === e.getField("key")))
      }

    /** FormatPositionAndName (meta.go:178-204): no space → unchanged;
      * otherwise keep only the FIRST and LAST space-separated tokens,
      * ordered by the spy's sequence type; a spy outside both sets
      * falls through to the untouched (trimmed) frame. */
    private def fmtFrame(frame: Column, spy: Column): Column =
      Cols.let(trim(frame)) { t =>
        val first = substring_index(t, " ", 1)
        val last = substring_index(t, " ", -1)
        when(!t.contains(" "), t)
          .when(spy.isin(PosFirstSpies: _*), concat(last, lit(" "), first))
          .when(spy.isin(FunctionFirstSpies: _*),
            concat(first, lit(" "), last))
          .otherwise(t)
      }

    def apply(df: DataFrame): DataFrame = {
      val paramCols = Seq(bodyKey, nameKey, fromKey, untilKey,
        sampleRateKey, spyNameKey, unitsKey, aggTypeKey)
      val passthrough = df.columns.filterNot(c =>
        FieldNames.contains(c) || paramCols.contains(c))

      // ---- stage 1: per-request metadata (materialized once via an
      // intermediate select so the per-line lambdas below reference
      // bound attributes, not re-evaluated trees) -----------------------
      // an absent query param is a missing column reading as all-null
      val nameRaw = Cols.optCol(df, nameKey)
      val base = trim(regexp_extract(nameRaw, "^([^\\{]*)", 1))
      val braceStr = regexp_extract(nameRaw, "\\{(.*)\\}", 1)
      val braceEnts = transform(
        filter(split(braceStr, ","), t => t.contains("=")),
        t => struct(
          trim(regexp_extract(t, "^([^=]*)=", 1)).as("key"),
          trim(regexp_extract(t, "^[^=]*=(.*)$", 1)).as("value")))
      // segment key app name; decoder.go:104-107 rewrites __name__ to
      // the app name minus a ".cpu" suffix
      val finalName = Cols.let(base)(b =>
        when(b.endsWith(".cpu"), substring(b, lit(1), length(b) - 4))
          .otherwise(b))
      val spyRaw = coalesce(Cols.optCol(df, spyNameKey), lit(""))
      val spy = when(spyRaw === "", "unknown").otherwise(
        regexp_replace(regexp_replace(spyRaw, "^pyroscope-", ""),
          "spy$", ""))
      val unitsRaw = coalesce(Cols.optCol(df, unitsKey), lit(""))
      val units0 = when(unitsRaw === "", "samples").otherwise(unitsRaw)
      val aggRaw = coalesce(Cols.optCol(df, aggTypeKey), lit(""))
      val agg = when(aggRaw === "", "sum").otherwise(aggRaw)
      val rate = coalesce(Cols.optCol(df, sampleRateKey).try_cast("long"),
        lit(100L))
      val fromSec = Cols.optCol(df, fromKey).try_cast("long")
      val untilSec = Cols.optCol(df, untilKey).try_cast("long")

      val meta = df
        .where(nameRaw.isNotNull && trim(nameRaw) =!= "")
        .select((passthrough.map(col) ++ Seq(
          col(bodyKey).as("__pyro_body__"),
          finalName.as("__pyro_name__"),
          braceEnts.as("__pyro_brace__"),
          spy.as("__pyro_spy__"),
          units0.as("__pyro_units__"),
          agg.as("__pyro_agg__"),
          rate.as("__pyro_rate__"),
          fromSec.as("__pyro_from__"),
          ((untilSec - fromSec) * 1000000000L).as("__pyro_dur_ns__"))): _*)

      // labels = {__name__: app} ++ brace labels ++ static tags, later
      // wins (decoder.go:89-92 merges handler tags over key labels);
      // rendered as the key-sorted compact JSON Go's json.Marshal of a
      // map produces.
      val tagEnts = tags.toSeq.map { case (k, v) =>
        struct(lit(k).as("key"), lit(v).as("value"))
      }
      val allEnts =
        if (tagEnts.isEmpty)
          concat(array(struct(lit("__name__").as("key"),
            col("__pyro_name__").as("value"))), col("__pyro_brace__"))
        else
          concat(array(struct(lit("__name__").as("key"),
            col("__pyro_name__").as("value"))), col("__pyro_brace__"),
            array(tagEnts: _*))
      val labelMap = map_from_entries(array_sort(dedupLastWins(allEnts)))
      val md = md5(concat_ws("\u0000", col("__pyro_name__"),
        coalesce(col("__pyro_from__").cast("string"), lit("")),
        coalesce(col("__pyro_dur_ns__").cast("string"), lit(""))))
      val metaL = meta.select((passthrough.map(col) ++ Seq(
        col("__pyro_body__"), col("__pyro_spy__"), col("__pyro_units__"),
        col("__pyro_agg__"), col("__pyro_rate__"), col("__pyro_from__"),
        col("__pyro_dur_ns__"),
        to_json(labelMap).as("__pyro_labels__"),
        // profile_id comes from the segment-key BRACE labels only —
        // GetProfileID (meta.go:121-130) reads it before handler tags
        // merge, so a static tag named profile_id must not win here
        coalesce(
          element_at(map_from_entries(
            dedupLastWins(col("__pyro_brace__"))), "profile_id"),
          concat_ws("-", substring(md, 1, 8), substring(md, 9, 4),
            substring(md, 13, 4), substring(md, 17, 4),
            substring(md, 21, 12))).as("__pyro_pid__"))): _*)

      // ---- stage 2: explode body lines (bufio ScanLines: trailing \r
      // stripped; a line without a space is skipped, profile.go:71-74) --
      val lines = metaL.select((passthrough.map(col) ++ Seq(
        col("__pyro_spy__"), col("__pyro_units__"), col("__pyro_agg__"),
        col("__pyro_rate__"), col("__pyro_from__"), col("__pyro_dur_ns__"),
        col("__pyro_labels__"), col("__pyro_pid__"),
        explode(split(col("__pyro_body__"), "\n")).as("__pyro_line0__"))): _*)
        .withColumn("__pyro_line__",
          regexp_replace(col("__pyro_line0__"), "\r$", ""))
        .where(col("__pyro_line__").contains(" "))

      // ---- stage 3: per-line parse ------------------------------------
      val line = col("__pyro_line__")
      val cntTok = substring_index(line, " ", -1)
      val cnt = cntTok.try_cast("long")
      val stackStr = expr(
        "substring(__pyro_line__, 1, length(__pyro_line__) - " +
          "length(substring_index(__pyro_line__, ' ', -1)) - 1)")
      val parsed = lines
        .withColumn("__pyro_cnt__", cnt)
        .withColumn("__pyro_stackstr__", stackStr)
        // Atoi failure errors the reference's whole request; an empty
        // stack part would make it panic in extractNameAndStacks
        // (slice[-1] after the trailing-empty trim). Both LINES drop
        // here — total function over hostile wire data.
        .where(col("__pyro_cnt__").isNotNull &&
          length(col("__pyro_stackstr__")) > 0)

      val isSamples = col("__pyro_units__") === "samples"
      // Go: v *= int64(1e9) / int64(sampleRate) — integer division; a
      // zero/negative rate would panic the reference, the line drops
      val factor = (lit(1000000000L) / col("__pyro_rate__")).cast("long")
      val vOut = when(isSamples, col("__pyro_cnt__") * factor)
        .otherwise(col("__pyro_cnt__"))
      val uOut = when(isSamples, lit("nanoseconds"))
        .otherwise(col("__pyro_units__"))
      val valueType = detectValueType(col("__pyro_units__"))

      // frames: split on ';', trim ONE trailing empty (profile.go:168),
      // leaf frame is the name, the rest reversed is the stack
      val frames0 = split(col("__pyro_stackstr__"), ";", -1)
      val frames = when(element_at(frames0, -1) === "",
        slice(frames0, lit(1), size(frames0) - 1)).otherwise(frames0)
      val spyC = col("__pyro_spy__")
      val name = Cols.let(frames)(fs =>
        fmtFrame(element_at(fs, -1), spyC))
      val stack = Cols.let(frames)(fs =>
        when(size(fs) <= 1, lit(""))
          .otherwise(array_join(
            reverse(transform(slice(fs, lit(1), size(fs) - 1),
              f => fmtFrame(f, spyC))), "\n")))

      parsed
        .where(!isSamples || col("__pyro_rate__") > 0)
        .select((passthrough.map(col) ++ Seq(
          name.as("name"),
          stack.as("stack"),
          lower(hex(xxhash64(col("__pyro_stackstr__")))).as("stackID"),
          col("__pyro_spy__").as("language"),
          profileKind(valueType).as("type"),
          uOut.as("units"),
          valueType.as("valueTypes"),
          col("__pyro_agg__").as("aggTypes"),
          lit("CallStack").as("dataType"),
          col("__pyro_dur_ns__").as("durationNs"),
          col("__pyro_pid__").as("profileID"),
          col("__pyro_labels__").as("labels"),
          format_string("%.2f", vOut.cast("double")).as("val"),
          timestamp_seconds(col("__pyro_from__")).as("_ts_"))): _*)
    }
  }
}
