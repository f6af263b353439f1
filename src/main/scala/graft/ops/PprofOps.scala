package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Pyroscope push-ingest profile decode — the **pprof** wire format
  * (gzipped `profile.proto` protobuf), the endpoint's dominant real
  * payload, on [[BinaryDecoders]]' binary seam (protobuf genuinely is
  * not a Catalyst expression).
  *
  * Reference: `pkg/helper/profile/pyroscope/pprof/pyroscope.go:107-163`
  * (readTrees: reverse-order location walk, reverse-order inline-line
  * walk, `"name filename"` frame rendering, empty-name skip, zero-value
  * skip, per-(sampleType, labels) tree accumulation, profile_id
  * exemplar samples counted in BOTH the labeled and the cut-label
  * baseline tree), `pprof.go:44-81` (DefaultSampleTypeMapping: the
  * sample-type filter plus units/display-name/aggregation/sampled/
  * cumulative per type), `pprof.go:181-270` (value scaling `v *=
  * period·unit_ns` for sampled `samples` with the unit rewritten to
  * nanoseconds; start/end from the profile's TimeNanos/DurationNanos
  * when set, else the request's from/until), `pprof.go:272-351` (the
  * emitted CallStack field set — one log per value index, stackID =
  * `FormatUint(xxhash(join(stack,"")), 16)`), and `meta.go:104-224`
  * (DetectProfileType over DISPLAY names, spy-language frame layout).
  * Field vectors: `pprof_test.go:48-107` (cpu.pb.gz — 6 logs, the
  * `40fb694aa9506d0b` stack asserted literally in the spec).
  *
  * stackID parity: Go `xxhash.Sum64String` is standard XXH64 with seed
  * 0 — Spark ships the same algorithm
  * (`o.a.s.sql.catalyst.expressions.XXH64`), so unlike the text
  * `groups` parser (whose Catalyst `xxhash64` is pinned to seed 42)
  * this decoder reproduces the reference's stack ids EXACTLY.
  *
  * Deliberate, documented divergences (batch semantics):
  *  - cumulative sample types (alloc_*, contentions, delay) emit
  *    nothing: the reference diffs them against the PREVIOUS profile of
  *    the same series and also emits nothing when there is none
  *    (`pprof.go:220-229`); a batch row has no session cache. The
  *    non-cumulative types of the same payload decode normally.
  *  - a missing profile_id label yields a CONTENT-derived uuid-shaped
  *    id (md5 of name+from+duration), not a random uuid-v4 — batch
  *    re-runs must be reproducible (same policy as [[PyroscopeOps]]).
  *  - when several label sets share one stack, the reference emits the
  *    LAST-iterated label set for all of them (Go map iteration order —
  *    nondeterministic upstream); here each (stack, labels) pair emits
  *    its own rows, which is the only deterministic reading.
  */
object PprofOps {

  /** One sample type's config — `DefaultSampleTypeMapping`
    * (pprof.go:44-81). */
  private final case class StConfig(units: String, displayName: String = "",
      aggregation: String = "", sampled: Boolean = false,
      cumulative: Boolean = false)

  private val DefaultSampleTypes: Map[String, StConfig] = Map(
    "samples" -> StConfig("samples", displayName = "cpu", sampled = true),
    "inuse_objects" -> StConfig("objects", aggregation = "avg"),
    "alloc_objects" -> StConfig("objects", cumulative = true),
    "inuse_space" -> StConfig("bytes", aggregation = "avg"),
    "alloc_space" -> StConfig("bytes", cumulative = true),
    "goroutine" -> StConfig("goroutines", displayName = "goroutines",
      aggregation = "avg"),
    "contentions" -> StConfig("lock_samples", displayName = "mutex_count",
      cumulative = true),
    "delay" -> StConfig("lock_nanoseconds", displayName = "mutex_duration",
      cumulative = true))

  /** DetectProfileType(valType).Kind (meta.go:104-120) — keyed on the
    * DISPLAY name (types[i] in the emit loop), full case list. */
  private[ops] def profileKind(valType: String): String = valType match {
    case "inuse_space" | "inuse_objects" | "alloc_space" | "alloc_objects" |
        "alloc-size" | "alloc-samples" | "alloc_in_new_tlab_objects" |
        "alloc_in_new_tlab_bytes" | "alloc_outside_tlab_objects" |
        "alloc_outside_tlab_bytes" => "profile_mem"
    case "samples" | "cpu" | "itimer" | "lock_count" | "lock_duration" |
        "wall" => "profile_cpu"
    case "mutex_count" | "mutex_duration" | "block_duration" |
        "block_count" | "contentions" | "delay" | "lock-time" |
        "lock-count" => "profile_mutex"
    case "goroutines" | "goroutine" => "profile_goroutines"
    case "exception" => "profile_exception"
    case _ => "profile_unknown"
  }

  /** FormatPositionAndName (meta.go:178-204): JVM twin of
    * [[PyroscopeOps]]'s Catalyst version — first/last space-separated
    * token, ordered by the spy's sequence type; unmapped spies leave
    * the (trimmed) frame untouched. */
  private val PosFirst = Set("rs", "rb", "py", "php")
  private val FunctionFirst = Set("node", "go", "dotnet", "java", "ebpf",
    "unknown")
  private[ops] def fmtFrame(frame: String, spy: String): String = {
    val t = frame.trim
    val i = t.indexOf(' ')
    if (i < 0) t
    else {
      val first = t.substring(0, i)
      val last = t.substring(t.lastIndexOf(' ') + 1)
      if (PosFirst.contains(spy)) s"$last $first"
      else if (FunctionFirst.contains(spy)) s"$first $last"
      else t
    }
  }

  /** Go xxhash.Sum64String (seed 0) over UTF-8 bytes — Spark's XXH64 is
    * the same standard algorithm, so stack ids match the reference. */
  private[ops] def xxh64Hex(s: String): String = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 0L)
    java.lang.Long.toHexString(h) // FormatUint(id, 16): no zero padding
  }

  /** Go json.Marshal of map[string]string: key-sorted compact object
    * with minimal escaping (our label values are plain strings). */
  private def labelsJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => "\\u%04x".format(c.toInt)
        case c => c.toString
      }
      s""""${esc(k)}":"${esc(v)}""""
    }.mkString("{", ",", "}")

  // --- profile.proto model ---------------------------------------------------

  private[ops] final case class PbValueType(typ: Long, unit: Long)
  private[ops] final case class PbSample(locs: Array[Long], values: Array[Long],
      labels: Seq[(Long, Long)]) // (key, str) string-table indices
  private[ops] final case class PbProfile(
      sampleTypes: Seq[PbValueType],
      samples: Seq[PbSample],
      locLines: Map[Long, Seq[Long]], // location id → function ids, line order
      fnName: Map[Long, Long], fnFile: Map[Long, Long],
      strings: IndexedSeq[String],
      timeNanos: Long, durationNanos: Long,
      periodType: Option[PbValueType], period: Long)

  /** Repeated scalar field: proto3 marshals packed (wire 2), proto2 /
    * hand encoders may not (wire 0) — accept both. */
  private def repVarint(p: BinaryDecoders.Pb, wire: Int,
      out: scala.collection.mutable.ArrayBuffer[Long]): Unit =
    if (wire == 2) {
      val sub = p.lenDelimited()
      while (sub.hasNext) out += sub.varint()
    } else out += p.varint()

  /** `profile.proto` field numbers: Profile{sample_type=1, sample=2,
    * location=4, function=5, string_table=6, time_nanos=9,
    * duration_nanos=10, period_type=11, period=12}; ValueType{type=1,
    * unit=2}; Sample{location_id=1, value=2, label=3{key=1, str=2}};
    * Location{id=1, line=4{function_id=1}}; Function{id=1, name=2,
    * filename=4}. */
  private[ops] def parseProfile(bytes: Array[Byte]): PbProfile = {
    val sampleTypes = scala.collection.mutable.ArrayBuffer.empty[PbValueType]
    val samples = scala.collection.mutable.ArrayBuffer.empty[PbSample]
    val locLines = scala.collection.mutable.HashMap.empty[Long, Seq[Long]]
    val fnName = scala.collection.mutable.HashMap.empty[Long, Long]
    val fnFile = scala.collection.mutable.HashMap.empty[Long, Long]
    val strings = scala.collection.mutable.ArrayBuffer.empty[String]
    var timeNanos = 0L
    var durationNanos = 0L
    var periodType: Option[PbValueType] = None
    var period = 0L

    def valueType(p: BinaryDecoders.Pb): PbValueType = {
      var t = 0L; var u = 0L
      while (p.hasNext) p.tag() match {
        case (1, 0) => t = p.varint()
        case (2, 0) => u = p.varint()
        case (_, w) => p.skip(w)
      }
      PbValueType(t, u)
    }

    val m = BinaryDecoders.root(bytes)
    while (m.hasNext) m.tag() match {
      case (1, 2) => sampleTypes += valueType(m.lenDelimited())
      case (2, 2) =>
        val sm = m.lenDelimited()
        val locs = scala.collection.mutable.ArrayBuffer.empty[Long]
        val vals = scala.collection.mutable.ArrayBuffer.empty[Long]
        val labels = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        while (sm.hasNext) sm.tag() match {
          case (1, w) => repVarint(sm, w, locs)
          case (2, w) => repVarint(sm, w, vals)
          case (3, 2) =>
            val lb = sm.lenDelimited()
            var k = 0L; var s = 0L
            while (lb.hasNext) lb.tag() match {
              case (1, 0) => k = lb.varint()
              case (2, 0) => s = lb.varint()
              case (_, w) => lb.skip(w)
            }
            labels += ((k, s))
          case (_, w) => sm.skip(w)
        }
        samples += PbSample(locs.toArray, vals.toArray, labels.toSeq)
      case (4, 2) =>
        val lm = m.lenDelimited()
        var id = 0L
        val fns = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (lm.hasNext) lm.tag() match {
          case (1, 0) => id = lm.varint()
          case (4, 2) =>
            val ln = lm.lenDelimited()
            var fid = 0L
            while (ln.hasNext) ln.tag() match {
              case (1, 0) => fid = ln.varint()
              case (_, w) => ln.skip(w)
            }
            fns += fid
          case (_, w) => lm.skip(w)
        }
        locLines(id) = fns.toSeq
      case (5, 2) =>
        val fm = m.lenDelimited()
        var id = 0L; var nm = 0L; var fl = 0L
        while (fm.hasNext) fm.tag() match {
          case (1, 0) => id = fm.varint()
          case (2, 0) => nm = fm.varint()
          case (4, 0) => fl = fm.varint()
          case (_, w) => fm.skip(w)
        }
        fnName(id) = nm; fnFile(id) = fl
      case (6, 2) => strings += m.string()
      case (9, 0) => timeNanos = m.varint()
      case (10, 0) => durationNanos = m.varint()
      case (11, 2) => periodType = Some(valueType(m.lenDelimited()))
      case (12, 0) => period = m.varint()
      case (_, w) => m.skip(w)
    }
    PbProfile(sampleTypes.toSeq, samples.toSeq, locLines.toMap,
      fnName.toMap, fnFile.toMap, strings.toIndexedSeq,
      timeNanos, durationNanos, periodType, period)
  }

  private val GzipMagic = 0x1f

  /** Decompression cap: a hostile few-KB gzip bomb expanding to
    * gigabytes would OutOfMemoryError — an Error, NOT the Exception the
    * seam's drop policy ([[BinaryDecoders.appendRows]]) handles — and
    * kill the whole batch. Bounding the inflate keeps the failure an
    * IOException the drop path absorbs; 64 MiB is far above any real
    * pprof body. */
  private[ops] val MaxInflatedBytes: Int = 64 << 20

  private[ops] def gunzipIfNeeded(raw: Array[Byte]): Array[Byte] =
    if (raw.length > 2 && (raw(0) & 0xff) == GzipMagic &&
      (raw(1) & 0xff) == 0x8b) {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(raw))
      try {
        val out = new java.io.ByteArrayOutputStream(
          math.min(math.max(raw.length * 4, 1024), 1 << 20))
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) {
          out.write(buf, 0, n)
          if (out.size > MaxInflatedBytes)
            throw new java.io.IOException(
              s"inflated pprof body exceeds $MaxInflatedBytes bytes")
          n = in.read(buf)
        }
        out.toByteArray
      } finally in.close()
    } else raw

  /** sampleRate(p) (pprof.go:181-195): the profile's period scaled to
    * nanoseconds by its period-type unit. */
  private def periodNanos(p: PbProfile): Long = p.periodType match {
    case Some(pt) if p.period > 0 =>
      val unit = p.strings.lift(pt.unit.toInt).getOrElse("")
      val ns = unit match {
        case "microseconds" => 1000L
        case "milliseconds" => 1000000L
        case "seconds" => 1000000000L
        case _ => 1L // nanoseconds and unknown units
      }
      p.period * ns
    case _ => 0L
  }

  /** One pprof POST per input row: a (gzipped) profile.proto binary
    * column plus the same request-param columns as
    * [[PyroscopeOps.GroupsParser]] (`name` segment key with brace
    * labels, from/until, sampleRate, spyName, aggregationType — all
    * strings, absent column = absent param). Output: one row per
    * (stack, label set, kept sample type) with the reference's
    * CallStack field set appended to the passthrough columns. */
  final case class PprofParser(
      sourceKey: String = "payload",
      nameKey: String = "name",
      fromKey: String = "from",
      untilKey: String = "until",
      sampleRateKey: String = "sampleRate",
      spyNameKey: String = "spyName",
      aggTypeKey: String = "aggregationType",
      tags: Map[String, String] = Map.empty) {

    def apply(df: DataFrame): DataFrame = {
      val inSchema = df.schema
      val paramCols =
        Seq(sourceKey, nameKey, fromKey, untilKey, sampleRateKey,
          spyNameKey, aggTypeKey)
      val srcIdx = inSchema.fieldIndex(sourceKey)
      def idxOpt(k: String): Int =
        if (inSchema.fieldNames.contains(k)) inSchema.fieldIndex(k) else -1
      val (nameIdx, fromIdx, untilIdx, rateIdx, spyIdx, aggIdx) =
        (idxOpt(nameKey), idxOpt(fromKey), idxOpt(untilKey),
          idxOpt(sampleRateKey), idxOpt(spyNameKey), idxOpt(aggTypeKey))
      val staticTags = tags

      BinaryDecoders.appendRows(df, Seq(
        StructField("name", StringType), StructField("stack", StringType),
        StructField("stackID", StringType),
        StructField("language", StringType), StructField("type", StringType),
        StructField("units", StringType),
        StructField("valueTypes", StringType),
        StructField("aggTypes", StringType),
        StructField("dataType", StringType),
        StructField("durationNs", LongType),
        StructField("profileID", StringType),
        StructField("labels", StringType), StructField("val", StringType),
        StructField("_ts_", TimestampType)),
        keep = f => !paramCols.contains(f.name) &&
          !PyroscopeOps.FieldNames.contains(f.name)) { r =>
        decodeRow(r, srcIdx, nameIdx, fromIdx, untilIdx, rateIdx,
          spyIdx, aggIdx, staticTags)
      }
    }

    private def strAt(r: Row, i: Int): Option[String] =
      if (i < 0 || r.isNullAt(i)) None
      else Some(String.valueOf(r.get(i)))

    /** The whole per-request decode: the CallStack values of each
      * output row. A malformed payload throws, and the seam drops the
      * row. */
    private def decodeRow(r: Row, srcIdx: Int, nameIdx: Int, fromIdx: Int,
        untilIdx: Int, rateIdx: Int, spyIdx: Int, aggIdx: Int,
        staticTags: Map[String, String]): Seq[Seq[Any]] = {
      // ---- request metadata (decoder.go:48-156 param handling) ----
      val nameRaw = strAt(r, nameIdx).map(_.trim).getOrElse("")
      if (nameRaw.isEmpty) return Nil // segment.ParseKey rejects
      val brace = {
        val b = nameRaw.indexOf('{')
        if (b < 0) Seq.empty[(String, String)]
        else nameRaw.substring(b + 1, math.max(b + 1,
          nameRaw.lastIndexOf('}'))).split(",").toSeq
          .filter(_.contains("="))
          .map { t =>
            val e = t.indexOf('=')
            t.substring(0, e).trim -> t.substring(e + 1).trim
          }
      }
      val base0 = nameRaw.takeWhile(_ != '{').trim
      val appName =
        if (base0.endsWith(".cpu")) base0.dropRight(4) else base0
      val spyRaw = strAt(r, spyIdx).getOrElse("")
      val spy =
        if (spyRaw.isEmpty) "unknown"
        else spyRaw.stripPrefix("pyroscope-").replaceAll("spy$", "")
      val aggDefault = strAt(r, aggIdx).filter(_.nonEmpty).getOrElse("sum")
      val rate = strAt(r, rateIdx).flatMap(s =>
        scala.util.Try(s.toLong).toOption).getOrElse(100L)
      val fromSec = strAt(r, fromIdx).flatMap(s =>
        scala.util.Try(s.toLong).toOption)
      val untilSec = strAt(r, untilIdx).flatMap(s =>
        scala.util.Try(s.toLong).toOption)

      // meta.Tags = segment-key labels (+_sample_rate_, pprof.go:131)
      val keyLabels = (("__name__" -> appName) +: brace).toMap
      val metaTags =
        if (rate > 0) keyLabels + ("_sample_rate_" -> rate.toString)
        else keyLabels
      // profileID from the PRE-tag-merge key labels (meta.go:121-130)
      val profileID = keyLabels.getOrElse("profile_id", {
        val durNs = for (u <- untilSec; f <- fromSec)
          yield (u - f) * 1000000000L
        val md = graft.functions.PortableHash.md5Hex(
          appName + "\u0000" + fromSec.map(_.toString).getOrElse("") +
            "\u0000" + durNs.map(_.toString).getOrElse(""))
        Seq(md.substring(0, 8), md.substring(8, 12), md.substring(12, 16),
          md.substring(16, 20), md.substring(20, 32)).mkString("-")
      })

      // ---- profile decode -----------------------------------------
      val raw = r.get(srcIdx).asInstanceOf[Array[Byte]]
      val p = parseProfile(gunzipIfNeeded(raw))
      def str(i: Long): String = p.strings.lift(i.toInt).getOrElse("")

      // kept = known non-cumulative sample types (cumulative emit
      // nothing without a previous profile — pprof.go:220-229)
      val kept = p.sampleTypes.zipWithIndex.flatMap { case (vt, i) =>
        DefaultSampleTypes.get(str(vt.typ))
          .filterNot(_.cumulative).map(c => (i, str(vt.typ), str(vt.unit), c))
      }
      if (kept.isEmpty) return Nil
      val perNs = periodNanos(p)

      // ---- readTrees (pyroscope.go:107-163) ------------------------
      // (stack frames leaf→root, resolved sample labels) → per kept
      // type summed value; profile_id exemplars count in BOTH the
      // labeled entry and the cut-label baseline
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[(Seq[String], Map[String, String]), Array[Long]]
      p.samples.foreach { s =>
        // reverse location walk, reverse inline-line walk, skip
        // unknown locations/functions and empty names
        val rootFirst = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = s.locs.length - 1
        while (i >= 0) {
          p.locLines.get(s.locs(i)).foreach { fns =>
            var j = fns.length - 1
            while (j >= 0) {
              val fid = fns(j)
              val nm = p.fnName.get(fid).map(str).getOrElse("")
              if (nm.nonEmpty)
                rootFirst += s"$nm ${p.fnFile.get(fid).map(str).getOrElse("")}"
              j -= 1
            }
          }
          i -= 1
        }
        val leafFirst = rootFirst.reverse.toSeq
        if (leafFirst.nonEmpty) {
          val resolved = s.labels.flatMap { case (k, v) =>
            val ks = str(k); val vs = str(v)
            if (ks.isEmpty || vs.isEmpty) None else Some(ks -> vs)
          }.toMap
          val labelSets =
            if (resolved.contains("profile_id"))
              Seq(resolved, resolved - "profile_id") // exemplar + baseline
            else Seq(resolved)
          labelSets.foreach { ls =>
            val slot = acc.getOrElseUpdate((leafFirst, ls),
              new Array[Long](kept.size))
            kept.zipWithIndex.foreach { case ((vi, _, _, _), ki) =>
              val v = if (vi < s.values.length) s.values(vi) else 0L
              if (v != 0) slot(ki) += v
            }
          }
        }
      }

      // ---- emit (pprof.go:234-351) ---------------------------------
      val (startNs, endNs): (Long, Long) =
        if (p.timeNanos != 0) (p.timeNanos, p.timeNanos + p.durationNanos)
        else (fromSec.map(_ * 1000000000L).getOrElse(0L),
          untilSec.map(_ * 1000000000L).getOrElse(0L))
      acc.iterator.flatMap { case ((stackLf, sampleLabels), vals) =>
        val stackId = xxh64Hex(stackLf.mkString(""))
        val nameOut = fmtFrame(stackLf.head, spy)
        val stackOut = stackLf.tail.map(fmtFrame(_, spy)).mkString("\n")
        val labels = labelsJson(metaTags ++ sampleLabels ++ staticTags)
        kept.zipWithIndex.flatMap { case ((_, stype, sunit, cfg), ki) =>
          val v0 = vals(ki)
          if (v0 == 0) None
          else {
            val scale = cfg.sampled && perNs != 0 && stype == "samples"
            val v = if (scale) v0 * perNs else v0
            val unit = if (scale) "nanoseconds" else sunit
            val display =
              if (cfg.displayName.nonEmpty) cfg.displayName else stype
            val agg = cfg.aggregation match {
              case "avg" => "avg"
              case "sum" => "sum"
              case _ => aggDefault
            }
            Some(Seq(
              nameOut, stackOut, stackId, spy, profileKind(display),
              unit, display, agg, "CallStack", endNs - startNs,
              profileID, labels,
              // Locale.US pinned: the default-locale format would
              // render a comma decimal separator on e.g. de_DE JVMs
              String.format(java.util.Locale.US, "%.2f",
                java.lang.Double.valueOf(v.toDouble)),
              if (startNs == 0) null
              else new java.sql.Timestamp(startNs / 1000000L)))
          }
        }
      }.toSeq
    }
  }

  // --- test-vector / fixture encoder ----------------------------------------

  /** profile.proto writer (gzipped) for specs and deterministic driver
    * fixtures — the inverse of [[parseProfile]], packed repeated
    * fields like real proto3 marshalling. */
  object Encode {
    final case class Fn(id: Long, name: String, file: String)
    /** location id → function ids in LINE order (index 0 = inlined
      * leaf, last = caller — profile.proto Line semantics). */
    final case class Loc(id: Long, fnIds: Seq[Long])
    final case class Smpl(locIds: Seq[Long], values: Seq[Long],
        labels: Seq[(String, String)] = Nil)

    def profile(
        sampleTypes: Seq[(String, String)],
        samples: Seq[Smpl],
        locations: Seq[Loc],
        functions: Seq[Fn],
        timeNanos: Long, durationNanos: Long,
        periodType: Option[(String, String)] = None, period: Long = 0,
        gzip: Boolean = true): Array[Byte] = {
      val strings = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      strings("") = 0L
      def sid(s: String): Long =
        strings.getOrElseUpdate(s, strings.size.toLong)
      // intern every string first so the table is stable
      sampleTypes.foreach { case (t, u) => sid(t); sid(u) }
      functions.foreach { f => sid(f.name); sid(f.file) }
      samples.foreach(_.labels.foreach { case (k, v) => sid(k); sid(v) })
      periodType.foreach { case (t, u) => sid(t); sid(u) }

      import BinaryDecoders.Encode.{strField, sub, varint, varintField}
      val out = new java.io.ByteArrayOutputStream()
      def packed(o: java.io.ByteArrayOutputStream, f: Int,
          vs: Seq[Long]): Unit =
        if (vs.nonEmpty) sub(o, f)(t => vs.foreach(varint(t, _)))
      def vt(o: java.io.ByteArrayOutputStream, f: Int,
          t: (String, String)): Unit =
        sub(o, f) { b =>
          varintField(b, 1, sid(t._1)); varintField(b, 2, sid(t._2))
        }

      sampleTypes.foreach(vt(out, 1, _))
      samples.foreach { s =>
        sub(out, 2) { b =>
          packed(b, 1, s.locIds)
          packed(b, 2, s.values)
          s.labels.foreach { case (k, v) =>
            sub(b, 3) { lb =>
              varintField(lb, 1, sid(k)); varintField(lb, 2, sid(v))
            }
          }
        }
      }
      locations.foreach { l =>
        sub(out, 4) { b =>
          varintField(b, 1, l.id)
          l.fnIds.foreach(fid => sub(b, 4)(ln => varintField(ln, 1, fid)))
        }
      }
      functions.foreach { f =>
        sub(out, 5) { b =>
          varintField(b, 1, f.id); varintField(b, 2, sid(f.name))
          varintField(b, 4, sid(f.file))
        }
      }
      strings.keys.foreach(strField(out, 6, _))
      if (timeNanos != 0) varintField(out, 9, timeNanos)
      if (durationNanos != 0) varintField(out, 10, durationNanos)
      periodType.foreach(vt(out, 11, _))
      if (period != 0) varintField(out, 12, period)

      val bytes = out.toByteArray
      if (!gzip) bytes
      else {
        val bo = new java.io.ByteArrayOutputStream()
        val go = new java.util.zip.GZIPOutputStream(bo)
        go.write(bytes); go.close()
        bo.toByteArray
      }
    }
  }
}
