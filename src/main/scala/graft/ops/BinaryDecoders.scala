package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Binary wire decoders that are not expressible as Catalyst
  * expressions — snappy + protobuf payloads — and the binary seam every
  * such decoder and packer shares: [[appendRows]] (per-row decode
  * appended to the input row, with the one hostile-payload drop
  * policy), [[pack]] (partition-local payload packing under count/byte
  * caps) and [[Encode]] (the protobuf wire writer). Everything before
  * and after the seam stays declarative.
  *
  * Two reference decoders live here:
  *  - prometheus remote-write (`pkg/protocol/decoder/prometheus/
  *    decoder.go:120-151`): snappy-block-compressed `prompb.
  *    WriteRequest` → one metric-log row per sample, same
  *    `__name__`/`__labels__`/`__time_nano__`/`__value__` shape as
  *    every other metric decoder (labels via `helper.MetricLabels`,
  *    ms timestamps normalized to nanos by `NewMetricLogStringVal`);
  *  - SLS protobuf (`pkg/protocol/decoder/sls/decoder.go:30-36`):
  *    `LogGroup` → one row per `Log` with its contents map plus the
  *    group's topic/source/category/machineUUID/tags
  *    (`pkg/protocol/proto/sls_logs.proto`).
  * [[PprofOps.PprofParser]] decodes on the same seam.
  *
  * The protobuf wire reader below is a from-scratch varint/
  * length-delimited scanner over the two fixed schemas (field numbers
  * cited inline) — no protobuf library dependency; snappy comes from
  * the runtime's own `snappy-java`.
  */
object BinaryDecoders {

  // --- minimal protobuf wire-format reader ---------------------------------

  /** Cursor over one (sub)message's bytes. Throws on malformed input;
    * callers catch per-payload. */
  private[ops] final class Pb(buf: Array[Byte], start: Int, val end: Int) {
    var pos: Int = start
    def hasNext: Boolean = pos < end
    // every read is bounds-checked against THIS sub-message's end: a
    // truncated sub-message must fail (caller drops the payload), never
    // silently read sibling bytes from the shared buffer
    private def need(n: Int): Unit =
      require(pos + n <= end, "read overruns sub-message")
    def varint(): Long = {
      var shift = 0
      var res = 0L
      while (shift < 64) {
        need(1)
        val b = buf(pos); pos += 1
        res |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return res
        shift += 7
      }
      throw new IllegalArgumentException("varint too long")
    }
    def tag(): (Int, Int) = { val t = varint(); ((t >>> 3).toInt, (t & 7).toInt) }
    def fixed64(): Long = {
      need(8)
      var v = 0L
      var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      v
    }
    def fixed32(): Long = {
      need(4)
      var v = 0L
      var i = 0
      while (i < 4) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 4
      v
    }
    def lenDelimited(): Pb = {
      val len = varint().toInt
      require(len >= 0 && pos + len <= end, "length overruns buffer")
      val sub = new Pb(buf, pos, pos + len)
      pos += len
      sub
    }
    def string(): String = {
      val sub = lenDelimited()
      new String(buf, sub.pos, sub.end - sub.pos,
        java.nio.charset.StandardCharsets.UTF_8)
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => need(8); pos += 8
      case 2 => lenDelimited()
      case 5 => need(4); pos += 4
      case w => throw new IllegalArgumentException(s"wire type $w")
    }
  }

  private[ops] def root(bytes: Array[Byte]) = new Pb(bytes, 0, bytes.length)

  // --- the binary seam -------------------------------------------------------

  /** Per-row JVM decode of a binary payload: each input row yields the
    * rows `decode` returns, each one the row's `keep` columns followed
    * by `added` values. The hostile-payload drop lives here and only
    * here: a row whose `decode` throws yields no rows (the reference
    * rejects the HTTP request; a batch table has no request to reject
    * — the same documented divergence as the text wire decoders).
    * `decode` must return a strict Seq, so that it throws inside the
    * policy. */
  private[ops] def appendRows(df: DataFrame, added: Seq[StructField],
      keep: StructField => Boolean = _ => true)(
      decode: Row => Seq[Seq[Any]]): DataFrame = {
    val kept = df.schema.fields.zipWithIndex.filter { case (f, _) => keep(f) }
    val keepIdx = kept.map(_._2).toSeq
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val decoded =
          try decode(r)
          catch { case _: Exception => Nil } // hostile payload → drop
        val keepVals = keepIdx.map(r.get)
        decoded.map(vs => Row.fromSeq(keepVals ++ vs))
      }
    }(Encoders.row(StructType(kept.map(_._1) ++ added)))
  }

  /** Partition-local packing: each input partition independently packs
    * its rows, in order, into `(payload binary, <countCol> int)` rows —
    * no shuffle, no driver state. `item` gives a row's packed item and
    * its weight against `maxBytes`. A payload is flushed BEFORE adding
    * an item would exceed either cap, so a single oversized item still
    * ships alone (the reference sends it as its own group). */
  private[ops] def pack[A](df: DataFrame, countCol: String, maxItems: Int,
      maxBytes: Long = Long.MaxValue)(item: Row => (A, Long))(
      encode: Seq[A] => Array[Byte]): DataFrame =
    df.mapPartitions { rows =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[A]
      var bytes = 0L
      def flush(): Option[Row] =
        if (buf.isEmpty) None
        else {
          val out = Row(encode(buf.toSeq), buf.size)
          buf.clear(); bytes = 0L
          Some(out)
        }
      rows.flatMap { r =>
        val (a, size) = item(r)
        val pre =
          if (buf.nonEmpty && (buf.size >= maxItems || bytes + size > maxBytes))
            flush()
          else None
        buf += a
        bytes += size
        pre
      } ++ flush().iterator
    }(Encoders.row(StructType(Array(
      StructField("payload", BinaryType),
      StructField(countCol, IntegerType)))))

  /** Total time coercion for the packers: any integral column works; a
    * null or a hostile non-numeric string reads 0 instead of killing
    * the batch. */
  private def asLong(v: Any): Long = v match {
    case n: Number => n.longValue
    case null => 0L
    case other => scala.util.Try(String.valueOf(other).toLong).getOrElse(0L)
  }

  // --- shared metric-log rendering (JVM twins of the Catalyst helpers) -----

  /** NewMetricLog value rendering (log_helper.go:258-266): the
    * Prometheus staleness marker keeps its sentinel string; everything
    * else is Go FormatFloat('g',-1,64) shortest. */
  private val StaleNaNBits = 0x7ff0000000000002L
  private def goFmt(d: Double): String =
    if (java.lang.Double.doubleToRawLongBits(d) == StaleNaNBits)
      "__STALE_NAN__"
    else if (d == d.toLong.toDouble && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** formatNewMetricName (log_helper.go:339-361): chars outside
    * [A-Za-z0-9_:] → '_'. */
  private def metricName(n: String): String =
    n.map(c => if (c.isLetterOrDigit && c < 128 || c == '_' || c == ':') c
      else '_')

  /** helper.MetricLabels: sanitized keys/values, key-sorted, #$#/|. */
  private def renderLabels(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) =>
      (k.replaceAll("[^A-Za-z0-9_]", "_"), v.replace('|', '_'))
    }.sorted.map { case (k, v) => s"$k#$$#$v" }.mkString("|")

  /** NewMetricLogStringVal time normalization (log_helper.go:270-283):
    * 13 decimal digits = ms → nanos, 19 = nanos, else float-scaled. */
  private def tnNorm(t: Long): Long = {
    val len = t.toString.length
    if (len == 19) t
    else if (len == 13) t * 1000000L
    else (t.toDouble * math.pow(10, 19 - len)).toLong
  }

  // --- prometheus remote-write ---------------------------------------------

  /** One decoded sample before rendering. */
  private[ops] final case class Sample(name: String,
      labels: Seq[(String, String)], tsMs: Long, value: Double)

  /** `prompb.WriteRequest`: timeseries=1 { labels=1 {name=1, value=2},
    * samples=2 {value=1 (double), timestamp=2 (ms varint)} } —
    * decoder.go:55-63 field indices. */
  private[ops] def parseWriteRequest(bytes: Array[Byte]): Seq[Sample] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val m = root(bytes)
    while (m.hasNext) {
      val (f, w) = m.tag()
      if (f == 1 && w == 2) {
        val ts = m.lenDelimited()
        var name = ""
        val labels = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val samples = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
        while (ts.hasNext) {
          val (tf, tw) = ts.tag()
          (tf, tw) match {
            case (1, 2) => // Label
              val lb = ts.lenDelimited()
              var k = ""; var v = ""
              while (lb.hasNext) lb.tag() match {
                case (1, 2) => k = lb.string()
                case (2, 2) => v = lb.string()
                case (_, lw) => lb.skip(lw)
              }
              if (k == "__name__") name = v else labels += (k -> v)
            case (2, 2) => // Sample
              val sm = ts.lenDelimited()
              var value = 0.0; var tsMs = 0L
              while (sm.hasNext) sm.tag() match {
                case (1, 1) => value = java.lang.Double.longBitsToDouble(sm.fixed64())
                case (2, 0) => tsMs = sm.varint()
                case (_, sw) => sm.skip(sw)
              }
              samples += ((value, tsMs))
            case (_, tw2) => ts.skip(tw2)
          }
        }
        samples.foreach { case (v, t) => out += Sample(name, labels.toSeq, t, v) }
      } else m.skip(w)
    }
    out.toSeq
  }

  /** Prometheus remote-write payloads (binary column) → metric-log
    * rows appended to the input row. `snappy = false` accepts
    * uncompressed WriteRequest bytes (for payloads produced where no
    * compressor exists — the decode path is identical after the
    * uncompress step). */
  final case class RemoteWriteParser(sourceKey: String = "payload",
      snappy: Boolean = true) {
    def apply(df: DataFrame): DataFrame = {
      val srcIdx = df.schema.fieldIndex(sourceKey)
      val useSnappy = snappy
      appendRows(df, Seq(
        StructField("__name__", StringType),
        StructField("__labels__", StringType),
        StructField("__time_nano__", LongType),
        StructField("__value__", StringType))) { r =>
        val raw = r.get(srcIdx).asInstanceOf[Array[Byte]]
        val bytes =
          if (useSnappy) org.xerial.snappy.Snappy.uncompress(raw) else raw
        parseWriteRequest(bytes).map(s => Seq(metricName(s.name),
          renderLabels(s.labels), tnNorm(s.tsMs), goFmt(s.value)))
      }
    }
  }

  // --- SLS LogGroup protobuf -----------------------------------------------

  private val SlsFields = StructType(Array(
    StructField("log_time", LongType),
    StructField("time_ns", LongType),
    StructField("contents", MapType(StringType, StringType)),
    StructField("topic", StringType),
    StructField("source", StringType),
    StructField("category", StringType),
    StructField("machine_uuid", StringType),
    StructField("log_tags", MapType(StringType, StringType))))

  /** `sls_logs.proto` LogGroup: Logs=1 { Time=1 (varint), Contents=2
    * {Key=1, Value=2}, Time_ns=4 (fixed32) }, Category=2, Topic=3,
    * Source=4, MachineUUID=5, LogTags=6 {Key=1, Value=2}. */
  private[ops] def parseLogGroup(bytes: Array[Byte])
      : Seq[(Long, Option[Long], Map[String, String])] = {
    groupOf(bytes)._1
  }

  private def groupOf(bytes: Array[Byte]) = {
    val logs = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Option[Long], Map[String, String])]
    var category = ""; var topic = ""; var source = ""; var uuid = ""
    val tags = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val m = root(bytes)
    while (m.hasNext) m.tag() match {
      case (1, 2) => // Log
        val lg = m.lenDelimited()
        var time = 0L
        var timeNs: Option[Long] = None
        val contents = scala.collection.mutable.LinkedHashMap.empty[String, String]
        while (lg.hasNext) lg.tag() match {
          case (1, 0) => time = lg.varint()
          case (2, 2) =>
            val c = lg.lenDelimited()
            var k = ""; var v = ""
            while (c.hasNext) c.tag() match {
              case (1, 2) => k = c.string()
              case (2, 2) => v = c.string()
              case (_, w) => c.skip(w)
            }
            contents(k) = v // duplicate keys: last wins
          case (4, 5) =>
            timeNs = Some(lg.fixed32())
          case (_, w) => lg.skip(w)
        }
        logs += ((time, timeNs, contents.toMap))
      case (2, 2) => category = m.string()
      case (3, 2) => topic = m.string()
      case (4, 2) => source = m.string()
      case (5, 2) => uuid = m.string()
      case (6, 2) =>
        val t = m.lenDelimited()
        var k = ""; var v = ""
        while (t.hasNext) t.tag() match {
          case (1, 2) => k = t.string()
          case (2, 2) => v = t.string()
          case (_, w) => t.skip(w)
        }
        tags(k) = v
      case (_, w) => m.skip(w)
    }
    (logs.toSeq, category, topic, source, uuid, tags.toMap)
  }

  /** SLS LogGroup payloads (binary column) → one row per Log with the
    * group envelope columns appended to the input row. */
  final case class SlsPbParser(sourceKey: String = "payload") {
    def apply(df: DataFrame): DataFrame = {
      val srcIdx = df.schema.fieldIndex(sourceKey)
      appendRows(df, SlsFields.fields.toSeq) { r =>
        val (logs, cat, topic, src, uuid, tags) =
          groupOf(r.get(srcIdx).asInstanceOf[Array[Byte]])
        logs.map { case (time, timeNs, contents) =>
          Seq(time, timeNs.map(java.lang.Long.valueOf).orNull, contents,
            topic, src, cat, uuid, tags)
        }
      }
    }
  }

  // --- raw ------------------------------------------------------------------

  /** The `raw` decoder (`pkg/protocol/decoder/raw/decoder.go:44-56`):
    * the whole payload becomes one log's `content` — a pure
    * projection (the wall-clock log time the reference stamps is the
    * same documented divergence as everywhere else). */
  final case class RawParser(sourceKey: String = "payload",
      destKey: String = "content") {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(destKey, col(sourceKey).cast("string"))
  }

  // --- flusher-side LogGroup packing ----------------------------------------

  /** The flusher_sls serialization shape: pack rows into SLS LogGroup
    * payloads honoring the reference's batch caps — at most `maxLogs`
    * logs and ~`maxBytes` of content per group
    * (`core/plugin/flusher/sls/FlusherSLS.cpp:46-59` — 4000 logs /
    * 10 MB / 3 s; the time trigger is a streaming-transport concern
    * with no batch analog, and LZ4 transport compression is orthogonal
    * to the wire layout, so both are out of scope here).
    *
    * Packs with [[pack]], so the operator is embarrassingly parallel
    * and `SlsPbParser(this(df))` round-trips the exact row set (the
    * pack boundary is partition-dependent, the decoded rows are not).
    * Output: one row per payload (`payload` binary, `n_logs`). */
  final case class SlsPbWriter(
      timeKey: String,
      contentKeys: Seq[String],
      topic: String = "",
      source: String = "",
      tags: Seq[(String, String)] = Nil,
      maxLogs: Int = 4000,
      maxBytes: Int = 10 << 20) {
    require(maxLogs > 0 && maxBytes > 0, "caps must be positive")

    def apply(df: DataFrame): DataFrame = {
      val inSchema = df.schema
      val tIdx = inSchema.fieldIndex(timeKey)
      val cIdx = contentKeys.map(k => k -> inSchema.fieldIndex(k))
      val (tpc, src, tgs) = (topic, source, tags)
      pack(df, "n_logs", maxLogs, maxBytes.toLong) { r =>
        // null values render as "" (proto3 strings have no null; the
        // literal string "null" would fabricate data on the far side)
        val contents = cIdx.map { case (k, i) =>
          k -> (r.get(i) match {
            case null => ""
            case v => String.valueOf(v)
          })
        }
        // cap accounting in ENCODED UTF-8 bytes, not UTF-16 chars —
        // char counting undershoots ~3x on CJK text and would ship
        // groups past the server-side size limit the cap exists for
        val sz = contents.iterator.map { case (k, v) =>
          k.getBytes(java.nio.charset.StandardCharsets.UTF_8).length +
            v.getBytes(java.nio.charset.StandardCharsets.UTF_8).length + 8
        }.sum + 16
        ((asLong(r.get(tIdx)), contents), sz.toLong)
      }(Encode.logGroup(tpc, src, tgs, _))
    }
  }

  // --- flusher_prometheus remote-write encoding ------------------------------

  /** The flusher_prometheus serialization shape: metric-log rows →
    * snappy(prompb.WriteRequest) payloads, at most `seriesLimit`
    * timeseries per payload (`plugins/flusher/prometheus/config.go:21`,
    * default 1000 in `def.go:24`). Mirrors the reference encoder
    * `pkg/protocol/encoder/prometheus/{encoder_prometheus.go:64-103,
    * utils.go:44-99}`: one single-sample TimeSeries per metric event,
    * labels = tags + `__name__` in LEXICOGRAPHICAL order with empty
    * names/values dropped (remote-write spec), timestamps nanos → ms.
    *
    * Input rows carry the engine's metric-log shape — the same columns
    * every metric decoder emits ([[RemoteWriteParser]], influx, statsd,
    * prometheus text): `__name__`, `__labels__` (`k#$#v|…` rendering),
    * `__time_nano__`, `__value__` (string; `__STALE_NAN__` round-trips
    * to the staleness-marker bits). Packs with [[pack]] like
    * [[SlsPbWriter]]; `RemoteWriteParser(this(df))` reproduces the exact
    * row set (pack boundaries are partition-dependent, the rows are
    * not) — except that a `|` INSIDE a label value (readSortedLabels
    * continuation, [[readLabels]]) reaches the wire intact but decodes
    * back sanitized to `_`, because helper.MetricLabels rendering does
    * exactly that in the reference too.
    * Output: one row per payload (`payload` binary, `n_series`). */
  final case class RemoteWriteWriter(
      nameKey: String = "__name__",
      labelsKey: String = "__labels__",
      timeKey: String = "__time_nano__",
      valueKey: String = "__value__",
      seriesLimit: Int = 1000,
      snappy: Boolean = true) {
    require(seriesLimit > 0, "seriesLimit must be positive")

    def apply(df: DataFrame): DataFrame = {
      val inSchema = df.schema
      val nIdx = inSchema.fieldIndex(nameKey)
      val lIdx = inSchema.fieldIndex(labelsKey)
      val tIdx = inSchema.fieldIndex(timeKey)
      val vIdx = inSchema.fieldIndex(valueKey)
      val compress = snappy
      pack(df, "n_series", seriesLimit) { r =>
        // total-function posture: null/hostile fields coerce, never
        // kill the batch (the decoders' twin discipline)
        val name = if (r.isNullAt(nIdx)) "" else String.valueOf(r.get(nIdx))
        val labelStr =
          if (r.isNullAt(lIdx)) "" else String.valueOf(r.get(lIdx))
        val tags = readLabels(labelStr)
        val value = if (r.isNullAt(vIdx)) 0.0 else
          String.valueOf(r.get(vIdx)) match {
            case "__STALE_NAN__" =>
              java.lang.Double.longBitsToDouble(StaleNaNBits)
            case s => scala.util.Try(s.toDouble).getOrElse(0.0)
          }
        // labels: tags + __name__, lexicographically sorted, empties
        // dropped (utils.go:63-99); nanos → ms (utils.go:52-59).
        // Dedup by key (last wins) first: the reference builds the
        // set from a MAP, so duplicate keys — a repeated tag or a
        // __name__ entry inside the label string — cannot reach the
        // wire there; here they would make an invalid WriteRequest
        val labels = (tags :+ (metricNameKey -> name))
          .foldLeft(Vector.empty[(String, String)]) {
            case (acc, (k, v)) => acc.filterNot(_._1 == k) :+ (k -> v)
          }
          .filter { case (k, v) => k.nonEmpty && v.nonEmpty }
          .sortBy(_._1)
        ((labels, Seq((value, asLong(r.get(tIdx)) / 1000000L))), 0L)
      } { series =>
        val raw = Encode.writeRequestRaw(series)
        if (compress) org.xerial.snappy.Snappy.compress(raw) else raw
      }
    }
  }

  private val metricNameKey = "__name__"

  /** The reference's `metricReader.readSortedLabels` scan
    * (`pkg/protocol/converter/converter_sls_metric.go:101-160`) over
    * the `k#$#v|…` string: `|` separates entries, but a segment
    * WITHOUT `#$#` is a CONTINUATION — it extends the previous label's
    * VALUE (the `|` restored), or the pending KEY before the first
    * completed label; key/value split on the FIRST `#$#`. A trailing
    * `|` yields no segment there (the manual scanner exits on empty
    * remainder) — mirrored by dropping the one trailing empty split. A
    * dangling key at the end is the reference's error case; the
    * writers' total posture keeps the completed labels and drops the
    * dangling key. Unsorted — callers sort/dedup per their wire rules. */
  private[ops] def readLabels(labelStr: String): Seq[(String, String)] = {
    if (labelStr.isEmpty) return Nil
    val all = labelStr.split("\\|", -1)
    val segs: Seq[String] =
      if (all.last.isEmpty) all.toSeq.dropRight(1) else all.toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var key = ""
    segs.foreach { seg =>
      val i = seg.indexOf("#$#")
      if (i < 0) {
        if (out.nonEmpty) {
          val (k, v) = out.last
          out(out.size - 1) = (k, v + "|" + seg)
        } else key = if (key.isEmpty) seg else key + "|" + seg
      } else {
        val k0 = seg.substring(0, i)
        out += (((if (key.isEmpty) k0 else key + "|" + k0),
          seg.substring(i + 3)))
        key = ""
      }
    }
    out.toSeq
  }

  // --- protobuf wire writer -------------------------------------------------

  /** Hand-rolled wire-format writers (the inverse of the readers above;
    * a reference system would produce these same bytes with prompb /
    * sls_logs marshalling): the packers' encoders, the specs' and the
    * deterministic driver fixtures' test vectors, and the field helpers
    * [[PprofOps.Encode]] builds `profile.proto` from. */
  object Encode {
    private[ops] def varint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    private def keyed(out: java.io.ByteArrayOutputStream, field: Int,
        wire: Int): Unit = varint(out, (field.toLong << 3) | wire)
    private[ops] def varintField(out: java.io.ByteArrayOutputStream,
        field: Int, v: Long): Unit = {
      keyed(out, field, 0); varint(out, v)
    }
    private def bytesField(out: java.io.ByteArrayOutputStream, field: Int,
        b: Array[Byte]): Unit = {
      keyed(out, field, 2); varint(out, b.length.toLong); out.write(b)
    }
    private[ops] def strField(out: java.io.ByteArrayOutputStream, field: Int,
        s: String): Unit =
      bytesField(out, field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    private def msg(f: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      f(out)
      out.toByteArray
    }
    /** A length-delimited sub-message field whose body `f` writes. */
    private[ops] def sub(out: java.io.ByteArrayOutputStream, field: Int)(
        f: java.io.ByteArrayOutputStream => Unit): Unit =
      bytesField(out, field, msg(f))

    /** prompb.WriteRequest bytes (uncompressed), `__name__` prepended
      * to the given labels — the fixture-building convenience. */
    def writeRequest(
        series: Seq[(String, Seq[(String, String)], Seq[(Double, Long)])])
        : Array[Byte] =
      writeRequestRaw(series.map { case (name, labels, samples) =>
        ((("__name__" -> name) +: labels), samples)
      })

    /** prompb.WriteRequest bytes from FULL label lists, written in the
      * given order — the flusher encoder passes an already-sorted list
      * per the remote-write spec ([[RemoteWriteWriter]]). */
    def writeRequestRaw(
        series: Seq[(Seq[(String, String)], Seq[(Double, Long)])])
        : Array[Byte] = msg { out =>
      series.foreach { case (labels, samples) =>
        sub(out, 1) { ts =>
          labels.foreach { case (k, v) =>
            sub(ts, 1) { lb => strField(lb, 1, k); strField(lb, 2, v) }
          }
          samples.foreach { case (value, tsMs) =>
            sub(ts, 2) { sm =>
              keyed(sm, 1, 1)
              // RAW bits: doubleToLongBits canonicalizes NaNs and would
              // destroy the Prometheus staleness marker payload
              val bits = java.lang.Double.doubleToRawLongBits(value)
              var i = 0
              while (i < 8) { sm.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
              varintField(sm, 2, tsMs)
            }
          }
        }
      }
    }

    /** sls_logs.LogGroup bytes. */
    def logGroup(topic: String, source: String,
        tags: Seq[(String, String)],
        logs: Seq[(Long, Seq[(String, String)])]): Array[Byte] = msg { out =>
      logs.foreach { case (time, contents) =>
        sub(out, 1) { lg =>
          varintField(lg, 1, time)
          contents.foreach { case (k, v) =>
            sub(lg, 2) { c => strField(c, 1, k); strField(c, 2, v) }
          }
        }
      }
      if (topic.nonEmpty) strField(out, 3, topic)
      if (source.nonEmpty) strField(out, 4, source)
      tags.foreach { case (k, v) =>
        sub(out, 6) { t => strField(t, 1, k); strField(t, 2, v) }
      }
    }
  }
}
