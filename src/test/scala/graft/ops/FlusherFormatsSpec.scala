package graft.ops
// (fixtures below cite the reference's own converter unit tests)

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession._

/** Generic flusher serialization protocols
  * (pkg/protocol/converter/{custom_single_log,
  * converter_single_log_flatten,jsonline,influxdb_metric}.go),
  * replaying the tag-rename / protocol-key vectors of
  * custom_single_log_test.go and the line-protocol semantics of
  * converter_sls_metric.go's metricReader. */
class FlusherFormatsSpec extends AnyFunSuite {

  private def accessLog() = {
    val s = spark
    import s.implicits._
    // custom_single_log_test.go:36-61 — method/status contents, a
    // __tag__:__path__ content-derived tag, LogTags __hostname__ +
    // __pack_id__ (suppressed), Source 172.10.0.56, Topic "file"
    Seq(("PUT", "200", "/root/test/origin/example.log", 1662434209L),
      ("GET", "404", "/root/test/origin/example.log", 1662434487L))
      .toDF("method", "status", "__tag__:__path__", "t_sec")
  }

  test("custom_single vectors (custom_single_log_test.go:30-86): " +
    "reserved tag renames, pack_id suppression, host.ip/log.topic, " +
    "sorted-key JSON with time as a number") {
    val out = FlusherFormats.CustomSingleWriter(
      timeKey = "t_sec", contentKeys = Seq("method", "status"),
      tagCols = Seq("__tag__:__path__"),
      source = "172.10.0.56", topic = "file",
      tags = Map("__hostname__" -> "alje834hgf",
        "__pack_id__" -> "AEDCFGHNJUIOPLMN-1E"))(accessLog())
      .select("payload").collect().map(_.getString(0))
    assert(out.head ==
      """{"contents":{"method":"PUT","status":"200"},""" +
      """"tags":{"host.ip":"172.10.0.56","host.name":"alje834hgf",""" +
      """"log.file.path":"/root/test/origin/example.log",""" +
      """"log.topic":"file"},"time":1662434209}""")
    assert(out(1).contains(""""method":"GET","status":"404""""))
  }

  test("docker-env tags (custom_single_log_test.go:88-140): container " +
    "renames land, __user_defined_id__ suppressed — 7 tags total") {
    val s = spark
    import s.implicits._
    val df = Seq(("PUT", "200")).toDF("method", "status")
      .withColumn("t_sec", org.apache.spark.sql.functions.lit(1662434209L))
      .withColumn("__tag__:__user_defined_id__",
        org.apache.spark.sql.functions.lit("machine"))
      .withColumn("__tag__:__path__",
        org.apache.spark.sql.functions.lit("/root/test/origin/example.log"))
      .withColumn("__tag__:_container_name_",
        org.apache.spark.sql.functions.lit("container"))
      .withColumn("__tag__:_container_ip_",
        org.apache.spark.sql.functions.lit("172.10.0.45"))
      .withColumn("__tag__:_image_name_",
        org.apache.spark.sql.functions.lit("image"))
    val payload = FlusherFormats.CustomSingleWriter(
      timeKey = "t_sec", contentKeys = Seq("method", "status"),
      tagCols = Seq("__tag__:__user_defined_id__", "__tag__:__path__",
        "__tag__:_container_name_", "__tag__:_container_ip_",
        "__tag__:_image_name_"),
      source = "172.10.0.56", topic = "file",
      tags = Map("__hostname__" -> "alje834hgf"))(df)
      .select("payload").collect().head.getString(0)
    assert(payload ==
      """{"contents":{"method":"PUT","status":"200"},""" +
      """"tags":{"container.image.name":"image",""" +
      """"container.ip":"172.10.0.45","container.name":"container",""" +
      """"host.ip":"172.10.0.56","host.name":"alje834hgf",""" +
      """"log.file.path":"/root/test/origin/example.log",""" +
      """"log.topic":"file"},"time":1662434209}""")
  }

  test("tagKeyRenameMap (rename + rename-to-empty drops) and " +
    "protocolKeyRenameMap (custom_single_log.go:44-58)") {
    val payload = FlusherFormats.CustomSingleWriter(
      timeKey = "t_sec", contentKeys = Seq("method"),
      tagCols = Seq("__tag__:__path__"),
      source = "172.10.0.56", topic = "file",
      tags = Map("__hostname__" -> "alje834hgf"),
      tagKeyRenameMap = Map(
        "log.file.path" -> "filepath", // rename
        "host.name" -> "", // rename-to-empty = drop
        "log.topic" -> ""),
      protocolKeyRenameMap = Map("time" -> "@timestamp",
        "contents" -> "body"))(accessLog())
      .select("payload").collect().head.getString(0)
    // renamed protocol keys re-sort: @timestamp < body < tags
    assert(payload ==
      """{"@timestamp":1662434209,"body":{"method":"PUT"},""" +
      """"tags":{"filepath":"/root/test/origin/example.log",""" +
      """"host.ip":"172.10.0.56"}}""")
  }

  test("flatten merges contents+tags+time into one sorted object; " +
    "onlyContents drops the tags; jsonline is the flatten shape") {
    val flat = FlusherFormats.CustomSingleWriter(
      timeKey = "t_sec", contentKeys = Seq("method", "status"),
      tagCols = Seq("__tag__:__path__"), source = "172.10.0.56",
      topic = "file", flatten = true)(accessLog())
      .select("payload").collect().head.getString(0)
    assert(flat ==
      """{"host.ip":"172.10.0.56",""" +
      """"log.file.path":"/root/test/origin/example.log",""" +
      """"log.topic":"file","method":"PUT","status":"200",""" +
      """"time":1662434209}""")
    val contentsOnly = FlusherFormats.CustomSingleWriter(
      timeKey = "t_sec", contentKeys = Seq("method", "status"),
      tagCols = Seq("__tag__:__path__"), source = "172.10.0.56",
      flatten = true, onlyContents = true)(accessLog())
      .select("payload").collect().head.getString(0)
    assert(contentsOnly ==
      """{"method":"PUT","status":"200","time":1662434209}""")
  }

  test("flatten collision: a tag overwrites a content of the same key " +
    "(Go map insert order, converter_single_log_flatten.go:40-49)") {
    val s = spark
    import s.implicits._
    val df = Seq(("fromContents", "fromTag", 1L))
      .toDF("k", "__tag__:k", "t_sec")
    val payload = FlusherFormats.CustomSingleWriter(
      timeKey = "t_sec", contentKeys = Seq("k"),
      tagCols = Seq("__tag__:k"), flatten = true)(df)
      .select("payload").collect().head.getString(0)
    assert(payload == """{"k":"fromTag","time":1}""")
  }

  // ---- influx line protocol --------------------------------------------

  private def metricDf(rows: (String, String, String, String, String,
      java.lang.Long)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("__name__", "__labels__", "__value__", "__type__",
      "__field__", "__time_nano__")
  }

  test("influx encode: measurement/field split via __field__, sorted " +
    "tags, per-type value rendering, timestamp omitted when absent " +
    "(influxdb_metric.go:32-86 + metricReader)") {
    val out = FlusherFormats.InfluxLineWriter()(metricDf(
      // no labels, no ts (influxdb_metric_test.go wantStream line 1)
      ("metric", "", "1", "float", "value", null),
      // one label (line 2)
      ("metric", "aa#$#bb", "1", "float", "value", null),
      // ts present (line 3)
      ("metric", "", "1", "float", "value", 1667615389000000000L),
      // field != value: name carries the :field suffix the decoder
      // wrote; encode strips it back (readNames TrimSuffix)
      ("cpu:usage", "host#$#h1|zone#$#z", "0.5", "float", "usage", null),
      // int / bool / string typed values
      ("m", "", "42", "int", "value", null),
      ("m", "", "1", "boolean", "value", null),
      ("m", "", "hi \"q\"", "string", "value", null)))
      .select("line").collect().map(_.getString(0))
    assert(out(0) == "metric value=1")
    assert(out(1) == "metric,aa=bb value=1")
    assert(out(2) == "metric value=1 1667615389000000000")
    assert(out(3) == "cpu,host=h1,zone=z usage=0.5")
    assert(out(4) == "m value=42i")
    assert(out(5) == "m value=true")
    assert(out(6) == "m value=\"hi \\\"q\\\"\"")
  }

  test("influx encode escaping is the exact inverse of the parser: " +
    "spaces/commas/equals in identifiers, quotes in strings — " +
    "encode → InfluxLineParser = identity") {
    val src = metricDf(
      ("disk io", "dc 1#$#us,east|k=2#$#v 2", "3.25", "float", "value",
        1667615389000000000L),
      ("m:f 2", "a#$#b", "7", "int", "f 2", 1667615389000000001L))
    val lines = FlusherFormats.InfluxLineWriter()(src)
    assert(lines.select("line").collect().map(_.getString(0)).head ==
      "disk\\ io,dc\\ 1=us\\,east,k\\=2=v\\ 2 value=3.25 1667615389000000000")
    val back = collectMaps(WireFormats.InfluxLineParser(
      sourceKey = "line", fieldsExtend = true)(lines.select("line"))
      .select("__name__", "__labels__", "__value__", "__type__",
        "__field__", "__time_nano__"))
    assert(back.size == 2)
    assert(back.head == Map("__name__" -> "disk io",
      "__labels__" -> "dc 1#$#us,east|k=2#$#v 2",
      "__value__" -> "3.25", "__type__" -> "float",
      "__field__" -> "value",
      "__time_nano__" -> 1667615389000000000L))
    assert(back(1) == Map("__name__" -> "m:f 2",
      "__labels__" -> "a#$#b", "__value__" -> "7",
      "__type__" -> "int", "__field__" -> "f 2",
      "__time_nano__" -> 1667615389000000001L))
  }

  test("influx encode/decode is a fixed point on hostile identifiers: " +
    "encode → parse → encode reproduces the exact line set") {
    // randomized escape-inverse property: spaces/commas/equals/
    // backslashes/quotes/pipes/unicode in measurements, tag keys, tag
    // values, fields, and string values. The first encode canonicalizes
    // (sorted tags, shortest floats); the parse must invert the
    // escaping exactly so the second encode is byte-identical.
    import org.scalacheck.Gen
    // '|' only in VALUES: a pipe inside a sorted tag KEY can re-scan
    // into a duplicate key (influx-invalid by construction); '#' never
    // — it would change which entries the label scanner sees (that
    // scanner has its own twin-pin property test)
    val keyChar = Gen.oneOf('a', 'Z', '0', ' ', ',', '=', '\\',
      ':', '"', '€', '_')
    val valChar = Gen.oneOf('a', 'Z', '0', ' ', ',', '=', '\\', '|',
      ':', '"', '€', '_')
    // head char non-space so identifiers are never all-whitespace
    def identOf(g: Gen[Char]) = for {
      h <- Gen.oneOf('a', 'Z', '0', '€', '_')
      n <- Gen.choose(0, 5)
      t <- Gen.listOfN(n, g)
    } yield (h +: t).mkString
    val ident = identOf(keyChar)
    val tagGen = for { k <- identOf(keyChar); v <- identOf(valChar) }
      yield (k, v)
    val rowGen: Gen[(String, String, String, String, String,
        java.lang.Long)] = for {
      name <- ident
      nTags <- Gen.choose(0, 4)
      tags <- Gen.listOfN(nTags, tagGen)
      vtype <- Gen.oneOf("float", "int", "bool", "string")
      value <- vtype match {
        case "float" => Gen.choose(-1e6, 1e6).map(_.toString)
        case "int" => Gen.choose(Long.MinValue, Long.MaxValue)
          .map(_.toString)
        case "bool" => Gen.oneOf("true", "false")
        case _ => Gen.listOfN(5, valChar).map(_.mkString)
      }
      field <- Gen.oneOf(Gen.const("value"), ident)
      ts <- Gen.oneOf(Gen.const(null: java.lang.Long),
        Gen.choose(1L, 1767615389000000000L).map(Long.box))
    } yield {
      // distinct keys: duplicate tag keys are influx-invalid and the
      // writer's sort on them is unstable by design (reference parity)
      val labels = tags.groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
        .map { case (k, v) => k + "#$#" + v }.mkString("|")
      (name, labels, value, vtype, field, ts)
    }
    // always in the set: a last tag value ending in '|', whose label
    // string then ends in "||" (the scanner drops one trailing '|')
    val rows = ("m", "aa#$#x||", "1", "float", "value", null: java.lang.Long) +:
      Gen.listOfN(60, rowGen).sample.getOrElse(Nil)
    assert(rows.size == 61)
    val src = metricDf(rows: _*)
    val w = FlusherFormats.InfluxLineWriter()
    val lines1 = w(src).select("line").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(lines1.size == 61, "first encode dropped parseable rows")
    val decoded = WireFormats.InfluxLineParser(
      sourceKey = "line", fieldsExtend = true)(w(src).select("line"))
      .select("__name__", "__labels__", "__value__", "__type__",
        "__field__", "__time_nano__")
    val lines2 = w(decoded).select("line").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(lines2 == lines1,
      s"escape round-trip drifted:\n${lines1.zip(lines2)
        .filter(p => p._1 != p._2).take(5).mkString("\n")}")
  }

  test("influx encode drops an unparseable value instead of killing " +
    "the batch (reference errors the whole LogGroup)") {
    val out = FlusherFormats.InfluxLineWriter()(metricDf(
      ("m", "", "not-a-number", "float", "value", null),
      ("m", "", "nope", "int", "value", null),
      ("m", "", "maybe", "boolean", "value", null),
      ("ok", "", "1", "float", "value", null)))
    assert(out.count() == 1)
    assert(out.select("line").collect().head.getString(0) == "ok value=1")
  }

  test("influx encode label continuation (readSortedLabels converter_" +
    "sls_metric.go:101-160): a segment without '#$#' extends the " +
    "previous VALUE or the pending KEY, value splits on the FIRST " +
    "'#$#', a trailing '|' emits nothing, a dangling key drops") {
    val out = FlusherFormats.InfluxLineWriter()(metricDf(
      ("m", "path#$#/a|/b", "1", "float", "value", null), // value cont.
      ("m", "a|b#$#v", "1", "float", "value", null), // key continuation
      ("m", "k#$#v#$#w", "1", "float", "value", null), // first-#$# split
      ("m", "aa#$#bb|", "1", "float", "value", null), // trailing '|'
      ("m", "dangling", "1", "float", "value", null))) // dangling key
      .select("line").collect().map(_.getString(0))
    assert(out(0) == "m,path=/a|/b value=1")
    assert(out(1) == "m,a|b=v value=1")
    assert(out(2) == "m,k=v#$#w value=1")
    assert(out(3) == "m,aa=bb value=1")
    assert(out(4) == "m value=1")
    // and the value-continuation line round-trips through the parser
    val back = collectMaps(WireFormats.InfluxLineParser(
      sourceKey = "line", fieldsExtend = true)(
      FlusherFormats.InfluxLineWriter()(metricDf(
        ("m", "path#$#/a|/b", "1", "float", "value", null)))
        .select("line"))
      .select("__name__", "__labels__"))
    assert(back.head == Map("__name__" -> "m",
      "__labels__" -> "path#$#/a|/b"))
  }

  test("influx encode: NaN/Infinity parse as doubles but the reference " +
    "lineprotocol.NewValue rejects non-finite values — the row drops " +
    "instead of emitting an invalid line") {
    val out = FlusherFormats.InfluxLineWriter()(metricDf(
      ("m", "", "NaN", "float", "value", null),
      ("m", "", "Infinity", "float", "value", null),
      ("m", "", "-Infinity", "float", "value", null),
      ("ok", "", "2.5", "float", "value", null)))
    assert(out.count() == 1)
    assert(out.select("line").collect().head.getString(0) ==
      "ok value=2.5")
  }
}
