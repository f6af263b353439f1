package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession._

/** pprof profile decode (pkg/helper/profile/pyroscope/pprof/
  * {pprof.go,pyroscope.go}). The first case replays the reference's own
  * unit test — `pprof_test.go:69-107` over its `testdata/cpu.pb.gz`
  * fixture — asserting the exact stackID/name/stack/val field vector;
  * the rest drive deterministic Encode-built profiles through the
  * filter/scale/label/exemplar semantics. */
class PprofOpsSpec extends AnyFunSuite {

  import PprofOps.Encode.{Fn, Loc, Smpl}

  private def reqDf(payload: Array[Byte],
      name: String = "demo.cpu{profile_id=p1}",
      spy: String = "gospy", rate: String = "100", agg: String = null) = {
    val s = spark
    import s.implicits._
    Seq((payload, name, spy, rate, agg))
      .toDF("payload", "name", "spyName", "sampleRate", "aggregationType")
  }

  // ---- the reference's own CPU-profile vector (pprof_test.go:48-61) ----
  test("pprof_test.go cpu.pb.gz vector: 6 stacks, exact stackID (xxhash " +
    "seed-0 parity), name/stack order, samples -> nanoseconds scaling") {
    val fixture = new java.io.File(
      "/root/reference/pkg/helper/profile/pyroscope/pprof/testdata/cpu.pb.gz")
    if (!fixture.exists) cancel(s"reference fixture ${fixture.getPath} " +
      "is missing: the pprof parity evidence (pprof_test.go cpu.pb.gz " +
      "vector) did NOT run")
    val bytes = java.nio.file.Files.readAllBytes(fixture.toPath)
    val out = collectMaps(PprofOps.PprofParser(
      tags = Map("cluster" -> "cluster2"))(
      reqDf(bytes, name = "myapp{_app_name_=12}", spy = "go",
        rate = "99", agg = "sum")))
    assert(out.size == 6) // require.Equal(t, len(logs), 6)
    val pick = out.filter(_("stackID") == "40fb694aa9506d0b")
    assert(pick.size == 1)
    val log = pick.head
    assert(log("name") ==
      "runtime.kevent /opt/homebrew/Cellar/go/1.16.1/libexec/src/runtime/sys_darwin.go")
    assert(log("stack") ==
      "runtime.netpoll /opt/homebrew/Cellar/go/1.16.1/libexec/src/runtime/netpoll_kqueue.go\n" +
      "runtime.findrunnable /opt/homebrew/Cellar/go/1.16.1/libexec/src/runtime/proc.go\n" +
      "runtime.schedule /opt/homebrew/Cellar/go/1.16.1/libexec/src/runtime/proc.go\n" +
      "runtime.park_m /opt/homebrew/Cellar/go/1.16.1/libexec/src/runtime/proc.go\n" +
      "runtime.mcall /opt/homebrew/Cellar/go/1.16.1/libexec/src/runtime/asm_arm64.s")
    assert(log("language") == "go")
    assert(log("type") == "profile_cpu")
    assert(log("units") == "nanoseconds")
    assert(log("valueTypes") == "cpu")
    assert(log("aggTypes") == "sum")
    assert(log("dataType") == "CallStack")
    assert(log("durationNs") == (1619321949365317167L - 1619321948265140000L))
    assert(log("val") == "250000000.00")
    // labels: key labels + _sample_rate_ + handler tags, key-sorted JSON
    assert(log("labels") ==
      """{"__name__":"myapp","_app_name_":"12","_sample_rate_":"99","cluster":"cluster2"}""")
  }

  // ---- deterministic Encode-built profiles ------------------------------
  private val twoTypes = Seq(("samples", "count"), ("cpu", "nanoseconds"),
    ("inuse_space", "bytes"), ("alloc_space", "bytes"))
  private def mkProfile(samples: Seq[Smpl], gzip: Boolean = true) =
    PprofOps.Encode.profile(
      sampleTypes = twoTypes,
      samples = samples,
      locations = Seq(Loc(1, Seq(10)), Loc(2, Seq(11)), Loc(3, Seq(12, 11))),
      functions = Seq(Fn(10, "alpha", "alpha.go"), Fn(11, "beta", "beta.go"),
        Fn(12, "gamma", "gamma.go")),
      timeNanos = 1673495500000000000L, durationNanos = 10000000000L,
      periodType = Some(("cpu", "nanoseconds")), period = 10000000L,
      gzip = gzip)

  test("sample-type discipline: unknown types filtered, cumulative " +
    "types emit nothing, samples scale by period-ns with unit rewrite, " +
    "same-stack samples sum") {
    // leaf = loc 1 (alpha), root = loc 2 (beta); values: samples=3(+5),
    // cpu=999 (NOT in mapping -> ignored), inuse=50, alloc=7 (cumulative)
    val p = mkProfile(Seq(
      Smpl(Seq(1, 2), Seq(3, 999, 50, 7)),
      Smpl(Seq(1, 2), Seq(5, 999, 0, 7))))
    val out = collectMaps(PprofOps.PprofParser()(reqDf(p)))
    assert(out.size == 2) // samples + inuse_space; cpu/alloc_space absent
    val cpu = out.find(_("valueTypes") == "cpu").get
    assert(cpu("units") == "nanoseconds" && cpu("val") == "80000000.00")
    assert(cpu("name") == "alpha alpha.go" && cpu("stack") == "beta beta.go")
    assert(cpu("type") == "profile_cpu" && cpu("aggTypes") == "sum")
    assert(cpu("durationNs") == 10000000000L)
    assert(cpu("profileID") == "p1") // brace label, pre-tag-merge
    val mem = out.find(_("valueTypes") == "inuse_space").get
    assert(mem("units") == "bytes" && mem("val") == "50.00")
    assert(mem("type") == "profile_mem" && mem("aggTypes") == "avg")
  }

  test("inline lines walk in reverse (caller above inlinee), spy layout " +
    "applies per frame, uncompressed profiles accepted") {
    // loc 3 lines = [gamma (inlined leaf), beta (caller)]
    val p = mkProfile(Seq(Smpl(Seq(3), Seq(4, 0, 0, 0))), gzip = false)
    val rb = collectMaps(PprofOps.PprofParser()(
      reqDf(p, spy = "pyroscope-rbspy")))
    assert(rb.size == 1)
    // rb is PosFirst: "name pos" -> "pos name"
    assert(rb.head("name") == "gamma.go gamma")
    assert(rb.head("stack") == "beta.go beta")
    assert(rb.head("language") == "rb")
  }

  test("sample labels resolve from the string table; profile_id " +
    "exemplars count in BOTH the labeled and cut-label baseline tree") {
    val p = mkProfile(Seq(
      Smpl(Seq(1, 2), Seq(2, 0, 0, 0), labels = Seq("span" -> "s1")),
      Smpl(Seq(1, 2), Seq(3, 0, 0, 0),
        labels = Seq("span" -> "s1", "profile_id" -> "exem"))))
    val out = collectMaps(PprofOps.PprofParser()(reqDf(p)))
    // label sets: {span=s1} baseline (2+3=5) and {span=s1,profile_id=exem} (3)
    assert(out.size == 2)
    val base = out.find(!_("labels").asInstanceOf[String]
      .contains("exem")).get
    assert(base("val") == "50000000.00")
    assert(base("labels") ==
      """{"__name__":"demo","_sample_rate_":"100","profile_id":"p1","span":"s1"}""")
    val exem = out.find(_("labels").asInstanceOf[String]
      .contains("exem")).get
    assert(exem("val") == "30000000.00")
  }

  test("total under hostile input: garbage bytes, truncated gzip, " +
    "empty name, missing locations all drop rows; no exceptions") {
    val garbage = reqDf(Array[Byte](1, 2, 3, 4))
    assert(PprofOps.PprofParser()(garbage).count() == 0)
    val trunc = mkProfile(Seq(Smpl(Seq(1, 2), Seq(3, 0, 0, 0))))
      .take(10)
    assert(PprofOps.PprofParser()(reqDf(trunc)).count() == 0)
    assert(PprofOps.PprofParser()(
      reqDf(mkProfile(Seq(Smpl(Seq(1, 2), Seq(3, 0, 0, 0)))),
        name = null)).count() == 0)
    // unknown location ids skip silently (FindLocation miss)
    val orphan = mkProfile(Seq(Smpl(Seq(77), Seq(3, 0, 0, 0))))
    assert(PprofOps.PprofParser()(reqDf(orphan)).count() == 0)
    // fuzz: random bytes never kill the decode
    val rnd = new scala.util.Random(7)
    val s = spark
    import s.implicits._
    val fuzz = (1 to 32).map { _ =>
      val b = new Array[Byte](rnd.nextInt(64) + 1); rnd.nextBytes(b)
      (b, "app", "go", "100", "sum")
    }.toDF("payload", "name", "spyName", "sampleRate", "aggregationType")
    PprofOps.PprofParser()(fuzz).count() // must not throw
  }

  test("gzip bomb: a few-KB body inflating past the 64 MiB cap drops " +
    "the row (bounded inflate throws IOException, which the decode " +
    "seam absorbs) instead of OOMing the executor") {
    val bomb = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      val chunk = new Array[Byte](1 << 20)
      (0 until 80).foreach(_ => gz.write(chunk)) // 80 MiB of zeros
      gz.close()
      bos.toByteArray
    }
    assert(bomb.length < 256 * 1024) // it IS a bomb, not a big body
    intercept[java.io.IOException](PprofOps.gunzipIfNeeded(bomb))
    assert(PprofOps.PprofParser()(reqDf(bomb)).count() == 0)
  }

  test("deterministic uuid-shaped fallback profileID when no " +
    "profile_id brace label (from+duration bound)") {
    val s = spark
    import s.implicits._
    val p = mkProfile(Seq(Smpl(Seq(1, 2), Seq(3, 0, 0, 0))))
    val df = Seq((p, "demo.cpu", "go", "100", "sum", "1673495500",
      "1673495510"))
      .toDF("payload", "name", "spyName", "sampleRate", "aggregationType",
        "from", "until")
    val out = collectMaps(PprofOps.PprofParser()(df))
    assert(out.head("profileID").asInstanceOf[String]
      .matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
    // same request -> same id (batch re-runs reproducible)
    val again = collectMaps(PprofOps.PprofParser()(df))
    assert(again.head("profileID") == out.head("profileID"))
  }
}
