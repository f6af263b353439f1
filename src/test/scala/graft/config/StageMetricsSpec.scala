package graft.config

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession._

/** Per-plugin self-monitor counters over the configured pipeline —
  * the counter set every reference processor unittest asserts
  * (`core/plugin/processor/ProcessorParseRegexNative.cpp:146-161`
  * increments; names `core/monitor/metric_constants/PluginMetrics.cpp`).
  */
class StageMetricsSpec extends AnyFunSuite {

  // 6 regex-matching lines, 4 failures — the ProcessorParseRegexNative
  // unittest shape (N events in, M parse failures)
  private val lines = Seq(
    "alpha 1", "beta 2", "gamma 3", "delta 4", "eps 5", "zeta 6",
    "nope", "bad line", "???", "also not")

  private def observedCounters(cfg: String) = {
    val obs = PipelineConfig.parse(cfg).applyObserved(textDf(lines: _*))
    obs.df.count() // ONE action; the counters ride it
    obs.counters
  }

  test("parse_regex keep-fail: in/out/discarded + successful/failed " +
    "match the reference counter semantics") {
    val cs = observedCounters(
      """{"processors":[{"type":"parse_regex","sourceKey":"text",""" +
        """"regex":"([a-z]+) (\\d+)","keys":["word","num"]}]}""")
    assert(cs.size == 1 && cs.head.kind == "parse_regex")
    assert(cs.head.counters == Map(
      "in_events_total" -> 10L, "out_events_total" -> 10L,
      "discarded_events_total" -> 0L,
      "out_successful_events_total" -> 6L,
      "out_failed_events_total" -> 4L))
  }

  test("parse_regex strict mode: failures are discarded, not failed-kept") {
    val cs = observedCounters(
      """{"processors":[{"type":"parse_regex","sourceKey":"text",""" +
        """"regex":"([a-z]+) (\\d+)","keys":["word","num"],""" +
        """"keepSourceWhenParseFail":false}]}""")
    assert(cs.head.counters == Map(
      "in_events_total" -> 10L, "out_events_total" -> 6L,
      "discarded_events_total" -> 4L,
      "out_successful_events_total" -> 6L,
      "out_failed_events_total" -> 0L))
  }

  test("chained stages: each boundary observed once, filter discards " +
    "counted on the filter stage") {
    val cs = observedCounters(
      """{"processors":[""" +
        """{"type":"parse_regex","sourceKey":"text","regex":"([a-z]+) (\\d+)","keys":["word","num"]},""" +
        """{"type":"filter_include","include":{"word":"alpha|beta"}}]}""")
    assert(cs.map(_.kind) == Seq("parse_regex", "filter_include"))
    assert(cs(0).counters("out_events_total") == 10L)
    assert(cs(1).counters == Map(
      "in_events_total" -> 10L, "out_events_total" -> 2L,
      "discarded_events_total" -> 8L))
  }

  test("expanding stage: fan-out visible as out > in, discarded clamps 0") {
    val cs = observedCounters(
      """{"processors":[{"type":"split_explode","sourceKey":"text","separator":" "}]}""")
    assert(cs.head.counters("in_events_total") == 10L)
    assert(cs.head.counters("out_events_total") == 18L)
    assert(cs.head.counters("discarded_events_total") == 0L)
  }
}
