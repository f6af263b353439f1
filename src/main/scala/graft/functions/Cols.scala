package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-expression helpers. */
object Cols {

  /** Let-binding for Column expressions: evaluate `e` ONCE per row and
    * bind the result as a lambda variable inside `f`.
    *
    * Catalyst re-evaluates an expression TREE every time it appears in
    * a higher-order-function lambda body — a non-trivial `e` referenced
    * inside a per-element lambda (or referenced k times in one
    * projection expression) multiplies its cost by the element count /
    * k. Wrapping it as the element of a one-element array forces a
    * single evaluation: the lambda variable is a bound attribute, not a
    * tree. (Measured: SimHash sketch dropped ~30× when the per-token
    * md5 stopped being recomputed per bit.)
    */
  def let(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), x => f(x)), 1)

  /** Two-value let. */
  def let2(e1: Column, e2: Column)(f: (Column, Column) => Column): Column =
    let(struct(e1.as("_1"), e2.as("_2")))(s =>
      f(s.getField("_1"), s.getField("_2")))

  /** Pack all `n` capture groups of one matching regex in a SINGLE
    * match: one `regexp_replace` + one `split` instead of n
    * `regexp_extract` calls (each of which re-runs the whole match —
    * CLAUDE.md lesson, 1.65× end-to-end on the transcript parse).
    * Unmatched optional groups come back as "" exactly like
    * `regexp_extract`; rows that CONTAIN the `\u0001` delimiter (would
    * shift the split) fall back to per-group extraction. Result is
    * 1-indexed via `element_at`. Callers gate on their own match
    * predicate — on a non-matching row the replace is identity and the
    * packed array is garbage. */
  def packGroups(src: Column, regex: String, n: Int): Column = {
    val repl = (1 to n).map("$" + _).mkString("\u0001")
    when(!src.contains("\u0001"),
      split(regexp_replace(src, regex, repl), "\u0001", -1))
      .otherwise(array((1 to n).map(i => regexp_extract(src, regex, i)): _*))
  }

  /** A column that may not exist in the input (absent config surface —
    * reads as null). One definition shared by the flusher encoders and
    * the pyroscope/OTLP parsers so absent-column semantics can't drift
    * between them. */
  def optCol(df: DataFrame, name: String, ddl: String = "string"): Column =
    if (df.columns.contains(name)) col(name) else lit(null).cast(ddl)

  /** Go `strconv.FormatFloat('g',-1,64)` for the value range wire data
    * carries: integral → no ".0" (100.0 → "100"), else plain decimal
    * (same digits as Java's shortest repr in the non-exponent range).
    * NaN/±Inf pass through as "NaN"/"Infinity" (pdata JSON carries
    * them as strings); writers whose wire REJECTS non-finite values
    * must null them out before calling (influx line protocol does).
    * `try_cast`, because under ANSI mode a plain double→long cast of
    * 1e300 / NaN / Infinity (wire data the influx parser admits) would
    * kill the job instead of falling through to the plain rendering. */
  def goFloat(d: Column): Column =
    when(abs(d) < 1e15 && d === d.try_cast("long").cast("double"),
      d.try_cast("long").cast("string"))
      .otherwise(d.cast("string"))
}
