package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

object Util {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secs(t0))
  }

  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.toIndexedSeq.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest nearest-rank percentile with at least min(10, n/4)
    * samples beyond it: (value, percentile, samples beyond). */
  def tail(xs: Iterable[Double]): (Double, Double, Int) = {
    val s = xs.toIndexedSeq.sorted
    val beyond = math.min(10, s.size / 4)
    val i = s.size - 1 - beyond
    (s(i), 100.0 * (i + 1) / s.size, beyond)
  }

  /** Regular data files under `root` and their bytes (checksum and
    * other hidden files excluded). */
  def dirStats(root: String): (Long, Long) = {
    var files, bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile && !f.getName.startsWith(".")) { files += 1; bytes += f.length }
    walk(new File(root))
    (files, bytes)
  }

  def rm(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
        Option(f.listFiles).foreach(_.foreach(del))
      f.delete(): Unit
    }
    del(new File(path))
  }

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8)): Unit
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Outcome of one benchmark invocation: operations attempted and failed
  * (with their errors) and the metrics, in print order. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def fail(what: String, err: String): Unit = {
    failed += 1
    errors += s"$what: $err"
    Util.log(s"FAILED $what: $err")
  }

  def okFrac: Double = if (attempted == 0) 0.0 else (attempted - failed).toDouble / attempted

  def json: String = Json(mutable.LinkedHashMap(
    "correct" -> (failed == 0 && attempted > 0),
    "attempted" -> math.max(math.max(attempted, failed), 1L),
    "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }))
}
