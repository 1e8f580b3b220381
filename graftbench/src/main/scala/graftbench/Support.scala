package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the benchmark's output lines: maps, sequences,
  * strings, numbers and booleans. Non-finite numbers render as null.
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.iterator.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.iterator.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** One bare JSON line on stdout. */
  def emit(fields: (String, Any)*): Unit = {
    println(render(scala.collection.immutable.ListMap(fields: _*)))
    Console.out.flush()
  }
}

/** Order statistics with the same conventions as Python's
  * `statistics.quantiles(values, n=4)` (the "exclusive" method), so the
  * quartiles printed here match what a reader recomputes from the samples.
  */
object Stats {
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.length
    if (n == 1) return s.head
    val m = n + 1
    val pos = p * m
    val j = math.floor(pos).toInt
    val delta = pos - j
    if (j < 1) s.head
    else if (j >= n) s.last
    else s(j - 1) + (s(j) - s(j - 1)) * delta
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = xs.sum / xs.length
}

/** A reported metric: its value, unit and, for sampled metrics, the
  * samples behind it (reported as count, quartiles and p95).
  */
final case class Metric(value: Double, unit: String, samples: Seq[Double] = Nil) {
  def json: Map[String, Any] = {
    val base = scala.collection.immutable.ListMap[String, Any](
      "value" -> value, "unit" -> unit, "n" -> (if (value.isNaN) 0 else math.max(samples.length, 1)))
    if (samples.length < 2) base
    else base ++ Seq(
      "q1" -> Stats.quantile(samples, 0.25), "median" -> Stats.median(samples),
      "q3" -> Stats.quantile(samples, 0.75), "p95" -> Stats.quantile(samples, 0.95))
  }
}

object Metric {
  /** Median of the samples; with no samples the value is NaN (printed as null). */
  def p50(samples: Seq[Double], unit: String): Metric =
    Metric(if (samples.isEmpty) Double.NaN else Stats.median(samples), unit, samples)
  def p95(samples: Seq[Double], unit: String): Metric =
    Metric(if (samples.isEmpty) Double.NaN else Stats.quantile(samples, 0.95), unit, samples)
}

/** JVM-side counters read around a timed window. */
object Jvm {
  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def seconds(fromNanos: Long): Double = (System.nanoTime() - fromNanos) / 1e9
}
