package perfbench

import scala.collection.mutable

/** One reported figure: its value plus the spread of the samples it
  * summarises (q1 = q3 = value for single-valued figures). */
final case class Metric(value: Double, unit: String, n: Long, q1: Double, q3: Double)

/** Thread-safe sample buffer for per-operation measurements. */
final class Samples {
  private val xs = mutable.ArrayBuffer[Double]()
  def add(x: Double): Unit = synchronized { xs += x }
  def values: Vector[Double] = synchronized { xs.toVector }
  def size: Int = synchronized { xs.size }
}

object Samples {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Everything one run reports: end-to-end metrics, per-layer metrics
  * (traced runs only), operation counts, the first few failure
  * messages and free-form details. */
final class Report(val workload: String) {
  val metrics = mutable.LinkedHashMap[String, Metric]()
  val layers = mutable.LinkedHashMap[String, Metric]()
  val details = mutable.LinkedHashMap[String, Any]()
  private var attemptedOps = 0L
  private var failedOps = 0L
  private val failureMsgs = mutable.ArrayBuffer[String]()

  def attempted: Long = synchronized { attemptedOps }
  def failed: Long = synchronized { failedOps }
  def failures: Seq[String] = synchronized { failureMsgs.toSeq }

  def attempt(n: Long = 1): Unit = synchronized { attemptedOps += n }
  def fail(msg: String, n: Long = 1): Unit = synchronized {
    failedOps += n
    if (failureMsgs.size < 20) failureMsgs += msg.linesIterator.take(3).mkString(" | ")
  }

  /** Median of a sample, with its quartiles and count. */
  def dist(name: String, unit: String, xs: Seq[Double], layer: Boolean = false): Unit = {
    val m =
      if (xs.isEmpty) Metric(Double.NaN, unit, 0, Double.NaN, Double.NaN)
      else Metric(Samples.median(xs), unit, xs.size,
        Samples.quantile(xs, 0.25), Samples.quantile(xs, 0.75))
    (if (layer) layers else metrics)(name) = m
  }

  /** A p90 figure (quartiles of the sample are kept for context). */
  def p90(name: String, unit: String, xs: Seq[Double]): Unit =
    metrics(name) =
      if (xs.isEmpty) Metric(Double.NaN, unit, 0, Double.NaN, Double.NaN)
      else Metric(Samples.quantile(xs, 0.9), unit, xs.size,
        Samples.quantile(xs, 0.25), Samples.quantile(xs, 0.75))

  /** A single-valued figure computed from `n` underlying events. */
  def single(name: String, unit: String, value: Double, n: Long, layer: Boolean = false): Unit =
    (if (layer) layers else metrics)(name) = Metric(value, unit, n, value, value)

  def toJson: String = {
    def ms(m: mutable.LinkedHashMap[String, Metric]) = m.map { case (k, v) =>
      k -> Map("value" -> v.value, "unit" -> v.unit, "n" -> v.n, "q1" -> v.q1, "q3" -> v.q3)
    }.toMap
    Json(mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures, "metrics" -> ms(metrics), "layers" -> ms(layers),
      "details" -> details.toMap))
  }
}

/** Minimal JSON rendering for the result record (numbers, strings,
  * booleans, sequences and string-keyed maps). NaN renders as null. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
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
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
