package perfbench

import scala.collection.mutable

/** Latency samples and the summaries the report uses. */
final class Samples {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def add(x: Double): Unit = synchronized { xs += x }
  def size: Int = synchronized(xs.size)
  def values: Vector[Double] = synchronized(xs.toVector)
  def sum: Double = synchronized(xs.sum)
  def median: Double = Stats.quantile(values, 0.5)
  /** Highest of p99, p98, … whose nearest rank leaves at least ten
    * samples above it, but never below p90; (percentile, value).
    */
  def tail: (Int, Double) = Stats.tail(values)
}

object Stats {
  def quantile(v: Seq[Double], q: Double): Double = {
    if (v.isEmpty) return Double.NaN
    val s = v.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(v: Seq[Double]): Double = quantile(v, 0.5)

  def tail(v: Seq[Double]): (Int, Double) = {
    val s = v.sorted
    val n = s.size
    val p = (99 to 90 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
      .getOrElse(90)
    (p, s(math.max(0, math.ceil(p / 100.0 * n).toInt - 1)))
  }

  def geomean(v: Seq[Double]): Double =
    math.exp(v.map(math.log).sum / v.size)
}

/** Metrics, report lines and operation counts of one run. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.ArrayBuffer.empty[String]
  val detail = mutable.LinkedHashMap.empty[String, String]
  @volatile var attempted = 0L
  @volatile var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = synchronized {
    metrics(name) = (value, unit)
  }
  def line(s: String): Unit = synchronized { report += s }

  /** Count one operation; `problem` is None when its answer was right. */
  def op(problem: Option[String]): Unit = synchronized {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (failures.size < 20) failures += p
    }
  }

  /** A named figure with its unit and sample count, for the report. */
  def figure(name: String, value: Double, unit: String, n: Int): Unit =
    line(f"$name%-26s $value%14.4f $unit%-5s (n=$n)")

  def tailFigure(name: String, s: Samples, unit: String): Unit = {
    val (p, v) = s.tail
    line(f"$name%-26s $v%14.4f $unit%-5s (p$p, n=${s.size})")
  }
}
