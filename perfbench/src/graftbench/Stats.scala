package graftbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Latency samples of one request class, and the percentile rule the
  * benchmark reports by: a percentile is reported only when at least ten
  * samples lie beyond it, and always together with the sample count. */
final class Samples {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  def add(ms: Double): Unit = buf.add(ms)
  def sorted: Array[Double] = {
    val a = buf.toArray(new Array[java.lang.Double](0)).map(_.doubleValue)
    java.util.Arrays.sort(a); a
  }
}

object Pct {
  /** Samples needed beyond a percentile before it is reported. */
  val MinBeyond = 10

  /** Nearest-rank percentile `p` (0 < p < 1) of ascending `sorted`, or None
    * when fewer than [[MinBeyond]] samples lie beyond it. */
  def at(sorted: Array[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p out of (0, 1)")
    val n = sorted.length
    val rank = math.ceil(p * n).toInt // 1-based
    if (n == 0 || n - rank < MinBeyond) None else Some(sorted(rank - 1))
  }

  /** `{"p50":..,"p90":..,"p99":..,"n":..}` with only the supported
    * percentiles present. */
  def summary(s: Array[Double]): JValue = {
    val ps = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
      .flatMap { case (k, p) => at(s, p).map(v => k -> Json.num(v)) }
    JObject((ps :+ ("n" -> JInt(s.length))).toList)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  /** A finite number: a metric or a sample, with all its digits. */
  def num(v: Double): JValue = {
    require(!v.isNaN && !v.isInfinite, s"non-finite value $v")
    JDouble(v)
  }
  def compact(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))
}
