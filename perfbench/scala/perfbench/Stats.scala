package perfbench

import scala.collection.mutable

/** Latency samples of one op kind, in seconds. */
final class Samples {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def add(s: Double): Unit = xs += s
  def n: Int = xs.size
  def mean: Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def values: Seq[Double] = xs.toSeq
}

object Stats {

  /** Every reported percentile rests on at least this many samples, so
    * that ten or more lie beyond a p90. Below it a percentile is refused. */
  val MinSamples = 100

  /** Nearest-rank percentile, or None when the sample is too small. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.size < MinSamples) None
    else {
      val sorted = xs.sorted
      val rank   = math.ceil(p / 100.0 * sorted.size).toInt.max(1)
      Some(sorted(rank - 1))
    }

  /** Mean over op kinds of each kind's mean latency: the expected latency
    * of an op drawn uniformly from the kinds, so a kind that runs several
    * times per block (the read after each write) weighs no more than one
    * that runs once. */
  def stratifiedMean(byKind: Iterable[Samples]): Double = {
    val ms = byKind.filter(_.n > 0).map(_.mean)
    if (ms.isEmpty) Double.NaN else ms.sum / ms.size
  }
}

/** Hand-rolled JSON for the one result line (flat maps of numbers). */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
