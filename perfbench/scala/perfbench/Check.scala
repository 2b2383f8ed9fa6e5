package perfbench

import org.apache.spark.sql.Row

/** Order-insensitive comparison of query results. Exact on every value
  * except doubles, which match within a relative 1e-9: two correct plans
  * may sum the same doubles in another order. */
object Check {
  val RelTol = 1e-9

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= RelTol * math.max(math.abs(a), math.abs(b))

  private def norm(v: Any): Any = v match {
    case null                 => null
    case d: Double            => d
    case f: Float             => f.toDouble
    case d: java.math.BigDecimal => d.doubleValue
    case x                    => x.toString
  }

  /** Rows as value lists in a canonical order: sorted by their exact
    * fields, then by doubles rounded to 6 significant digits. */
  def canonical(rows: Seq[Row]): Seq[Seq[Any]] = {
    val vs = rows.map(_.toSeq.map(norm))
    def key(r: Seq[Any]): String = r.map {
      case d: Double => f"$d%.6g"
      case null      => "\u0000"
      case x         => x.toString
    }.mkString("\u0001")
    vs.sortBy(key)
  }

  /** None when `got` and `want` hold the same rows, else what differs. */
  def sameRows(got: Seq[Row], want: Seq[Row]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else {
      canonical(got).zip(canonical(want)).zipWithIndex.collectFirst {
        case ((g, w), i) if !sameRow(g, w) => s"row $i is ${g.mkString("(", ", ", ")")}, expected ${w.mkString("(", ", ", ")")}"
      }
    }

  def sameRow(g: Seq[Any], w: Seq[Any]): Boolean =
    g.size == w.size && g.zip(w).forall {
      case (a: Double, b: Double) => close(a, b)
      case (a, b)                 => a == b
    }
}
