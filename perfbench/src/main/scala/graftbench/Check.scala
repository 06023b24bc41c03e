package graftbench

import org.apache.spark.sql.Row

/** Result comparison against the independent references. Doubles match
  * within a relative 1e-9 (summation order differs between graft's file
  * layout and the plain reference scan); everything else exactly. */
object Check {
  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)) + 1e-9

  private def cell(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => close(x, y)
    case (x: Float, y: Float) => close(x.toDouble, y.toDouble)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case (x: Number, y: Number) => x.longValue == y.longValue && close(x.doubleValue, y.doubleValue)
    case _ => a == b
  }

  def rows(got: Seq[Row], want: Seq[Row]): Option[String] =
    if (got.length != want.length) Some(s"${got.length} rows, reference has ${want.length}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g.length != w.length || (0 until g.length).exists(j => !cell(g.get(j), w.get(j))) =>
        s"row $i is $g, reference has $w"
    }

  private val Number = "-?\\d+(?:\\.\\d+)?(?:E-?\\d+)?".r

  /** Compare two rendered result strings: the text between numbers must
    * be equal and the numbers close. */
  def rendered(got: String, want: String): Option[String] = {
    val gn = Number.findAllIn(got).toSeq.map(_.toDouble)
    val wn = Number.findAllIn(want).toSeq.map(_.toDouble)
    val same = Number.replaceAllIn(got, "#") == Number.replaceAllIn(want, "#") &&
      gn.length == wn.length && gn.zip(wn).forall { case (a, b) => close(a, b) }
    if (same) None else Some(s"rendered ${got.take(200)}, reference ${want.take(200)}")
  }

  def expect(cond: Boolean, msg: => String): Option[String] = if (cond) None else Some(msg)
}
