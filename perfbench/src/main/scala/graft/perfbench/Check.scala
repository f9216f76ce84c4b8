package graft.perfbench

/** Output checks: an operation's rows against the rows the benchmark's
  * own model of the table predicts. */
object Check {

  /** Relative tolerance for floating-point cells (sums are reassociated
    * across partitions, so the last bits may differ). */
  val RelTol = 1e-9

  /** None when `actual` equals `expected` row for row (same order), else
    * the first difference. Numbers compare by value across boxed types;
    * doubles within [[RelTol]]. */
  def sameRows(actual: Seq[Seq[Any]], expected: Seq[Seq[Any]]): Option[String] =
    if (actual.size != expected.size)
      Some(s"${actual.size} rows, expected ${expected.size}")
    else actual.zip(expected).zipWithIndex.collectFirst {
      case ((a, e), i) if a.size != e.size =>
        s"row $i has ${a.size} cells, expected ${e.size}"
      case ((a, e), i) if a.zip(e).exists { case (x, y) => !sameCell(x, y) } =>
        s"row $i is ${a.mkString("[", ",", "]")}, expected ${e.mkString("[", ",", "]")}"
    }

  def sameCell(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y) => sameNum(x, y)
    case (x, y: Double) => sameNum(y, x)
    case (x: Float, y) => sameNum(x.toDouble, y)
    case (x: Number, y: Number) => x.longValue == y.longValue
    case (x, y) => x == y
  }

  private def sameNum(x: Double, y: Any): Boolean = y match {
    case n: Number =>
      val d = n.doubleValue
      x == d || math.abs(x - d) <= RelTol * math.max(math.abs(x), math.abs(d))
    case _ => false
  }

  def rowsOf(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq)
}
