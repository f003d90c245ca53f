package perfbench

/** Minimal JSON writer for the runner's report. Integral values stay
  * integers and doubles always carry a '.' or an exponent, so the
  * reader can tell an int column from a float one. */
object Json {
  /** Text that is JSON already and is written out as is. */
  final case class Raw(json: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => apply(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case d: java.sql.Date => str(d.toString)
    case d: java.time.LocalDate => str(d.toString)
    case t: java.sql.Timestamp => str(t.toString)
    case t: java.time.Instant => str(t.toString)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => apply(r.toSeq)
    case other => str(other.toString)
  }
}
