package graftbench

/** A minimal JSON writer for the run stamp and the result line. */
object Json {
  final case class Obj(fields: Seq[(String, Any)]) {
    override def toString: String =
      fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
  }

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case o: Obj => o.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
  }
}
