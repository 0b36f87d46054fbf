package graftbench

/** Minimal JSON writer for the benchmark's output lines and trace file:
  * field order as given and doubles with every digit (`Double.toString`
  * round-trips). Accepts nested Maps/Seqs of String, numbers, Booleans,
  * Options and null.
  */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def apply(v: Any): String = v match {
    case null            => "null"
    case None            => "null"
    case Some(x)         => apply(x)
    case s: String       => str(s)
    case b: Boolean      => b.toString
    case d: Double       => num(d)
    case f: Float        => num(f.toDouble)
    case i: Int          => i.toString
    case l: Long         => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_]    => xs.map(apply).mkString("[", ",", "]")
    case other           => str(other.toString)
  }
}
