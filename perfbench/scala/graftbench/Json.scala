package graftbench

/** Minimal JSON encoder for the run record the JVM hands to `run.py`. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  final case class Arr(items: Seq[Any])

  def obj(fields: (String, Any)*): Obj = Obj(fields)
  def arr(items: Any*): Arr = Arr(items)

  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + encode(x) }.mkString("{", ",", "}")
    case Arr(xs) => xs.map(encode).mkString("[", ",", "]")
    case m: Map[_, _] => encode(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => encode(f.toDouble)
    case n: Number => n.toString
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
    b += '"'
    b.toString
  }
}
