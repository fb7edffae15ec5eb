package graft.perfbench

/** Minimal JSON rendering for the result file (numbers, strings, arrays,
  * objects); non-finite doubles render as null. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(s) => s
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => arr(xs.toSeq)
    case other => quote(other.toString)
  }

  final case class Raw(json: String)

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")

  def arr(xs: Seq[Any]): String = xs.map(render).mkString("[", ",", "]")

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
