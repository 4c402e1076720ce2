package perfbench

/** Minimal JSON rendering for the result line, the report and the trace. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])

  def obj(kv: (String, Any)*): Obj = Obj(kv)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      render(Obj(m.toSeq.map { case (k, x) => (k.toString, x) }))
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case a: Array[_] => render(a.toSeq)
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
