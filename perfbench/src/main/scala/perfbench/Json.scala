package perfbench

/** Minimal JSON writer for the result file (insertion-ordered objects). */
object Json {
  final class Arr(val items: Seq[Any])
  object Arr { def apply(items: Any*): Arr = new Arr(items) }

  final class Obj {
    private val fields = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def update(k: String, v: Any): Unit = fields(k) = v
    def bool(k: String): Boolean = fields.get(k).contains(true)
    def str(k: String): String = fields.get(k).map(String.valueOf).getOrElse("")
    def render: String = Json.render(this)
    private[Json] def entries = fields.toSeq
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
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.entries.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Arr => a.items.map(render).mkString("[", ",", "]")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: Map[_, _] => m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s => quote(s.toString)
  }
}
