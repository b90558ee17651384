package perfbench

/** Minimal JSON writer for the run outputs. Objects are written from
  * `obj(key -> value, ...)` to keep their key order. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  final case class Obj(kv: Seq[(String, Any)])

  def obj(kv: (String, Any)*): Obj = Obj(kv)

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case Obj(kv) => kv.map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
