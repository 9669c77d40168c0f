package perfbench

/** Minimal JSON writer for the harness's result file. */
object Json {
  sealed trait J { def render: String }
  private final case class Raw(render: String) extends J

  def str(s: String): J = Raw("\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\"")

  def num(d: Double): J = Raw(if (d.isNaN || d.isInfinite) "null" else d.toString)

  def any(v: Any): J = v match {
    case null => Raw("null")
    case j: J => j
    case s: String => str(s)
    case b: Boolean => Raw(b.toString)
    case i: Int => Raw(i.toString)
    case l: Long => Raw(l.toString)
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> any(x) }: _*)
    case s: Iterable[_] => arr(s.toSeq.map(any))
    case a: Array[_] => arr(a.toSeq.map(any))
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): J =
    Raw(kv.map { case (k, v) => str(k).render + ":" + any(v).render }.mkString("{", ",", "}"))

  def arr(xs: Seq[J]): J = Raw(xs.map(_.render).mkString("[", ",", "]"))
}
