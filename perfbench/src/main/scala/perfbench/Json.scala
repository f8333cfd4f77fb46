package perfbench

/** Minimal JSON writer for the result file: maps, sequences, strings,
  * numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case p: Product if p.productArity == 0 => quote(p.toString)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = graft.JsonUtil.quote(s)
}
