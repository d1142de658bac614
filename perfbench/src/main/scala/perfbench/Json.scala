package perfbench

import graft.exprs.JsonEscape.quote

/** Minimal JSON writer for the run record the Python side reads. */
object Json {
  def apply(v: Any): String = v match {
    case null                => "null"
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => apply(f.toDouble)
    case n: Int              => n.toString
    case n: Long             => n.toString
    case o: Option[_]        => o.map(apply).getOrElse("null")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(apply).mkString("[", ",", "]")
    case other               => quote(other.toString)
  }
}
