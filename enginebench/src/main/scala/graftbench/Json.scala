package graftbench

/** Writer for the run record `run.py` reads. Doubles keep all
  * their digits (`Double.toString`); non-finite values become `null`. */
object Json {
  def apply(v: Any): String = v match {
    case null                    => "null"
    case s: String               => graft.JsonEscape.quote(s)
    case b: Boolean              => b.toString
    case i: Int                  => i.toString
    case l: Long                 => l.toString
    case d: Double               => if (java.lang.Double.isFinite(d)) d.toString else "null"
    case o: Option[_]            => o.map(apply).getOrElse("null")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => graft.JsonEscape.quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]          => s.map(apply).mkString("[", ",", "]")
    case other                   => graft.JsonEscape.quote(other.toString)
  }
}
