package graft.operators

import scala.collection.mutable.ArrayBuffer

/** The one size gate: every operator that measures its input, then runs it
  * in one task (or broadcasts it) when small and distributed when not,
  * asks here. The rule is `measured ≤ limit → small side`; the measurement
  * is by name, so a forced gate runs no eager job. Outside a [[scope]] a
  * gate decides by its rule and records nothing. */
private[graft] object Gate {

  /** One gate decision; `measured` is None when the side was forced. */
  final case class Decision(gate: String, measured: Option[Double], limit: Double,
                            small: Boolean)

  /** This thread's open scope: its forced sides and its decisions so far. */
  private val open =
    ThreadLocal.withInitial[Option[(Map[String, Boolean], ArrayBuffer[Decision])]](() => None)

  /** True when the gate takes its small side. */
  def apply(gate: String, limit: Double)(measured: => Double): Boolean = open.get match {
    case None => measured <= limit
    case Some((force, decisions)) =>
      val m = if (force.contains(gate)) None else Some(measured)
      val d = Decision(gate, m, limit, force.getOrElse(gate, m.get <= limit))
      decisions += d
      d.small
  }

  /** A count gate: rows, edges, keys. */
  def apply(gate: String, limit: Long)(measured: => Long): Boolean =
    apply(gate, limit.toDouble)(measured.toDouble)

  /** Runs `body` on this thread with the gates named in `force` pinned to a
    * side (true = small) and returns its result with every decision made
    * inside it. Fails if a forced gate was never consulted, so a misspelled
    * force cannot pass silently. */
  def scope[T](force: Map[String, Boolean] = Map.empty)(body: => T): (T, Seq[Decision]) = {
    val decisions = ArrayBuffer.empty[Decision]
    val outer = open.get
    open.set(Some((force, decisions)))
    val out = try body finally open.set(outer)
    val unused = force.keySet -- decisions.map(_.gate)
    require(unused.isEmpty, s"forced gates never consulted: ${unused.mkString(", ")}")
    (out, decisions.toSeq)
  }
}
