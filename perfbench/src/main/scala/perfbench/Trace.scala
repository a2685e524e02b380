package perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that was open when this one started (-1 for an operation's root);
  * `op` ties every span of one operation together. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: Int) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Spans are kept until the
  * run ends and are then summarised and written out; nothing is flushed
  * while operations are being timed. A disabled tracer only runs the
  * wrapped code, so the untraced run pays no bookkeeping. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[(Int, String, Long)]()
  private var nextId = 0
  private var op = -1

  def spans: Seq[Span] = done.toSeq

  /** Starts a new operation; spans opened until the next call belong to it. */
  def beginOp(): Int = { op += 1; op }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open.push((id, name, System.nanoTime()))
      try f
      finally {
        val (_, _, start) = open.pop()
        done += Span(id, name, start, System.nanoTime(), parent, op)
      }
    }

  /** Self time of every span, in nanoseconds, keyed by span id. */
  def selfTimes: Map[Int, Long] = {
    val kids = done.groupBy(_.parent)
    done.map { s =>
      s.id -> Stats.selfTime(s.startNs, s.endNs,
        kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq)
    }.toMap
  }
}
