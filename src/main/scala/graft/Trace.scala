package graft

import scala.collection.mutable

/** Process-wide span log: span name → summed wall seconds. Repeats of
  * a name add, so the retained size is bounded by the number of
  * distinct span names, never by the number of calls — a long-running
  * consumer that never drains holds a fixed-size map. Safe to update
  * from any thread (helper futures record into the same log).
  *
  * A harness reads one run's decomposition by calling [[drain]] before
  * the run (discarding earlier spans) and again after it. */
object Trace {
  private val spans = mutable.LinkedHashMap.empty[String, Double]

  private[graft] def add(name: String, sec: Double): Unit = synchronized {
    spans(name) = spans.getOrElse(name, 0.0) + sec
  }

  /** Time `body` under span `name` (recorded on failure too). */
  def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally add(name, (System.nanoTime() - t0) / 1e9)
  }

  /** Every span recorded since the last drain, in first-seen order;
    * the log is empty afterwards. */
  def drain(): Seq[(String, Double)] = synchronized {
    val out = spans.toSeq
    spans.clear()
    out
  }

  private[graft] def retained: Int = synchronized(spans.size)

  /** Mark-style phase clock for one call: [[mark]] closes the phase
    * running since the previous mark (or the clock's creation). Each
    * phase goes into the trace as `prefix + name` and into this call's
    * own [[phases]] under its bare name; repeats sum in both. */
  final class Clock(prefix: String) {
    private val own = mutable.LinkedHashMap.empty[String, Double]
    private var last = System.nanoTime()

    def mark(name: String): Unit = {
      val now = System.nanoTime()
      own(name) = own.getOrElse(name, 0.0) + (now - last) / 1e9
      add(prefix + name, (now - last) / 1e9)
      last = now
    }

    def phases: Seq[(String, Double)] = own.toSeq
  }

  def clock(prefix: String = ""): Clock = new Clock(prefix)
}
