package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything one run measures, kept in memory and written out once at
  * exit as JSON (run.py turns it into metrics).
  *
  * Times are epoch milliseconds as doubles: ops and spans come from
  * `System.nanoTime` offset to the wall clock taken at start, so they sit
  * on the same axis as the Spark listener's event times.
  *
  * There is a single client thread, so "the current op" is a plain
  * variable and spans nest on a plain stack. Spark jobs that `Par`
  * launches on helper threads are attributed to an op by time window
  * (run.py), which is exact for the same reason.
  */
final class Recorder(val traced: Boolean) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  final case class Op(id: Int, kind: String, name: String, start: Double,
                      end: Double, ok: Boolean, records: Long)
  final case class Span(id: Int, name: String, start: Double, end: Double,
                        parent: Int, op: Int, ok: Boolean)

  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  /** Named scalar results (setup time, stored bytes, counters). */
  val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Latency (ms) of each read: a whole lookup op, or the read part of
    * a write op. */
  val reads = ArrayBuffer.empty[Double]
  /** Failed correctness checks: (op id, or -1 for a check of the state
    * the whole run left, description). */
  val failures = ArrayBuffer.empty[(Int, String)]
  var measureStart = 0.0
  var measureEnd = 0.0

  private var currentOp = -1
  private var stack: List[Int] = Nil
  private var nextSpan = 0

  /** One measured operation. `f` returns (records moved, check passed);
    * an exception counts as a failed op and the loop goes on. */
  def op(kind: String, name: String)(f: => (Long, Boolean)): Unit = {
    val id = ops.size
    currentOp = id
    val t0 = now()
    val (records, ok) =
      try f
      catch { case e: Exception =>
        fail(s"$kind $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        (0L, false)
      }
    ops += Op(id, kind, name, t0, now(), ok, records)
    currentOp = -1
  }

  /** A span around one call into a module's public function. Recorded
    * only in the traced run; the untraced run pays nothing but the call. */
  def span[A](name: String)(f: => A): A =
    if (!traced) f
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = now()
      var ok = false
      try { val r = f; ok = true; r }
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, now(), parent, currentOp, ok)
      }
    }

  def read[A](f: => A): A = {
    val t0 = now()
    try f finally reads += now() - t0
  }

  /** Forget what the warm-up recorded; its failures stay, as failures
    * of the run. */
  def reset(): Unit = {
    ops.clear(); spans.clear(); reads.clear()
    failures.mapInPlace { case (_, what) => (-1, what) }
  }

  def fail(what: String): Boolean = synchronized {
    failures += ((currentOp, what.take(300)))
    false
  }

  // ---- Spark side (traced run only) ----

  final case class Job(id: Int, start: Double, var end: Double, var ok: Boolean = false)
  final case class StageAgg(id: Int, submit: Double, var end: Double,
                            var tasks: Int = 0, var runMs: Double = 0,
                            var cpuNs: Double = 0, var waitMs: Double = 0,
                            var shuffleWrite: Double = 0, var spill: Double = 0,
                            var input: Double = 0, var output: Double = 0)
  final case class Plan(start: Double, planMs: Double, ok: Boolean)

  val jobs = ArrayBuffer.empty[Job]
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageAgg]
  val plans = ArrayBuffer.empty[Plan]

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      jobs += Job(e.jobId, e.time.toDouble, -1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.find(_.id == e.jobId).foreach { j =>
        j.end = e.time.toDouble
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Recorder.this.synchronized {
      val s = e.stageInfo
      stages(s.stageId) = StageAgg(s.stageId,
        s.submissionTime.map(_.toDouble).getOrElse(now()), -1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
      stages.get(e.stageInfo.stageId).foreach(
        _.end = e.stageInfo.completionTime.map(_.toDouble).getOrElse(now()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val m = e.taskMetrics
      stages.get(e.stageId).foreach { s =>
        s.tasks += 1
        if (m != null) {
          val info = e.taskInfo
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          // Spark UI's scheduler delay: task wall minus the parts the
          // executor accounts for.
          s.waitMs += math.max(0L, (info.finishTime - info.launchTime) -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (info.gettingResult)
              info.finishTime - info.gettingResultTime else 0L))
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
          s.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private object planListener extends QueryExecutionListener {
    private val Phases = Seq("analysis", "optimization", "planning")
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, ok = false)
    private def record(qe: QueryExecution, ok: Boolean): Unit = Recorder.this.synchronized {
      val ph = qe.tracker.phases.filter { case (k, _) => Phases.contains(k) }.values
      if (ph.nonEmpty)
        plans += Plan(ph.map(_.startTimeMs).min.toDouble,
          ph.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum, ok)
    }
  }

  def attach(spark: SparkSession): Unit =
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(planListener)
    }

  /** The listener bus is asynchronous: wait until every started job has
    * ended and no event arrived for a quiet interval. */
  def drain(): Unit = if (traced) {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
      (System.currentTimeMillis() - quietSince < 300 ||
        synchronized(jobs.exists(_.end < 0)))) {
      val n = synchronized(jobs.size + stages.size + plans.size)
      if (n != last) { last = n; quietSince = System.currentTimeMillis() }
      Thread.sleep(50)
    }
  }

  // ---- output ----

  def toJson: String = {
    val b = new StringBuilder
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.toPlainString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def arr[T](xs: Iterable[T])(f: T => String): String = xs.map(f).mkString("[", ",", "]")
    b ++= "{\"traced\":" ++= traced.toString
    b ++= ",\"measure_start\":" ++= num(measureStart)
    b ++= ",\"measure_end\":" ++= num(measureEnd)
    b ++= ",\"values\":" ++= values.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    b ++= ",\"failures\":" ++= arr(failures) { case (op, what) => s"[$op,${str(what)}]" }
    b ++= ",\"reads\":" ++= arr(reads)(num)
    b ++= ",\"ops\":" ++= arr(ops)(o =>
      s"[${o.id},${str(o.kind)},${str(o.name)},${num(o.start)},${num(o.end)},${o.ok},${o.records}]")
    b ++= ",\"spans\":" ++= arr(spans)(s =>
      s"[${s.id},${str(s.name)},${num(s.start)},${num(s.end)},${s.parent},${s.op},${s.ok}]")
    synchronized {
      b ++= ",\"jobs\":" ++= arr(jobs)(j => s"[${j.id},${num(j.start)},${num(j.end)},${j.ok}]")
      b ++= ",\"stages\":" ++= arr(stages.values)(s =>
        s"[${s.id},${num(s.submit)},${num(s.end)},${s.tasks},${num(s.runMs)},${num(s.cpuNs)}," +
          s"${num(s.waitMs)},${num(s.shuffleWrite)},${num(s.spill)},${num(s.input)},${num(s.output)}]")
      b ++= ",\"plans\":" ++= arr(plans)(p => s"[${num(p.start)},${num(p.planMs)},${p.ok}]")
    }
    b ++= "}"
    b.toString
  }
}
