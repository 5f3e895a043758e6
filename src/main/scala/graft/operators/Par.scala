package graft.operators

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Overlap two INDEPENDENT driver-side job chains (the optimization
  * guide's §2.6 shape: Spark's scheduler happily runs several jobs at
  * once inside one application — actions are only sequential because
  * driver code calls them sequentially; a second in-flight chain
  * back-fills executor slots the first one's small stages leave idle).
  *
  * Used where two bounded training/maintenance chains consume the same
  * persisted input: Spark's block-level cache locks make a racing first
  * fill safe (one thread computes a block, the other waits on it), so
  * no pre-materialization is needed. Failures propagate: an exception
  * on either side rethrows to the caller.
  *
  * Failure hygiene: every helper thunk runs under its own JOB GROUP
  * (set thread-locally on the pool thread; the thread's prior group is
  * restored in a finally). When the CALLER-side thunk throws, the
  * helpers' groups are CANCELLED and the helper futures AWAITED
  * before the failure rethrows — a
  * crash-looping caller can no longer stack detached helper jobs in
  * the shared scheduler (each call settles fully, success or failure,
  * before returning). Cancellation is cooperative (Spark kills the
  * group's active and queued jobs; the thunk then fails fast), and the
  * helper's own failure is suppressed in favor of the caller's.
  */
object Par {
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  private def sparkContext: Option[org.apache.spark.SparkContext] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)

  /** The local properties `setJobGroup` writes. */
  private val GroupProps =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** Run `thunk` on the current (pool) thread under job group `gid`,
    * then restore the thread's PRIOR group (id, description, interrupt
    * flag) — pool threads are reused, so a leaked group id would
    * mislabel (and make cancellable) unrelated later jobs submitted
    * from the same thread, and clearing instead of restoring would drop
    * an enclosing group (a nested Par call, a caller-set group) that
    * an outer cancel relies on. */
  private[operators] def inGroup[A](gid: String)(thunk: => A): A =
    sparkContext match {
      case Some(sc) =>
        val prior = GroupProps.map(k => k -> sc.getLocalProperty(k))
        sc.setJobGroup(gid, s"Par helper $gid", interruptOnCancel = false)
        try thunk finally prior.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      case None => thunk
    }

  /** Cancel the helper group and WAIT for the helper futures to settle
    * (their thunks fail fast once their jobs are killed), so no job of
    * this call outlives it. Helper failures are discarded — the
    * caller's own exception is the root cause being propagated. */
  private def reap(gid: String, fs: Seq[Future[_]]): Unit = {
    sparkContext.foreach(_.cancelJobGroup(gid))
    fs.foreach(f =>
      try Await.ready(f, Duration.Inf)
      catch { case _: Throwable => () })
  }

  /** Run `a` on a helper thread while `b` runs on the caller's thread;
    * return both. */
  def par2[A, B](a: => A)(b: => B): (A, B) = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val gid = s"graft-par-${seq.incrementAndGet()}"
    val fa = Future(inGroup(gid)(a))
    val vb =
      try b
      catch { case t: Throwable => reap(gid, Seq(fa)); throw t }
    (Await.result(fa, Duration.Inf), vb)
  }

  /** Run every thunk concurrently (first on the caller's thread, rest
    * on the pool) and wait for all — for N independent maintenance jobs
    * (e.g. per-table mask folds). */
  def all[A](thunks: Seq[() => A]): Seq[A] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    if (thunks.isEmpty) Nil
    else {
      val gid = s"graft-par-${seq.incrementAndGet()}"
      val rest = thunks.tail.map(t => Future(inGroup(gid)(t())))
      val head =
        try thunks.head()
        catch { case t: Throwable => reap(gid, rest); throw t }
      // A helper failure surfaces here — after draining the OTHER
      // helpers (cancel + await all), so the call still settles fully
      // before rethrowing.
      try head +: rest.map(Await.result(_, Duration.Inf))
      catch { case t: Throwable => reap(gid, rest); throw t }
    }
  }
}
