package graft

import org.scalatest.funsuite.AnyFunSuite

/** The span log a long-running process never drains must stay the size
  * of its distinct span names, however many calls record into it. */
class TraceSpec extends AnyFunSuite {

  test("undrained spans stay bounded by the distinct span names") {
    Trace.drain()
    (1 to 2000).foreach { _ =>
      Trace.timed("a")(())
      Trace.timed("b")(())
      val c = Trace.clock("opt_")
      c.mark("plan")
      c.mark("commit")
      c.mark("plan")
      assert(c.phases.map(_._1) == Seq("plan", "commit"))
    }
    assert(Trace.retained == 4)
    assert(Trace.drain().map(_._1) == Seq("a", "b", "opt_plan", "opt_commit"))
    assert(Trace.retained == 0)
  }

  test("spans recorded from many threads all land") {
    Trace.drain()
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val fs = (1 to 8).map(_ => scala.concurrent.Future {
      (1 to 500).foreach(_ => Trace.add("x", 1.0))
    })
    fs.foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    assert(Trace.drain() == Seq("x" -> 4000.0))
  }
}
