package graft.operators

import graft.SparkSpec

/** Failure hygiene of the §2.6 overlap helper: when the CALLER-side
  * thunk throws, Par must settle its helper futures (cancel their job
  * group, await them) before rethrowing — a crash-looping caller must
  * not stack detached helper jobs in the shared scheduler. */
class ParSpec extends SparkSpec {

  private def activeJobs: Int =
    spark.sparkContext.statusTracker.getActiveJobIds().length

  private def awaitNoActiveJobs(): Unit = {
    val deadline = System.nanoTime() + 30e9.toLong
    while (activeJobs > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(activeJobs == 0, "active Spark jobs remain after Par returned")
  }

  test("par2 propagates both results") {
    val (a, b) = Par.par2 {
      spark.range(100).count()
    } {
      spark.range(50).count()
    }
    assert(a == 100L && b == 50L)
  }

  test("par2: caller failure rethrows and leaves no orphaned helper jobs") {
    val boom = intercept[RuntimeException] {
      Par.par2 {
        // Helper chain: several small jobs — enough wall-clock that an
        // un-reaped helper would still be running when par2 rethrows.
        (1 to 20).map(_ => spark.range(2000000).selectExpr("sum(id)").collect())
      } {
        throw new RuntimeException("caller boom")
      }
    }
    assert(boom.getMessage == "caller boom")
    // The contract under test: by the time par2 has thrown, the helper
    // future has settled (cancelled or completed) — no detached jobs.
    awaitNoActiveJobs()
  }

  test("all: head failure settles every helper before rethrowing") {
    val boom = intercept[RuntimeException] {
      Par.all(Seq(
        () => throw new RuntimeException("head boom"),
        () => (1 to 20).map(_ => spark.range(2000000).selectExpr("sum(id)").collect()),
        () => (1 to 20).map(_ => spark.range(2000000).selectExpr("sum(id)").collect())
      ))
    }
    assert(boom.getMessage == "head boom")
    awaitNoActiveJobs()
  }

  test("all: helper failure propagates after draining the other helpers") {
    val boom = intercept[RuntimeException] {
      Par.all(Seq(
        () => spark.range(10).count(),
        () => throw new RuntimeException("helper boom"),
        () => (1 to 10).map(_ => spark.range(1000000).selectExpr("sum(id)").collect())
      ))
    }
    assert(boom.getMessage == "helper boom")
    awaitNoActiveJobs()
  }

  test("all: success returns every thunk's value in order") {
    assert(Par.all(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
  }

  test("par2 and inGroup keep an enclosing job group") {
    val sc = spark.sparkContext
    def group = (sc.getLocalProperty("spark.jobGroup.id"),
      sc.getLocalProperty("spark.job.description"))
    sc.setJobGroup("outer", "outer work", interruptOnCancel = false)
    try {
      Par.par2(spark.range(10).count())(spark.range(10).count())
      assert(group == ("outer", "outer work"), "par2 dropped the caller's job group")
      // A helper that runs on a thread already carrying a group (a
      // nested Par call, a caller-set group) hands that group back.
      Par.inGroup("inner")(assert(group._1 == "inner"))
      assert(group == ("outer", "outer work"), "inGroup cleared the enclosing job group")
    } finally sc.clearJobGroup()
  }

  test("helper job group never leaks onto reused pool threads") {
    // Run a Par call, then submit a plain job from the pool: if the
    // group leaked, cancelling the stale gid would kill it.
    Par.par2(spark.range(10).count())(spark.range(10).count())
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val f = scala.concurrent.Future {
      spark.range(1000).count()
    }
    assert(scala.concurrent.Await.result(
      f, scala.concurrent.duration.Duration.Inf) == 1000L)
  }
}
