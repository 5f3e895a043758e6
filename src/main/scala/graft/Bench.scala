package graft
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // 5 reps (was 3): with sub-second medians on a noisy shared host,
    // 3-rep medians gave a 3.14x worst spread in round 11 and made
    // round-over-round deltas below ~1.5x unfalsifiable. 5 reps let the
    // spread stats keep the FASTEST 3 samples (core() below — noise on
    // this host is additive, so the slow tail is the host, not the
    // engine) while the median stays the median-of-all.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    // Optional comma-separated query-name filter for local A/B loops
    // (unset = the full suite; the driver's per-round runs leave it
    // unset, so round artifacts always cover every query).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only match {
      case Some(sel) => SparkEntry.queries.filter { case (n, _) => sel(n) }
      case None => SparkEntry.queries
    }
    val spark = GraftSession.builder(master = s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A noop-format write is the timed action: it materializes every
    // output row (count() lets Catalyst drop sorts/projections, which
    // under-measures ORDER BY queries).
    def act(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // JIT/codegen warmup on the smallest SF (different data from the
    // timed run): exercises every query's codegen + parquet reader paths
    // so the timed loop measures the engine, not JVM compilation.
    // Warmup failures are tolerated (a query may legitimately need the
    // target SF's layout) — but a query that also fails in the TIMED
    // loop is a hard error, never a fast timing.
    // Warmups swallow NonFatal ONLY: an OOM/fatal error here can poison
    // every timed rep on the shared SparkSession, and hiding it would
    // publish engine-favorable timings off a broken JVM.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      queries.foreach { case (_, fn) =>
        try act(fn(spark, warmDir))
        catch { case scala.util.control.NonFatal(_) => () }
      }
    // Page-cache prewarm of the benchmark tables: one full read per file
    // so the timed loop measures engine time, not cold-disk variance.
    Option(new java.io.File(sfDir).listFiles(f => f.getName.endsWith(".parquet")))
      .getOrElse(Array.empty)
      .foreach(f => try spark.read.parquet(f.getPath).foreach(_ => ())
        catch { case scala.util.control.NonFatal(_) => () })
    // One untimed pass at the TARGET SF: AQE picks different physical
    // plans at different scale factors, so the small-SF warmup misses
    // their Janino compilation — without this pass the first heavy query
    // pays ~10 s of one-time codegen inside its measurement.
    queries.foreach { case (_, fn) =>
      try act(fn(spark, sfDir)) catch { case scala.util.control.NonFatal(_) => () }
      spark.catalog.clearCache()
    }
    spark.catalog.clearCache()
    // Median of `reps` timings per query: this shared host shows large
    // transient load spikes (identical suites have swung 31→69 s), so a
    // single sample can misattribute host noise to a plan change.
    //
    // A query that throws in the timed loop records NO timing — round 8
    // showed that time-to-exception (~0.05 s) silently IMPROVES the
    // suite total while the query is in fact dead. Errors are collected
    // per query, emitted in the JSON, and fail the run (exit 1).
    val errors = mutable.LinkedHashMap.empty[String, String]
    // Per-query span decomposition (the last rep's graft.Trace spans,
    // for every query that recorded any): lets the scale sweep
    // machine-check the flat job-and-commit floor against the
    // delta-proportional phases per SF instead of the split being
    // hand-argued in round notes.
    val phaseLog = mutable.LinkedHashMap.empty[String, Seq[(String, Double)]]
    val raw = queries.flatMap { case (name, fn) =>
      // One untimed warmup rep IMMEDIATELY before each query's timed
      // reps: the global target-SF pass above runs ~100 queries between
      // a query's warmup and its timed turn, evicting its page-cache /
      // codegen state — r12's reps_raw showed rep 1 consistently
      // slowest (a monotone warming signature, e.g. q_quarterly_trend
      // [1.71, 1.13, 0.94, 0.65, 0.61]). Warming right before the
      // timed loop measures the engine, not the eviction.
      try { act(fn(spark, sfDir)) }
      catch { case scala.util.control.NonFatal(_) => () }
      spark.catalog.clearCache()
      val ts = (1 to reps).flatMap { _ =>
        // Drained per REP: spans sum across calls, so the published
        // decomposition is the LAST rep's, comparable with the
        // per-query median second — and never a warmup's or another
        // query's.
        Trace.drain()
        val t0 = System.nanoTime()
        val ok =
          try { act(fn(spark, sfDir)); true }
          catch {
            case e: Throwable =>
              errors.getOrElseUpdate(name,
                s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
              false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // Drop frames persisted inside the query: keeps each timing
        // independent and avoids cross-query executor-memory pressure.
        spark.catalog.clearCache()
        if (ok) Some(elapsed) else None
      }
      val spans = Trace.drain()
      if (spans.nonEmpty) phaseLog(name) = spans
      if (ts.nonEmpty) Some(name -> ts) else None
    }
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    val results = raw.map { case (name, ts) => name -> ts.sorted.apply(ts.size / 2) }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Raw per-rep samples alongside the medians: a reader can spot a
    // transient host-load window (one wild rep) without re-running.
    val rawJson = raw.map { case (k, ts) => s"\"" + k + "\":" + ts.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // SPREAD over the FASTEST 3 of >= 5 reps: timing noise on this host
    // is strictly ADDITIVE (load spikes, page-cache eviction by the
    // ~100 queries between warmup and a query's timed turn — reps_raw
    // shows a 2-slow-then-stable warming trend, e.g. [1.06, 1.14,
    // 0.68, 0.64, 0.64]), so the fastest samples are the engine and
    // the slow ones are the host. The headline stat stays the
    // MEDIAN-of-all (robust, not min-biased); the spread answers
    // "is the engine's repeatable behavior stable", which symmetric
    // trims could not (round 11's 3-rep max/min hit 3.14x on noise).
    def core(ts: Seq[Double]): Seq[Double] = {
      val sorted = ts.sorted
      if (sorted.size >= 5) sorted.take(3) else sorted
    }
    // Per-query [min, median, max] over the trimmed core: the spread a
    // reader needs before attributing a cross-round delta to a code
    // change — a query whose own max/min ratio covers the delta is host
    // noise, not a regression.
    val spreadJson = raw.map { case (k, ts) =>
      val sorted = core(ts)
      s"\"" + k + "\":[" + sorted.head + "," + sorted(sorted.size / 2) + "," + sorted.last + "]"
    }.mkString("{", ",", "}")
    // The widest relative spread over the trimmed core, surfaced in the
    // compact line so the noise floor is visible even where only the
    // tail survives capture. Sub-200 ms queries are excluded: at that
    // duration the spread measures scheduler jitter (a 60 ms point
    // lookup legitimately lands anywhere in 60-180 ms on a shared
    // host), not plan stability — their per-rep samples stay in
    // reps_raw. Residual spreads above ~1.5x on sub-second queries are
    // this host's measurement floor (same-code suites swing 79-129 s);
    // cross-round claims at that size need interleaved A/B runs.
    val worstSpread = raw.toSeq
      .map { case (k, ts) =>
        val c = core(ts)
        (k, if (c.min > 0) c.max / c.min else 1.0, c.min)
      }
      .filter(_._3 >= 0.2)
      .sortBy(-_._2).headOption
      .map { case (k, r, _) => (k, r) }
    // Explicit null when the 0.2 s floor filters out EVERY query (a
    // filtered-empty stat must be distinguishable from a forgotten one).
    val worstJson = worstSpread
      .map { case (k, r) => s""","worst_spread":{"query":"${esc(k)}","max_over_min":${math.round(r * 100) / 100.0}}""" }
      .getOrElse(""","worst_spread":null""")
    val errJson = errors.map { case (k, v) => s"\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Committed interleaved-A/B artifact (graft.ABBench output, SHAs
    // stamped at commit time): embed its summary so the round's bench
    // line itself carries the only cross-round per-query statistic this
    // host's 79-129 s same-code swing cannot fake — sequential totals
    // (this line vs last round's) cannot be compared directly.
    val abJson = try {
      val f = new java.io.File("AB_BENCH.json")
      if (!f.isFile) "" else {
        import org.json4s._
        val m = jackson.JsonMethods.parse(java.nio.file.Files.readString(f.toPath))
        def str(k: String) = m \ k match { case JString(s) => s"""\"${esc(s)}\""""; case _ => "null" }
        def num(k: String) = m \ k match {
          case JDouble(d) => d.toString; case JInt(i) => i.toString
          case JDecimal(d) => d.toString; case _ => "null" }
        val movers = jackson.JsonMethods.compact(jackson.JsonMethods.render(
          m \ "movers_beyond_1.3x" match { case JNothing => JObject(); case v => v }))
        // Scope fields travel WITH the summary: an artifact from an
        // older round / different SF / different reps is then visibly
        // out-of-scope in the bench line instead of silently passing
        // as a description of this run's code.
        s""","ab_paired":{"a_sha":${str("a_sha")},"b_sha":${str("b_sha")},""" +
          s""""sf":${str("sf")},"reps":${num("reps")},""" +
          s""""artifact_mtime_ms":${f.lastModified()},""" +
          s""""queries_compared":${num("queries_compared")},""" +
          s""""total_ratio":${num("total_ratio")},"movers_beyond_1.3x":$movers}"""
      }
    } catch { case scala.util.control.NonFatal(_) => "" }
    val common =
      s""""value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"error_count":${errors.size},"sf":"$sfDir","reps":$reps,"action":"noop-write","stat":"median"$worstJson$abJson"""
    val phasesJson = phaseLog.map { case (q, ph) =>
      s"\"" + esc(q) + "\":" +
        ph.map { case (n, s) => s"\"" + esc(n.trim) + "\":" + s }
          .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total",$common,"phases":$phasesJson,"spread":$spreadJson,"reps_raw":$rawJson}"""
    // Authoritative copy on disk: sbt interleaves its own lines with
    // forked stdout, which has truncated the driver's capture twice.
    // Neither filtered runs, NOR low-rep refreshes, NOR off-scale runs
    // overwrite it (round 13's reps=1 sweep-style refresh clobbered the
    // round's real 5-rep artifact — spread stats degenerate to 1.0 with
    // one sample; and an sf0.001 smoke is not the artifact the README
    // numbers cite): bench.json is the committed full-suite, 5-rep,
    // sf0.1 artifact — exactly the driver's per-round configuration.
    if (only.isEmpty && reps >= 5 && sfDir.endsWith("sf0.1")) try {
      val w = new java.io.PrintWriter(new java.io.File("bench.json"))
      try w.println(json) finally w.close()
    } catch { case _: Throwable => () }
    // Explicit full-line output for callers the guard above locks out
    // (tools/sweep.py runs reps=1 per SF and needs phases + per-query
    // timings; before this env the sweep read bench.json and the guard
    // would have silently fed it the STALE committed artifact 3×).
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      try {
        val w = new java.io.PrintWriter(new java.io.File(p))
        try w.println(json) finally w.close()
      } catch { case scala.util.control.NonFatal(e) =>
        // The sweep dies loudly on the missing file — carry the root
        // cause (permissions, bad path) instead of losing it here.
        System.err.println(s"SPARK_GRAFT_BENCH_OUT write to $p failed: $e")
      }
    }
    graft.operators.Stages.drop(spark) // release staged frames/index dirs
    // Drain queued periodic checkpoints before the JVM exits — a
    // dropped one only lengthens the next cold replay (durability is
    // in commits), but a clean shutdown shouldn't leave any behind.
    graft.sources.TxTable.flushCheckpoints()
    spark.stop()
    // Printed LAST so nothing from Spark shutdown interleaves after it.
    // COMPACT form (no reps_raw): the driver captures a bounded tail of
    // sbt output and the full line has outgrown it (r6's round artifact
    // carried parsed:null with the line's head clipped); the per-rep
    // samples stay in bench.json, which is committed per round.
    println(s"""{"metric":"total",$common,"raw_in":"bench.json"}""")
    // Any dead query is a FAILED bench run: exit non-zero so the driver
    // (and CI) cannot mistake time-to-exception for an improvement.
    if (errors.nonEmpty) {
      System.err.println(s"bench: ${errors.size} queries failed: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
