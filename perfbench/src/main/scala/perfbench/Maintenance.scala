package perfbench

/** `maintenance`: the write path, as a single writer keeping an event
  * store and two indexes current runs it. An op is one unit of that
  * writer's work:
  *
  *  - `batch`: a stream micro-batch with its read-your-write reads
  *    ([[StreamBatches]]);
  *  - `round`: an erase/re-admit round on the dedup and ANN indexes,
  *    `PQIndexTx.compactIVF` and one ANN search ([[IndexRounds]]);
  *  - `deep`: the deep tier (`DedupIndex.optimizeIndex`,
  *    `PQIndexTx.optimizeIndex`) and one ANN search.
  *
  * A cycle is [[Cycle]]; runs hold whole cycles, so the dedup index is
  * last touched by a deep OPTIMIZE, after which it must equal a fresh
  * build.
  */
object Maintenance {

  /** One cycle: a round, two batches, the deep tier, two batches. */
  val Cycle: Seq[String] = Seq("round", "batch", "batch", "deep", "batch", "batch")

  def run(ctx: Ctx): Unit = {
    import ctx._
    val t0 = rec.now()
    // The two parts set up on separate threads: their base loads and
    // index builds are independent, and mostly wait on job dispatch.
    def timed[A](name: String)(f: => A): A = {
      val t = rec.now()
      try f finally rec.synchronized { rec.values(name) = (rec.now() - t) / 1e3 }
    }
    val (stream, index) = Main.both(
      timed("setup_stream_s")(new StreamBatches(ctx)), timed("setup_index_s")(new IndexRounds(ctx)))
    rec.reset()
    Main.setupDone(ctx, t0)

    val commits0 = Main.commits(Main.txDirs(data))
    var batches = 0
    loop(Cycle.size) { i =>
      Cycle(i % Cycle.size) match {
        case "batch" =>
          rec.op("batch", "applyBatch") { stream.batch(batches) }
          batches += 1
        case "round" => rec.op("round", "indexRound") { index.round() }
        case "deep" => rec.op("deep", "deepTier") { index.deep() }
      }
    }
    Main.countTables(ctx, commits0)
    rec.values("recall_at_10") = index.recall
    rec.values("user_bytes") = stream.userBytes + index.userBytes
    Main.both(stream.check(), index.check())
  }
}
