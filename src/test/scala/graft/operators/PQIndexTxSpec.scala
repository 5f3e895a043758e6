package graft.operators

import graft.SparkSpec
import graft.sources.{Tables, TxTable}
import org.apache.spark.sql.functions._

/** The stored IVF-PQ index must answer exactly what the oracle-gated
  * self-contained IVF-PQ query answers, while its maintenance paths
  * read O(delta)/O(hit files): the dupe probe plans from Bloom sidecars
  * + manifest stats, the probed-cell scan prunes files by manifest
  * bounds, and compaction folds only level-0 dirs.
  */
class PQIndexTxSpec extends SparkSpec {

  private val (m, dsub, ksub, iters) = (8, 8, 8, 2)
  private val (coarseK, coarseIters, nprobe) = (8, 3, 2)
  private val (shortlist, topK, nq) = (40, 5, 5)

  private def vecsOf(t: Tables) = t.embeddings
    .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e")

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def search(d: String, vecs: org.apache.spark.sql.DataFrame) =
    PQIndexTx.searchIVF(spark, d, vecs.filter(col("vec_id") < nq),
        rerankVecs = vecs, dsub = dsub, nprobe = nprobe,
        shortlist = shortlist, topK = topK)
      .collect().toSeq.map(_.toSeq)

  test("manifest-backed search equals the self-contained IVF-PQ query") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dir = tmp("graft_pqtx_t")
    PQIndexTx.buildIVF(spark, vecs, dir, m, dsub, ksub, iters, nq,
      coarseK, coarseIters)
    val want = graft.queries.PQQueries.defs
      .find(_.name == "q_embed_ivfpq_search").get.build(t)
      .collect().toSeq.map(_.toSeq)
    assert(search(dir, vecs) === want,
      "manifest-backed search diverged from the self-contained IVF-PQ query")
    vecs.unpersist()
  }

  test("serving query equals the self-contained IVF-PQ query") {
    val t = Tables(spark, SparkSpec.Sf0001)
    def rows(name: String) = graft.queries.PQQueries.defs
      .find(_.name == name).get.build(t)
      .collect().toSeq.map(_.toSeq)
    val want = rows("q_embed_ivfpq_search")
    assert(want.nonEmpty)
    assert(rows("q_embed_ivfpq_index_search") === want,
      "q_embed_ivfpq_index_search diverged from the self-contained IVF-PQ query")
  }

  test("codebooks survive the parquet round-trip bit-exactly") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dir = tmp("graft_pqtx_cb")
    PQIndexTx.buildIVF(spark, vecs, dir, m = 4, dsub = 16, ksub, iters, nq,
      coarseK, coarseIters)
    val (cp, bp) = PQIndexTx.quantPaths(dir, 0L)
    assert(PQIndexTx.loadCodebooksAt(spark, bp) === PQ.fit(vecs, 4, 16, ksub, iters))
    assert(PQIndexTx.loadCoarseAt(spark, cp) === KMeans.fit(
      vecs.selectExpr("vec_id", "e", s"${VectorOps.normSq("e")} AS nsq"),
      coarseK, coarseIters).sortBy(_.cl))
    vecs.unpersist()
  }

  test("append equals all-at-once; dupe probe proves an all-new delta from the manifest") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dirA = tmp("graft_pqtx_a")
    val dirB = tmp("graft_pqtx_b")
    // Same TRAINING input both ways; index A encodes only vec_id >= 300
    // at build and appends 5..299 with the STORED quantizers.
    PQIndexTx.buildIVF(spark, vecs, dirA, m, dsub, ksub, iters, nq = 300,
      coarseK, coarseIters)
    // The probe half of the append, in the planner's own terms: every
    // delta id is BLOOM-ABSENT from every stored dir, so the lookup
    // plans ZERO files — the old shape read the whole codes table here.
    val cd = s"$dirA/codes"
    val snap = TxTable.snapshot(cd)
    val deltaIds = (5L until 300L).toSeq
    assert(TxTable.lookupFiles(cd, snap, "vec_id", deltaIds).isEmpty,
      "all-new delta ids should plan zero stored files (Bloom absence proof)")
    // UNFILTERED delta slice: the nq gate drops query ids in the
    // operator, not by caller hygiene.
    PQIndexTx.appendIVF(spark, vecs.filter(col("vec_id") < 300), dirA,
      dsub = dsub, nq = nq)
    // Double-append of already-encoded ids must refuse.
    val dup = intercept[IllegalArgumentException] {
      PQIndexTx.appendIVF(spark,
        vecs.filter(col("vec_id") >= 5 && col("vec_id") < 10), dirA, dsub = dsub)
    }
    assert(dup.getMessage.contains("already encoded"))
    PQIndexTx.buildIVF(spark, vecs, dirB, m, dsub, ksub, iters, nq,
      coarseK, coarseIters)
    def codes(d: String) = TxTable.read(spark, s"$d/codes")
      .select(col("vec_id"), col("cell"), col("codes"))
      .orderBy("vec_id").collect().toSeq.map(_.toSeq)
    assert(codes(dirA) === codes(dirB),
      "appended codes diverged from the all-at-once encode")
    assert(search(dirA, vecs) === search(dirB, vecs),
      "search on the appended index diverged")
    vecs.unpersist()
  }

  test("probed-cell scan reads a manifest-pruned strict file subset") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dir = tmp("graft_pqtx_p")
    // One file per cell (files = coarseK default): probing 2 of 8 cells
    // must plan a strict subset of the table's files.
    PQIndexTx.buildIVF(spark, vecs, dir, m, dsub, ksub, iters, nq,
      coarseK, coarseIters)
    val cd = s"$dir/codes"
    val snap = TxTable.snapshot(cd)
    val all = TxTable.dataFiles(cd, snap).map(_._1).toSet
    val probed = TxTable.lookupFiles(cd, snap, "cell", Seq(0L, 3L)).toSet
    assert(probed.nonEmpty, "probe planned no files for live cells")
    assert(probed.subsetOf(all) && probed.size < all.size,
      s"cell probe did not prune: ${probed.size} of ${all.size} files")
    // Pruning is part of the SERVING plan, not just the helper: the
    // search's scan reads only manifest-planned files for its cells.
    val got = search(dir, vecs)
    assert(got.nonEmpty)
    vecs.unpersist()
  }

  test("appendIVFIfNew: replayed micro-batches no-op, fresh ones land once") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dirS = tmp("graft_pqtx_s")
    val dirB = tmp("graft_pqtx_sb")
    PQIndexTx.buildIVF(spark, vecs, dirS, m, dsub, ksub, iters, nq = 300,
      coarseK, coarseIters)
    val b0 = vecs.filter(col("vec_id") >= 5 && col("vec_id") < 150)
    val b1 = vecs.filter(col("vec_id") >= 150 && col("vec_id") < 300)
    assert(PQIndexTx.appendIVFIfNew(spark, b0, dirS, dsub, "ingest", 0L))
    // Crash-replay of batch 0: the watermark makes it a NO-OP — a bare
    // appendIVF would trip the double-append guard here.
    assert(!PQIndexTx.appendIVFIfNew(spark, b0, dirS, dsub, "ingest", 0L))
    assert(PQIndexTx.appendIVFIfNew(spark, b1, dirS, dsub, "ingest", 1L))
    assert(!PQIndexTx.appendIVFIfNew(spark, b1, dirS, dsub, "ingest", 1L))
    PQIndexTx.buildIVF(spark, vecs, dirB, m, dsub, ksub, iters, nq,
      coarseK, coarseIters)
    val rows = TxTable.read(spark, s"$dirS/codes").count()
    assert(rows == TxTable.read(spark, s"$dirB/codes").count(),
      "replayed batches duplicated or dropped rows")
    assert(search(dirS, vecs) === search(dirB, vecs),
      "streamed index diverged from the all-at-once build")
    vecs.unpersist()
  }

  test("deleteIds rewrites only hit files; deleted vectors vanish, re-append works") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dir = tmp("graft_pqtx_d")
    PQIndexTx.buildIVF(spark, vecs, dir, m, dsub, ksub, iters, nq,
      coarseK, coarseIters)
    val cd = s"$dir/codes"
    val before = TxTable.read(spark, cd)
      .select(col("vec_id"), col("cell"), col("codes"))
      .orderBy("vec_id").collect().toSeq
    val victims = before.take(3).map(_.getLong(0))
    val (rewritten, total) = PQIndexTx.deleteIds(spark, dir, victims)
    assert(rewritten > 0 && rewritten < total,
      s"delete should rewrite a strict subset of files: $rewritten of $total")
    val after = TxTable.read(spark, cd)
      .select(col("vec_id"), col("cell"), col("codes"))
      .orderBy("vec_id").collect().toSeq
    assert(after === before.filterNot(r => victims.contains(r.getLong(0))),
      "delete changed rows beyond the removed ids")
    assert(!search(dir, vecs).exists(r => victims.contains(r(2))),
      "a deleted vector still surfaces in search results")
    // Carried Blooms over-approximate after a delete — the exact check
    // on hit files must let the id back in.
    PQIndexTx.appendIVF(spark,
      vecs.filter(col("vec_id").isin(victims: _*)), dir, dsub = dsub)
    assert(TxTable.read(spark, cd).count() == before.size.toLong,
      "re-append after delete lost or duplicated rows")
    vecs.unpersist()
  }

  test("deleteIdsDeferred: zero file changes, search parity with the eager delete, fold makes it physical") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dirE = tmp("graft_pqtx_dde")
    val dirD = tmp("graft_pqtx_ddd")
    Seq(dirE, dirD).foreach(d => PQIndexTx.buildIVF(spark, vecs, d, m, dsub,
      ksub, iters, nq, coarseK, coarseIters))
    val victims = TxTable.read(spark, s"$dirE/codes")
      .select(col("vec_id")).orderBy("vec_id").limit(3)
      .collect().map(_.getLong(0)).toSeq
    PQIndexTx.deleteIds(spark, dirE, victims) // eager reference
    val filesBefore = TxTable.dataFiles(s"$dirD/codes",
      TxTable.snapshot(s"$dirD/codes")).map(_._1.toString).toSet
    PQIndexTx.deleteIdsDeferred(dirD, victims)
    assert(TxTable.dataFiles(s"$dirD/codes",
      TxTable.snapshot(s"$dirD/codes")).map(_._1.toString).toSet == filesBefore,
      "deferred delete touched code files")
    // The probed-cell search masks the ids and ranks exactly like the
    // physical rewrite.
    assert(search(dirD, vecs) === search(dirE, vecs),
      "masked search diverged from the eager-delete search")
    // Fold: physical removal, mask cleared, same results.
    val (rw, _) = TxTable.foldDeletes(spark, s"$dirD/codes")
    assert(rw >= 1L)
    assert(TxTable.snapshot(s"$dirD/codes").dkeys.isEmpty)
    assert(TxTable.read(spark, s"$dirD/codes")
      .filter(col("vec_id").isInCollection(victims)).isEmpty,
      "fold left masked rows physically matched")
    assert(search(dirD, vecs) === search(dirE, vecs),
      "search changed across the fold")
    vecs.unpersist()
  }

  test("re-add under an open tombstone auto-folds: the new vector serves (FAISS add parity)") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dir = tmp("graft_pqtx_readd")
    PQIndexTx.buildIVF(spark, vecs, dir, m, dsub, ksub, iters, nq,
      coarseK, coarseIters)
    val cd = s"$dir/codes"
    val want = search(dir, vecs) // pre-delete reference
    val victims = TxTable.read(spark, cd)
      .select(col("vec_id")).orderBy("vec_id").limit(3)
      .collect().map(_.getLong(0)).toSeq
    PQIndexTx.deleteIdsDeferred(dir, victims)
    // Re-add the SAME ids while the tombstone is open: the append must
    // fold the mask first — otherwise the new rows land suppressed and
    // the search silently loses them until a manual fold.
    PQIndexTx.appendIVF(spark,
      vecs.filter(col("vec_id").isin(victims: _*)), dir, dsub = dsub, nq = nq)
    assert(TxTable.snapshot(cd).dkeys.isEmpty,
      "colliding append should have folded the open tombstone")
    assert(TxTable.read(spark, cd)
      .filter(col("vec_id").isInCollection(victims)).count() == victims.size,
      "re-added ids missing from the served codes")
    // Content equals the original index (same vectors), so the search
    // must too — the fold + re-add round-trip is invisible.
    assert(search(dir, vecs) === want,
      "delete + re-add of identical vectors changed search results")
    vecs.unpersist()
  }

  test("foreachBatch maintenance lands exactly once; restore rolls index AND watermark back") {
    implicit val sc = spark.sqlContext
    val spark0 = spark
    import spark0.implicits._
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dir = tmp("graft_pqtx_fb")
    PQIndexTx.buildIVF(spark, vecs, dir, m, dsub, ksub, iters, nq = 300,
      coarseK, coarseIters)
    val cd = s"$dir/codes"
    val base = TxTable.read(spark, cd).count()
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val q = mem.toDF().toDF("vec_id", "e").writeStream
      .option("checkpointLocation", tmp("graft_pqtx_chk"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        PQIndexTx.appendIVFIfNew(spark0, batch, dir, dsub, "fb", batchId, nq = nq)
        ()
      }
      .start()
    val rows = vecs.filter(col("vec_id") >= 5 && col("vec_id") < 300)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    mem.addData(rows.filter(_._1 < 150).toSeq)
    q.processAllAvailable()
    val afterB0 = TxTable.read(spark, cd).count()
    mem.addData(rows.filter(_._1 >= 150).toSeq)
    q.processAllAvailable()
    q.stop()
    assert(TxTable.read(spark, cd).count() == base + rows.length,
      "streamed batches lost or duplicated rows")
    assert(search(dir, vecs).nonEmpty)
    // Index rollback: restore to the pre-batch-1 version. The txn
    // watermark rolls back WITH the data (they are one manifest), so
    // a re-delivery of batch 1 re-applies instead of no-op'ing against
    // a stale watermark — restore-then-replay recovers, never loses.
    val vNow = TxTable.snapshot(cd).version
    TxTable.restore(spark, cd, vNow - 1)
    assert(TxTable.read(spark, cd).count() == afterB0,
      "restore did not roll the codes table back")
    assert(PQIndexTx.appendIVFIfNew(spark,
      vecs.filter(col("vec_id") >= 150 && col("vec_id") < 300), dir,
      dsub, "fb", 1L, nq = nq),
      "replay after restore should re-apply (watermark must roll back too)")
    assert(TxTable.read(spark, cd).count() == base + rows.length)
    vecs.unpersist()
  }

  test("level-0 compaction folds delta dirs, carries the base, search unchanged") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dir = tmp("graft_pqtx_c")
    PQIndexTx.buildIVF(spark, vecs, dir, m, dsub, ksub, iters, nq = 200,
      coarseK, coarseIters)
    val cd = s"$dir/codes"
    val baseDir = TxTable.snapshot(cd).dirs.head
    // A trickle of delta appends, several files each.
    Seq((5L, 50L), (50L, 100L), (100L, 150L), (150L, 200L)).foreach {
      case (lo, hi) =>
        PQIndexTx.appendIVF(spark,
          vecs.filter(col("vec_id") >= lo && col("vec_id") < hi), dir,
          dsub = dsub, files = 3)
    }
    val before = search(dir, vecs)
    assert(TxTable.snapshot(cd).dirs.size == 5)
    val (nBefore, nAfter) = PQIndexTx.compactIVF(spark, dir)
    assert(nAfter < nBefore, s"compaction did not shrink files: $nBefore -> $nAfter")
    val snap = TxTable.snapshot(cd)
    assert(snap.dirs.size == 2, s"expected base + one folded dir: ${snap.dirs}")
    assert(snap.dirs.contains(baseDir), "compaction rewrote the base dir")
    assert(search(dir, vecs) === before,
      "compaction changed search results")
    // Steady state: the folded dir is this compaction's own output —
    // a second scheduled run must commit nothing, not refold it.
    PQIndexTx.compactIVF(spark, dir)
    assert(TxTable.snapshot(cd).version == snap.version,
      "re-compaction of an already-compact index committed a new version")
    vecs.unpersist()
  }

  private val eraseIds = Seq(310L, 333L, 421L, 444L, 498L)

  test("optimizeIndex: erase → append → retrain converges to a fresh build of the live corpus") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dir = tmp("graft_pqtx_opt")
    val dirFresh = tmp("graft_pqtx_optf")
    PQIndexTx.buildIVF(spark, vecs, dir, m, dsub, ksub, iters, nq = 300,
      coarseK, coarseIters)
    PQIndexTx.deleteIdsDeferred(dir, eraseIds)
    PQIndexTx.appendIVF(spark, vecs.filter(col("vec_id") < 300), dir,
      dsub = dsub, nq = nq)
    val ph = PQIndexTx.optimizeIndex(spark, vecs, dir,
      m, dsub, ksub, iters, nq, coarseK, coarseIters)
    assert(Set("plan", "train", "encode_commit").subsetOf(ph.map(_._1).toSet),
      s"missing optimize phases: $ph")
    val cd = s"$dir/codes"
    val snap = TxTable.snapshot(cd)
    assert(PQIndexTx.quantEpoch(snap) == 1L, "retrain did not advance the quantizer epoch")
    assert(snap.dkeys.isEmpty, "optimize left a standing tombstone")
    // The fixed point: a from-scratch build of the LIVE corpus (queries
    // + every non-erased corpus vector).
    val liveVecs = vecs.filter(col("vec_id") < nq || !col("vec_id").isInCollection(eraseIds))
    PQIndexTx.buildIVF(spark, liveVecs, dirFresh, m, dsub, ksub, iters, nq,
      coarseK, coarseIters)
    def codes(d: String) = TxTable.read(spark, s"$d/codes")
      .select(col("vec_id"), col("cell"), col("codes"))
      .orderBy("vec_id").collect().toSeq.map(_.toSeq)
    assert(codes(dir) === codes(dirFresh),
      "retrained codes diverged from the fresh live-corpus build")
    assert(search(dir, vecs) === search(dirFresh, vecs),
      "served neighbors diverged from the rebuilt index's")
    vecs.unpersist()
  }

  test("optimizeIndex: a live id missing from the vector source fails loudly") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dir = tmp("graft_pqtx_optm")
    PQIndexTx.buildIVF(spark, vecs, dir, m, dsub, ksub, iters, nq,
      coarseK, coarseIters)
    val holed = vecs.filter(col("vec_id") =!= 42L)
    val e = intercept[IllegalArgumentException] {
      PQIndexTx.optimizeIndex(spark, holed, dir,
        m, dsub, ksub, iters, nq, coarseK, coarseIters)
    }
    assert(e.getMessage.contains("live"), s"wrong failure: ${e.getMessage}")
    vecs.unpersist()
  }

  test("optimizeIndex carries writer watermarks; restore rolls epoch back with the codes") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dir = tmp("graft_pqtx_optw")
    PQIndexTx.buildIVF(spark, vecs, dir, m, dsub, ksub, iters, nq = 300,
      coarseK, coarseIters)
    PQIndexTx.markBase(dir)
    val cd = s"$dir/codes"
    val base = TxTable.read(spark, cd).count()
    val b0 = vecs.filter(col("vec_id") >= 5 && col("vec_id") < 150)
    val b1 = vecs.filter(col("vec_id") >= 150 && col("vec_id") < 300)
    assert(PQIndexTx.appendIVFIfNew(spark, b0, dir, dsub, "fb", 0L))
    PQIndexTx.optimizeIndex(spark, vecs, dir,
      m, dsub, ksub, iters, nq, coarseK, coarseIters)
    assert(PQIndexTx.quantEpoch(TxTable.snapshot(cd)) == 1L)
    // The retrain's whole-table replace must NOT eat the maintainer's
    // replay guard: batch 0 stays recorded, batch 1 is genuinely new.
    assert(!PQIndexTx.appendIVFIfNew(spark, b0, dir, dsub, "fb", 0L),
      "replayed batch re-applied after the retrain — watermark lost")
    assert(PQIndexTx.appendIVFIfNew(spark, b1, dir, dsub, "fb", 1L))
    assert(TxTable.read(spark, cd).count() == base + b0.count() + b1.count())
    assert(search(dir, vecs).nonEmpty)
    // RESTORE: codes, watermarks AND epoch roll back together — the
    // base serves its own (epoch-0) quantizers again.
    PQIndexTx.restoreBase(spark, dir)
    val snapBase = TxTable.snapshot(cd)
    assert(PQIndexTx.quantEpoch(snapBase) == 0L, "epoch did not roll back with the restore")
    assert(TxTable.read(spark, cd).count() == base)
    assert(PQIndexTx.appendIVFIfNew(spark, b0, dir, dsub, "fb", 0L),
      "batch 0 should re-apply after restore (watermark must roll back too)")
    vecs.unpersist()
  }

  test("an append racing the retrain is never lost: optimize re-plans and retrains over it") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dir = tmp("graft_pqtx_optr")
    val dirFresh = tmp("graft_pqtx_optrf")
    PQIndexTx.buildIVF(spark, vecs, dir, m, dsub, ksub, iters, nq = 300,
      coarseK, coarseIters)
    // Land a delta INSIDE the optimize's plan→commit window (the
    // deterministic interleave the hook exists for).
    PQIndexTx.optimizeRaceHookForTest = () => {
      PQIndexTx.optimizeRaceHookForTest = () => ()
      PQIndexTx.appendIVF(spark, vecs.filter(col("vec_id") < 300), dir,
        dsub = dsub, nq = nq)
    }
    val ph =
      try PQIndexTx.optimizeIndex(spark, vecs, dir,
        m, dsub, ksub, iters, nq, coarseK, coarseIters)
      finally PQIndexTx.optimizeRaceHookForTest = () => ()
    assert(ph.map(_._1).contains("replan_lost_race"),
      s"the optimize should have lost its first claim and re-planned: $ph")
    assert(PQIndexTx.quantEpoch(TxTable.snapshot(s"$dir/codes")) == 1L)
    // The re-plan saw the raced-in delta, so the fixed point is a fresh
    // build of the FULL corpus — the racing append was never clobbered.
    PQIndexTx.buildIVF(spark, vecs, dirFresh, m, dsub, ksub, iters, nq,
      coarseK, coarseIters)
    def codes(d: String) = TxTable.read(spark, s"$d/codes")
      .select(col("vec_id"), col("cell"), col("codes"))
      .orderBy("vec_id").collect().toSeq.map(_.toSeq)
    assert(codes(dir) === codes(dirFresh),
      "the raced append's rows were lost or encoded stale")
    assert(search(dir, vecs) === search(dirFresh, vecs))
    vecs.unpersist()
  }

  test("a retrain landing inside an append's race window forces the delta to re-encode at the new epoch") {
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = vecsOf(t).persist()
    val dir = tmp("graft_pqtx_opta")
    val dirRef = tmp("graft_pqtx_optar")
    Seq(dir, dirRef).foreach(d => PQIndexTx.buildIVF(spark, vecs, d,
      m, dsub, ksub, iters, nq = 300, coarseK, coarseIters))
    // Sequential reference: retrain THEN append (no race).
    PQIndexTx.optimizeIndex(spark, vecs, dirRef,
      m, dsub, ksub, iters, nq, coarseK, coarseIters)
    PQIndexTx.appendIVF(spark, vecs.filter(col("vec_id") < 300), dirRef,
      dsub = dsub, nq = nq)
    // Raced: the retrain lands between the append's dupe probe and its
    // commit — the append must detect the epoch drift and re-encode
    // with the NEW quantizers (stale-epoch codes must never land).
    PQIndexTx.appendRaceHookForTest = () => {
      PQIndexTx.appendRaceHookForTest = () => ()
      PQIndexTx.optimizeIndex(spark, vecs, dir,
        m, dsub, ksub, iters, nq, coarseK, coarseIters)
      ()
    }
    try PQIndexTx.appendIVF(spark, vecs.filter(col("vec_id") < 300), dir,
      dsub = dsub, nq = nq)
    finally PQIndexTx.appendRaceHookForTest = () => ()
    def codes(d: String) = TxTable.read(spark, s"$d/codes")
      .select(col("vec_id"), col("cell"), col("codes"))
      .orderBy("vec_id").collect().toSeq.map(_.toSeq)
    assert(codes(dir) === codes(dirRef),
      "the raced append landed codes encoded with the pre-retrain quantizers")
    assert(search(dir, vecs) === search(dirRef, vecs))
    vecs.unpersist()
  }
}
