package graft.streaming

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{DedupIndex, PQIndexTx}
import graft.sources.TxTable

/** CHANGE-FEED CONSUMERS: wire a TxTable's change feed — additions AND
  * deletions — into the engine's serving indexes, closing the CDC loop
  * the plain stream leaves open (a tombstone commit adds no data dir,
  * so a downstream index fed additions-only never learns about
  * erasures; reference parity: the webapp's MySQL/Mongo/Neo4j stores
  * see deletes implicitly because every query re-reads the primary
  * store — a lake-scale serving index is a MATERIALIZATION and must be
  * told).
  *
  * All consumers read `format("graft-txtable")` with
  * `readChangeFeed=true` (the Delta-CDF-shaped `_change_type` +
  * `_commit_version` columns) and apply, per micro-batch, DELETES
  * first and inserts second: a delivered insert is LIVE at the primary
  * at batch-end (the feed masks appended rows by the end snapshot's
  * tombstones and fold position), so a batch's deletes must never
  * swallow its inserts — with the reverse order, a primary-side erase
  * + fold + re-add of the same key inside one range left the re-added
  * row masked forever.
  *
  * Replay safety is MECHANICAL, from two facts committed atomically
  * with every applied batch:
  *  - the (appId, batchId) watermark — Spark's own exactly-once seal
  *    for the same consumer restarting from its checkpoint;
  *  - the COVERED SOURCE HIGH-WATER ([[CoversKey]]): the highest
  *    source `_commit_version` the sealed batch applied. A change row
  *    is applied iff its `_commit_version` EXCEEDS the sink's recorded
  *    high-water — so a RE-SEEDED consumer (fresh checkpoint ⇒ fresh
  *    appId, arbitrary new batch boundaries) skips already-covered
  *    rows row-by-row with no liveness heuristics: a replayed
  *    DELETE-ONLY batch, a collision batch whose every insert id is
  *    also deleted in-batch, and batch-boundary drift across the
  *    covered frontier are all decided by version arithmetic alone.
  *    Delete rows beyond the high-water re-apply idempotently on a
  *    crash-before-checkpoint replay (tombstones dedupe; any
  *    re-admission of the key is an INSERT at a later version, which
  *    would have advanced the high-water past the delete — so a
  *    re-applied delete can never re-mask a covered re-admission).
  */
object CdcSync {

  /** The change-feed column the consumers dispatch on. */
  val ChangeTypeCol = "_change_type"

  /** The change-feed's commit-attribution column (Delta CDF's name). */
  val ChangeVersionCol = graft.sources.TxTable.CommitVersionCol

  /** Reserved writer-metadata key in the SINK's txns map recording the
    * covered source high-water. Riding the txns map gives it the
    * watermark's guarantees for free: committed atomically with the
    * batch's data, carried forward by every commit form, rolled back
    * by RESTORE with the data it described. For the dedup index it is
    * stamped on BOTH the docs (FIRST) and groups (LAST) claims, so
    * docs-ahead-of-groups is a between-claims crash signature ANY
    * consumer detects — appId-free, unlike the watermark. */
  val CoversKey = "__cdc_covers"

  /** Stream `srcDir` (a TxTable of (vec_id, e)) into a [[PQIndexTx]]
    * serving index: GDPR erasure (or any keyed delete) on the source
    * table flows to the ANN index as FAISS-`remove_ids`-shaped
    * tombstones; appended vectors encode with the stored quantizers.
    * The index must exist ([[PQIndexTx.buildIVF]] trains it); pass the
    * source version the index was built FROM as `sinceVersion` so the
    * feed replays only post-build changes (the build already holds the
    * snapshot). Returns the started query — caller owns its lifecycle
    * (`processAllAvailable`/`stop` for a drain, or leave it running). */
  def vectorsToAnn(spark: SparkSession, srcDir: String, indexDir: String,
                   checkpointDir: String, sinceVersion: Long, dsub: Int,
                   nq: Int = 0, files: Int = 1): StreamingQuery = {
    val appId = checkpointDir // unique per query, stable across restarts
    spark.readStream.format("graft-txtable")
      .option("readChangeFeed", "true")
      .option("startingVersion", sinceVersion.toString)
      .load(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // WHOLE-BATCH replay guard (same-consumer restarts): the
        // append's watermark commits with the batch, so a recorded
        // batch skips without touching the manifest again.
        if (!PQIndexTx.lastBatch(indexDir, appId).exists(_ >= batchId)) {
          // COVERED-ROW FILTER (re-seeded consumers, boundary drift):
          // only rows beyond the index's sealed source high-water
          // apply — version arithmetic, no liveness probing. lastBatch
          // reads the codes manifest's txns map, which is where the
          // reserved covers entry lives too.
          val hw = PQIndexTx.lastBatch(indexDir, CoversKey).getOrElse(-1L)
          val fresh = batch.filter(col(ChangeVersionCol) > hw)
          // DELETES FIRST: a delivered insert is LIVE at the primary
          // at batch-end (the feed masks by the end snapshot's
          // tombstones), so this batch's deletes must never swallow
          // it. With the old insert-then-delete order, a primary-side
          // erase + fold + re-add inside one range re-masked the
          // freshly appended vector forever.
          val delIds = fresh.filter(col(ChangeTypeCol) === "delete")
            .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
          if (delIds.nonEmpty) PQIndexTx.deleteIdsDeferred(indexDir, delIds)
          val inserts = fresh.filter(col(ChangeTypeCol) === "insert")
            .select(col("vec_id"), col("e"))
          // Empty-insert batches (delete-only ranges) skip the append
          // entirely: an empty watermark commit per delete batch would
          // fragment the codes table for nothing, and the deletes
          // above are idempotent on replay (uncovered deletes can only
          // precede uncovered re-admissions — see the object doc).
          if (!inserts.isEmpty) {
            val maxV = fresh.agg(max(col(ChangeVersionCol)))
              .head().getLong(0)
            PQIndexTx.appendIVFIfNew(spark, inserts, indexDir, dsub = dsub,
              appId = appId, batchId = batchId, nq = nq, files = files,
              txnExtra = Map(CoversKey -> maxV))
          }
        }
        ()
      }
      .start()
  }

  /** [[vectorsToAnn]]'s text twin: stream `srcDir` (a TxTable of
    * (doc_id, shs)) into a [[DedupIndex]] — appended documents ingest
    * via the incremental mine, erased doc_ids tombstone across the
    * index's serving tables ([[DedupIndex.deleteDocsDeferred]]).
    *
    * Replay/crash discipline, checked IN ORDER before any mutation:
    *  1. WHOLE-batch seal — the append's txn watermark rides the
    *     index's LAST claim (groups); a recorded batch proves deletes
    *     AND the four-table append all landed, so it skips in full.
    *  2. Between-claims CRASH signature, appId-FREE — the append
    *     stamps [[CoversKey]] on its FIRST claim (docs) and its LAST
    *     (groups) in the same commits as the watermark: docs' covers
    *     AHEAD of groups' means some writer's append died between
    *     claims and the crashed range's groups/pairs/components never
    *     landed — detected by ANY consumer, re-seeded or not (the old
    *     appId-scoped signature went blind after a re-seed: fresh
    *     appId, no stamp to compare). Fail LOUDLY unless the recorded
    *     repair provably ran (the batch's insert ids erased — the one
    *     bounded point lookup, on the crash path only); a consumer
    *     seeded BEYOND the crashed range (its rows cannot witness the
    *     repair) also fails loudly. The repaired replay's collision
    *     fold rebuilds the half-landed state, and its append re-stamps
    *     covers on both claims — clearing the signature in the same
    *     commit that makes it true.
    *  3. COVERED-ROW FILTER (an index that has SEALED at least one CDC
    *     batch — the steady state): only rows with `_commit_version`
    *     beyond the groups claim's covers high-water apply. A
    *     re-seeded consumer's replayed DELETE-ONLY batch, a collision
    *     batch whose every insert id is also deleted in-batch, and
    *     batch-boundary drift across the covered frontier all resolve
    *     by version arithmetic — the r16 liveness-probe caveats are
    *     unreachable because no liveness is consulted. Uncovered
    *     deletes re-apply idempotently on crash replay (see the object
    *     doc for why they can never re-mask a covered re-admission).
    *  4. BOOTSTRAP (no covers record yet — an index fresh from
    *     [[DedupIndex.build]] that no CDC batch ever sealed, where
    *     there IS no recorded coverage to compare against): the
    *     evidence-based probe — all of the batch's probe-eligible
    *     insert ids live proves the range predates the build (skip in
    *     full, before any delete); none live is genuinely new (apply);
    *     partial presence is seed/boundary drift (fail loudly, before
    *     any delete). The FIRST applied batch stamps covers and flips
    *     the index to the mechanical regime for every later consumer. */
  def docsToDedup(spark: SparkSession, srcDir: String, indexDir: String,
                  checkpointDir: String, sinceVersion: Long,
                  cap: Int, maxCommitsPerTrigger: Option[Int] = None)
      : StreamingQuery = {
    val appId = checkpointDir
    val reader = spark.readStream.format("graft-txtable")
      .option("readChangeFeed", "true")
      .option("startingVersion", sinceVersion.toString)
    maxCommitsPerTrigger.foreach(n =>
      reader.option("maxCommitsPerTrigger", n.toString))
    reader
      .load(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!DedupIndex.lastBatch(indexDir, appId).exists(_ >= batchId)) {
          val gCovOpt = TxTable.txnVersion(s"$indexDir/groups", CoversKey)
          val dCovOpt = TxTable.txnVersion(s"$indexDir/docs", CoversKey)
          val gCov = gCovOpt.getOrElse(-1L)
          val fresh = batch.filter(col(ChangeVersionCol) > gCov)
          val delIds = fresh.filter(col(ChangeTypeCol) === "delete")
            .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
          val inserts = fresh.filter(col(ChangeTypeCol) === "insert")
            .select(col("doc_id"), col("shs"))
          val insIds = inserts.select(col("doc_id")).collect()
            .map(_.getLong(0)).toSeq
          val nonEmptyBatch = insIds.nonEmpty || delIds.nonEmpty
          // How many of `ids` are live in docs (a manifest-planned count).
          def liveCount(ids: Seq[Long]): Long = {
            val docs = s"$indexDir/docs"
            val snap = TxTable.snapshot(docs)
            TxTable.scanKeys(spark, snap, "doc_id", ids,
              TxTable.lookupFiles(docs, snap, "doc_id", ids)).count()
          }
          if (dCovOpt.exists(_ > gCov) && nonEmptyBatch) {
            // Crash window, ANY writer's: docs sealed source versions
            // through dCov but groups only through gCov — the append
            // covering (gCov, dCov] died between claims, so that
            // range's groups/pairs/components are missing and skipping
            // past it would lose them permanently. Proceed only when
            // the recorded repair provably ran: this batch overlaps the
            // crashed range AND none of its insert ids is still live in
            // docs (erased by the repair) — then the re-ingest below
            // rebuilds the half-landed state via the collision fold.
            val dCov = dCovOpt.get
            val minV = fresh.agg(min(col(ChangeVersionCol))).head().getLong(0)
            require(minV <= dCov,
              s"docs CDC batch $batchId: a previous append crashed between " +
                s"claims (docs covers source v$dCov, groups only v$gCov) and " +
                s"this consumer is seeded BEYOND the crashed range (first " +
                s"fresh row is v$minV) — its rows cannot witness the repair. " +
                "Run the repair first — erase the crashed range's doc_ids " +
                "(DedupIndex.deleteDocsDeferred) — then re-seed from the " +
                "index's build version.")
            val live = if (insIds.isEmpty) 0L
              else liveCount(insIds)
            require(live == 0L,
              s"docs CDC batch $batchId: a previous append crashed between " +
                s"claims (docs covers source v$dCov, groups only v$gCov) — " +
                "the crashed range's groups/pairs/components never landed and " +
                s"$live of this batch's doc_ids are still half-landed in docs. " +
                "Repair: erase the crashed range's doc_ids " +
                "(DedupIndex.deleteDocsDeferred) and restart any consumer; " +
                "the re-ingest's collision fold rebuilds the half-landed state.")
          }
          // BOOTSTRAP probe (no covers yet): liveness is the only
          // evidence there is. Skips pre-build ranges in full, fails
          // loudly on drift — both BEFORE any delete mutates the index.
          val bootstrapSkip = gCovOpt.isEmpty && nonEmptyBatch && {
            val delSet = delIds.toSet
            val probe = insIds.filterNot(delSet)
            val pre =
              if (probe.isEmpty) 0L
              else liveCount(probe)
            val landed = probe.nonEmpty && pre == probe.size &&
              dCovOpt.isEmpty // a crash never counts as landed
            if (!landed) require(pre == 0L,
              s"docs CDC batch $batchId is PARTIALLY present ($pre of " +
                s"${probe.size} probed ids) in an index with no covers " +
                "record — batch boundaries drifted across the build point; " +
                "re-seed the consumer from the index's build version")
            landed
          }
          if (!bootstrapSkip) {
            // DELETES FIRST — delivered inserts are live at the primary
            // at batch-end and must survive this batch's deletes.
            if (delIds.nonEmpty) DedupIndex.deleteDocsDeferred(indexDir, delIds)
            // The append folds standing masks on collision and seals the
            // batch: watermark + covers high-water riding its docs
            // (first) and groups (last) claims atomically.
            if (insIds.nonEmpty) {
              val maxV = fresh.agg(max(col(ChangeVersionCol))).head().getLong(0)
              DedupIndex.append(spark, inserts, indexDir, cap,
                txn = Some((appId, batchId)),
                txnExtra = Map(CoversKey -> maxV))
              ()
            }
          }
        }
        ()
      }
      .start()
  }

  /** Replicate `srcDir` into a MIRROR TxTable at `dstDir`, erasures
    * included — the generic materialized-replica shape (cross-region
    * copy, downstream cleanroom, a serving mirror the primary's GDPR
    * obligations must reach). Per batch the order is DELETES, then a
    * KEY-SCOPED COLLISION FOLD of exactly the colliding keys when an
    * incoming insert carries a currently-masked key (the primary
    * re-admitted a once-erased key after folding its own tombstones —
    * the mirror's value-keyed mask would otherwise suppress that key's
    * every future event forever; scoping keeps the rewrite O(that
    * key's hit files), the rest of the standing mask carries), then
    * inserts via
    * the exactly-once idempotent append; the insert watermark commits
    * last, so it seals the whole sequence and a replayed batch whose
    * watermark is already committed is skipped in full (replaying just
    * the delete half after a collision fold would re-erase rows the
    * original run correctly appended). `keyCols`
    * names the columns erasures may arrive on — each BIGINT or STRING,
    * the tombstone key shapes; a delete row carrying NONE of them
    * fails the batch loudly (silently dropping it would diverge the
    * mirror from the primary's erasures). The mirror auto-inits from
    * the stream's schema (the source's bloom registration) on first
    * batch; `sinceVersion < 0` bootstraps from the full snapshot
    * (`earliest`), otherwise the feed starts strictly after that
    * source version.
    *
    * SCHEMA EVOLUTION: an additive widen on the source fails the
    * running stream loudly (the source pinned its schema at start);
    * restarting the SAME mirrorTable call re-pins the widened schema,
    * replays pre-widening ranges null-padded, and the mirror widens
    * through the append path's additive evolution. A tombstone on a
    * column the mirror has not yet seen is a proven no-op (no mirror
    * row carries the column) and is skipped, not dropped silently. */
  def mirrorTable(spark: SparkSession, srcDir: String, dstDir: String,
                  checkpointDir: String, keyCols: Seq[String],
                  sinceVersion: Long = -1L): StreamingQuery = {
    val appId = checkpointDir
    val starting = if (sinceVersion < 0) "earliest" else sinceVersion.toString
    spark.readStream.format("graft-txtable")
      .option("readChangeFeed", "true")
      .option("startingVersion", starting)
      .load(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val inserts0 = batch.filter(col(ChangeTypeCol) === "insert")
          .drop(ChangeTypeCol, ChangeVersionCol)
        // Init from the BATCH schema (the stream's pinned schema), not
        // the source head: a widen landing between stream start and the
        // first batch would otherwise init the mirror wider than every
        // batch this stream can deliver, failing the append-side schema
        // check until a restart. The mirror then widens exactly as the
        // restarted stream's batches do.
        if (!TxTable.exists(dstDir))
          TxTable.init(spark, dstDir, inserts0.schema,
            bloomCols = TxTable.snapshot(srcDir).bloomCols)
        // WHOLE-BATCH replay guard, checked before ANY application: the
        // insert watermark commits LAST below, so a committed watermark
        // proves the full sequence (deletes, any fold, append) landed.
        // Replaying just the delete half after a collision fold would
        // re-mask and then re-erase rows the original run correctly
        // appended — the one interleaving idempotence alone can't save.
        if (!TxTable.snapshot(dstDir).txns.get(appId).exists(_ >= batchId)) {
          // COVERED-ROW FILTER: a re-seeded mirror consumer (fresh
          // appId) skips rows whose source version a sealed batch
          // already covered — the mechanical twin of the index
          // consumers' filter; replayed delete-only batches and
          // boundary drift resolve by version arithmetic.
          val hw = TxTable.snapshot(dstDir).txns.get(CoversKey).getOrElse(-1L)
          val fresh = batch.filter(col(ChangeVersionCol) > hw)
          val inserts = fresh.filter(col(ChangeTypeCol) === "insert")
            .drop(ChangeTypeCol, ChangeVersionCol)
          val schema = inserts.schema
          // DELETES FIRST. The feed's insert half delivers only rows
          // LIVE at the primary at batch-end (readChanges masks by the
          // end snapshot's tombstones plus later-fold position), so a
          // delivered insert must never be swallowed by this batch's —
          // or any earlier batch's — delete of the same key. Delete
          // rows carry exactly one non-null column: the tombstoned key.
          // keyCols declares which columns erasures may arrive on — one
          // driver-side collect routes each row to its column's pass
          // (micro-batch bounded, like the index consumers' id sets).
          val present = keyCols.filter(schema.fieldNames.contains)
          val delRows = fresh.filter(col(ChangeTypeCol) === "delete")
            .select(present.map(c => col(c)): _*).collect()
          if (delRows.nonEmpty) {
            // FAIL-LOUD routing: a delete keyed on an undeclared column
            // matches no pass — dropping it would silently diverge the
            // mirror from the primary's erasures (a GDPR copy that keeps
            // what the source deleted). Surface the misconfiguration.
            val unrouted = delRows.count(r => present.indices.forall(r.isNullAt))
            require(unrouted == 0,
              s"mirrorTable: $unrouted delete row(s) in batch $batchId carry " +
                s"no declared key column (keyCols=${keyCols.mkString(",")}) — " +
                "the erasure cannot be routed; declare its tombstone column")
            lazy val mirrorCols = org.apache.spark.sql.types.StructType
              .fromDDL(TxTable.snapshot(dstDir).schemaDdl).fieldNames.toSet
            present.zipWithIndex.foreach { case (c, i) =>
              val keyed = delRows.filter(r => !r.isNullAt(i))
              // A key column the mirror has never seen is a PROVEN no-op:
              // the mirror's schema widens only through inserts, so no
              // mirror row carries the column yet (the source widened and
              // erased before any widened insert reached this replica).
              if (keyed.nonEmpty && mirrorCols.contains(c)) {
                schema(c).dataType match {
                  case org.apache.spark.sql.types.LongType =>
                    TxTable.deleteKeysDeferred(dstDir, c,
                      keyed.toSeq.map(_.getLong(i)))
                  case _ =>
                    TxTable.deleteStringKeysDeferred(dstDir, c,
                      keyed.toSeq.map(_.getString(i)))
                }
                ()
              }
            }
          }
          // COLLISION FOLD, KEY-SCOPED: the mirror's deferred
          // tombstones are value-keyed — left standing, they would mask
          // these (or any later) inserts of a once-erased key FOREVER,
          // silently dropping every future event of that key even
          // though the primary folded its own tombstones and
          // re-admitted it. When an incoming insert carries a
          // currently-masked key, the primary's history proves a fold
          // sits between that key's delete and this insert (delivered
          // inserts are live at batch-end) — so mirror the fold FOR
          // EXACTLY THE COLLIDING KEYS (TxTable.foldDeletesFor): one
          // re-admitted key rewrites only that key's hit files, not the
          // entire standing mask's (a GDPR mirror can carry tens of
          // thousands of unrelated tombstones — re-folding them all
          // physical per colliding insert would make every
          // re-admission pay the whole mask's I/O). Non-colliding
          // masks stand and fold on their own schedule. Erasure-only
          // workloads (no re-insert ever) never pay any rewrite.
          val dk = TxTable.snapshot(dstDir).dkeys
          if (dk.nonEmpty && !inserts.isEmpty) {
            val sch = org.apache.spark.sql.types.StructType
              .fromDDL(TxTable.snapshot(dstDir).schemaDdl)
            val colliding: Map[String, Seq[String]] = dk.flatMap {
              case (c, vals) if schema.fieldNames.contains(c) =>
                val isLong = sch(c).dataType ==
                  org.apache.spark.sql.types.LongType
                val typed: Seq[Any] =
                  if (isLong) vals.map(_.toLong) else vals
                // The masked values this batch actually re-inserts —
                // micro-batch-bounded (≤ batch distinct keys ∩ mask).
                val hit = inserts.select(col(c))
                  .filter(col(c).isInCollection(typed)).distinct()
                  .collect().map(r => String.valueOf(r.get(0))).toSeq
                if (hit.isEmpty) None else Some(c -> hit)
              case _ => None
            }
            if (colliding.nonEmpty) {
              TxTable.foldDeletesFor(spark, dstDir, colliding)
              ()
            }
          }
          // INSERTS LAST; their watermark + covers commit seals the
          // batch and advances the mirrored source high-water.
          if (!inserts.isEmpty) {
            val maxV = fresh.agg(max(col(ChangeVersionCol))).head().getLong(0)
            TxTable.appendIfNew(spark, dstDir, inserts, appId, batchId,
              txnExtra = Map(CoversKey -> maxV))
            ()
          }
        }
        ()
      }
      .start()
  }

}
