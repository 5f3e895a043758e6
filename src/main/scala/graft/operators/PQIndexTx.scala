package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Trace
import graft.sources.TxTable

/** Persistent IVF-PQ index: train ONCE, encode ONCE, serve many
  * searches from the stored quantizers and codes — the deployment shape
  * of [[PQ]] (FAISS writes the trained index to disk for the same
  * reason; retraining per query, as the self-contained
  * q_embed_ivfpq_search does for its oracle, is a correctness harness,
  * not a serving plan). Searches run [[PQ.ivfSearchImpl]], the plan the
  * self-contained queries run too. The codes table is a [[TxTable]],
  * which gives the index:
  *
  *   - ATOMIC appends. A delta is one manifest claim — readers hold
  *     their snapshot, a failed append is invisible.
  *   - An O(hit-files) dupe probe. The delta's ids refine per-dir
  *     vec_id Bloom sidecars, then prune by manifest stats
  *     ([[TxTable.lookupFiles]], read by [[TxTable.scanKeys]]); a
  *     typical all-new batch proves itself fresh with ZERO stored-file
  *     reads.
  *   - Probed-cell pruning by manifest stats. Codes are range-clustered
  *     by (cell, vec_id), so per-file cell bounds make `cell IN probes`
  *     skip files, and the same files' vec_id bounds serve the dupe
  *     probe — one layout for both access paths.
  *   - Delete by id, eager ([[deleteIds]]) or as a tombstone
  *     ([[deleteIdsDeferred]]), atomic under concurrent searches.
  *   - PARTIAL compaction. Per-append delta dirs fold LSM level-0
  *     style ([[TxTable.compactDirs]]) while the base dir carries by
  *     reference — a year of hourly appends never costs a full-index
  *     rewrite.
  *   - A retrain ([[optimizeIndex]]) that installs new quantizers and
  *     re-encoded codes in one commit.
  *
  * Layout under `dir`: `coarse` (cl, c, cnsq) and `codebooks`
  * (s, code, c, cnsq) — tiny, driver-resident at search time, one pair
  * per quantizer epoch ([[quantPaths]]); `codes` is a TxTable of
  * (vec_id, nsq, cell, codes) with vec_id Blooms registered at init.
  */
object PQIndexTx {

  private def codesDir(dir: String) = s"$dir/codes"

  /** Reserved writer key in the codes manifest's `txns` map carrying
    * the index's QUANTIZER EPOCH. The quantizers (coarse centroids +
    * PQ codebooks) live OUTSIDE the codes table, so "which codebooks
    * decode these codes" must itself be versioned state or a retrain
    * could leave searches mixing new codebooks with old codes. Epoch 0
    * (key absent) is the build's `coarse`/`codebooks` pair;
    * [[optimizeIndex]] stages epoch E's retrained quantizers in fresh
    * `coarse_e$E`/`codebooks_e$E` dirs and advances this key in the
    * SAME atomic commit that installs the re-encoded codes — readers
    * resolving quantizer paths and the codes scan from one snapshot
    * can never observe a torn retrain. Riding `txns` reuses the exact
    * carry-forward discipline writer watermarks already have (every
    * commit form preserves the map; RESTORE rolls it back with the
    * data, so time travel restores the matching quantizers too). */
  private[operators] val QuantEpochKey = "__quantizers"

  private[operators] def quantEpoch(snap: TxTable.Snapshot): Long =
    snap.txns.getOrElse(QuantEpochKey, 0L)

  /** (coarsePath, codebooksPath) for `epoch` — 0 is the build layout. */
  private[operators] def quantPaths(dir: String, epoch: Long): (String, String) =
    if (epoch == 0L) (s"$dir/coarse", s"$dir/codebooks")
    else (s"$dir/coarse_e$epoch", s"$dir/codebooks_e$epoch")

  private def loadQuant(spark: SparkSession, dir: String, epoch: Long)
      : (Seq[KMeans.Cent], Seq[Seq[KMeans.Cent]]) = {
    val (cp, bp) = quantPaths(dir, epoch)
    (loadCoarseAt(spark, cp), loadCodebooksAt(spark, bp))
  }

  /** Fit the coarse quantizer + PQ codebooks on `v` (vec_id, e, nsq)
    * and persist both at the given paths — explicit paths let
    * [[optimizeIndex]] stage a retrained epoch's quantizers in fresh
    * directories and install them atomically with the re-encoded
    * codes, instead of overwriting the serving pair in place under
    * concurrent searches. */
  private[operators] def trainIVFAt(spark: SparkSession, v: DataFrame,
                                    coarsePath: String, cbsPath: String,
                                    m: Int, dsub: Int, ksub: Int, iters: Int,
                                    coarseK: Int, coarseIters: Int)
      : (Seq[KMeans.Cent], Seq[Seq[KMeans.Cent]]) = {
    // The coarse quantizer and the PQ codebooks are INDEPENDENT fits
    // over the same cached rows — overlap them (Par.par2): each fit is
    // a chain of small Lloyd jobs that leaves most of the cluster idle,
    // and the second chain back-fills those slots. Results unchanged —
    // the fits share no state.
    val (coarse, cbs) = Par.par2(KMeans.fit(v, coarseK, coarseIters))(
      PQ.fit(v.select(col("vec_id"), col("e")), m, dsub, ksub, iters))
    import spark.implicits._
    coarse.map(ct => (ct.cl, ct.c, ct.cnsq)).toDF("cl", "c", "cnsq")
      .coalesce(1).write.mode("overwrite").parquet(coarsePath)
    cbs.zipWithIndex.flatMap { case (cb, s) => cb.map(ct => (s, ct.cl, ct.c, ct.cnsq)) }
      .toDF("s", "code", "c", "cnsq")
      .coalesce(1).write.mode("overwrite").parquet(cbsPath)
    (coarse, cbs)
  }

  /** Corpus rows of `v` (vec_id, e, nsq; vec_id ≥ nq) encoded against
    * fitted quantizers: (vec_id, nsq, cell, codes) — the codes table's
    * row, and the frame [[PQ.ivfSearchImpl]] scores. */
  private[graft] def encodedIVF(v: DataFrame, coarse: Seq[KMeans.Cent],
                                cbs: Seq[Seq[KMeans.Cent]],
                                dsub: Int, nq: Int): DataFrame =
    v.filter(col("vec_id") >= nq)
      .selectExpr("vec_id", "nsq",
        s"${VectorOps.nearestCentroid(KMeans.literal(coarse), "e", "nsq")}.cl AS cell",
        s"${PQ.encodeExpr(cbs, "e", dsub)} AS codes")

  /** Stored coarse centroids, sorted by cell id. */
  private[operators] def loadCoarseAt(spark: SparkSession, path: String): Seq[KMeans.Cent] =
    spark.read.parquet(path).select(col("cl"), col("c"), col("cnsq"))
      .collect()
      .map(r => KMeans.Cent(r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_.cl).toSeq

  /** Stored PQ codebooks back as the driver-resident structure every
    * search needs (m·ksub rows — bounded by construction). */
  private[operators] def loadCodebooksAt(spark: SparkSession, path: String): Seq[Seq[KMeans.Cent]] = {
    val rows = spark.read.parquet(path)
      .select(col("s"), col("code"), col("c"), col("cnsq")).collect()
    val m = rows.map(_.getInt(0)).max + 1
    (0 until m).map(s => rows.filter(_.getInt(0) == s)
      .map(r => KMeans.Cent(r.getLong(1), r.getSeq[Double](2), r.getDouble(3)))
      .sortBy(_.cl).toSeq)
  }

  /** Test-only interleave points (the [[TxTable.checkpointGateForTest]]
    * convention): run between an operation's planning and its commit so
    * a spec can land a CONCURRENT writer deterministically in the race
    * window. No-ops in production; a spec installs a self-clearing
    * closure. */
  @volatile private[operators] var appendRaceHookForTest: () => Unit = () => ()
  @volatile private[operators] var optimizeRaceHookForTest: () => Unit = () => ()

  /** Driver bound on the manifest-planned dupe probe (the
    * [[graft.streaming.EventStore.MaxProbeKeys]] discipline): a delta
    * with more ids falls back to the exact broadcast semi-scan — the
    * old read cost, never wrong rows. */
  private[operators] val MaxProbeKeys = 100000

  /** Delta commits before [[appendIVF]] folds level-0 dirs back into
    * one (cell, vec_id)-clustered dir. */
  private[operators] val AutoCompactDirs = 16

  /** Range-cluster an encoded frame so each file covers a narrow
    * (cell, vec_id) slab: tight manifest bounds for BOTH the probed-
    * cell search scan and the vec_id dupe probe. */
  private def clustered(enc: DataFrame, files: Int): DataFrame =
    enc.repartitionByRange(math.max(1, files), col("cell"), col("vec_id"))
      .sortWithinPartitions(col("cell"), col("vec_id"))

  /** Train the quantizers on `vecs` (vec_id, e) and store them with
    * the encoded corpus (vec_id ≥ nq; the first nq ids are the query
    * ids by the family's convention and are not encoded). `files`
    * sizes the initial codes layout — default one file per coarse
    * cell, the bound that makes an nprobe-cell search read ~nprobe
    * files. */
  def buildIVF(spark: SparkSession, vecs: DataFrame, dir: String,
               m: Int, dsub: Int, ksub: Int, iters: Int, nq: Int,
               coarseK: Int, coarseIters: Int, files: Int = 0): Unit = {
    val v = vecs.select(col("vec_id"), col("e"))
      .selectExpr("vec_id", "e", s"${VectorOps.normSq("e")} AS nsq")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cp, bp) = quantPaths(dir, 0L)
    val (coarse, cbs) = trainIVFAt(spark, v, cp, bp, m, dsub, ksub, iters,
      coarseK, coarseIters)
    val enc = encodedIVF(v, coarse, cbs, dsub, nq)
    val cd = codesDir(dir)
    TxTable.init(spark, cd, enc.schema, bloomCols = Seq("vec_id"))
    TxTable.append(spark, cd, clustered(enc, if (files > 0) files else coarseK))
    v.unpersist()
  }

  /** Incremental maintenance with the STORED quantizers (training is
    * not repeated — FAISS's add() vs train() split), as one atomic
    * delta commit. The double-append guard reads O(hit files): delta
    * ids within [[MaxProbeKeys]] probe the table's Bloom sidecars and
    * manifest stats instead of scanning the stored codes (the
    * fallback here for over-bound deltas). Probe and append pin ONE
    * evaluation of `vecs` (local checkpoint), so a nondeterministic
    * delta can't pass the probe with one row set and land another. Optimistic against racing
    * commits: the delta commit claims exactly the PROBED snapshot's
    * successor, and a lost race re-probes against the fresh snapshot
    * before re-claiming — concurrent appenders of the same vec_id
    * still serialize to one winner, never a silent duplicate. Past
    * [[AutoCompactDirs]] delta dirs the table folds level-0 style. */
  def appendIVF(spark: SparkSession, vecs: DataFrame, dir: String,
                dsub: Int, nq: Int = 0, files: Int = 1): Unit = {
    appendImpl(spark, vecs, dir, dsub, nq, files, txn = None)
    ()
  }

  /** True iff any delta id is currently TOMBSTONED on the codes table
    * — the erase-then-re-add collision [[appendImpl]] must fold before
    * committing. Driver check when the delta's ids are already in hand
    * (the probe's bounded collect); one distributed membership filter
    * otherwise (the mask itself is bounded by TxTable.MaxTombstones). */
  private def collidesWithMask(spark: SparkSession, delta: DataFrame,
                               idRows: Array[org.apache.spark.sql.Row],
                               snap: TxTable.Snapshot): Boolean = {
    val masked = snap.dkeys.getOrElse("vec_id", Nil)
    if (masked.isEmpty) return false
    val maskedSet = masked.map(_.toLong).toSet
    if (idRows.length <= MaxProbeKeys)
      idRows.exists(r => maskedSet(r.getLong(0)))
    else !delta.select(col("vec_id"))
      .filter(col("vec_id").isInCollection(maskedSet)).isEmpty
  }

  /** The shared append core — pin, probe, optimistic commit loop,
    * level-0 fold — parameterized by the optional SetTransaction
    * watermark ([[appendIVF]] passes none; [[appendIVFIfNew]] its
    * (appId, batchId)). ONE body: the fold and probe-bound logic must
    * not be able to drift between the batch and streaming paths. */
  private def appendImpl(spark: SparkSession, vecs: DataFrame, dir: String,
                         dsub: Int, nq: Int, files: Int,
                         txn: Option[(String, Long)],
                         txnExtra: Map[String, Long] = Map.empty): Boolean = {
    val cd = codesDir(dir)
    def replayed(snap: TxTable.Snapshot): Boolean = txn.exists {
      case (appId, batchId) => snap.txns.get(appId).exists(_ >= batchId)
    }
    val snap0 = TxTable.snapshot(cd)
    if (replayed(snap0)) return false
    var loadedEpoch = quantEpoch(snap0)
    var (coarse, cbs) = loadQuant(spark, dir, loadedEpoch)
    val delta0 = vecs.select(col("vec_id"), col("e"))
      .filter(col("vec_id") >= nq)
    val (delta, deltaRdd) =
      org.apache.spark.sql.graft.InternalCheckpoint.pin(spark, delta0)
    var applied = false
    // Encode ONCE per (re-)encode: clustered()'s RangePartitioner
    // sampling pass would otherwise evaluate the heavy encode
    // expression (coarse argmin + m per-subspace argmins per row)
    // twice — once sampling, once writing. Pinned at the internal row
    // level; superseded pins (epoch-drift re-encodes) release eagerly.
    var encRdd: org.apache.spark.rdd.RDD[_] = null
    try {
      val idRows = delta.select(col("vec_id")).limit(MaxProbeKeys + 1).collect()
      def encode() = {
        if (encRdd != null) encRdd.unpersist(blocking = false)
        val (df, h) = org.apache.spark.sql.graft.InternalCheckpoint.pin(spark,
          encodedIVF(
            delta.selectExpr("vec_id", "e", s"${VectorOps.normSq("e")} AS nsq"),
            coarse, cbs, dsub, nq))
        encRdd = h
        clustered(df, files)
      }
      var enc = encode()
      var done = false
      while (!done) {
        val snap = TxTable.snapshot(cd)
        if (replayed(snap)) done = true // lost the race to our own replay: no-op
        else if (quantEpoch(snap) != loadedEpoch) {
          // A retrain ([[optimizeIndex]]) landed since the quantizers
          // were loaded: codes encoded against the OLD epoch would be
          // decoded by the NEW codebooks' LUTs — silently wrong ADC for
          // every later search. Reload the snapshot's quantizers and
          // re-encode before re-claiming. (The commit below claims
          // snap.version + 1, so a retrain landing after this check
          // surfaces as ConcurrentCommitException and re-enters here —
          // stale-epoch codes can never land.)
          loadedEpoch = quantEpoch(snap)
          val q = loadQuant(spark, dir, loadedEpoch)
          coarse = q._1; cbs = q._2
          enc = encode()
        }
        else if (collidesWithMask(spark, delta, idRows, snap)) {
          // FAISS `remove_ids` + `add(id)` parity: a delta id under an
          // OPEN tombstone would pass the dupe probe (the mask hides
          // the old row) and LAND — but serve nothing, because the
          // scan-level mask suppresses the new row too. Fold the mask
          // physical first (pruned, O(hit files)) and re-plan; the
          // re-added vector then serves immediately, exactly like
          // FAISS. Rare path: only an erase-then-re-add of the same id
          // inside one fold window reaches it. (The fold's rewrite dir
          // is vec_id-clustered; the (cell, vec_id) layout re-tightens
          // at the next compactIVF/auto-compaction, a perf-conservative
          // window, never a correctness one.)
          TxTable.foldDeletes(spark, cd)
        }
        else {
          val dupes =
            if (idRows.length > MaxProbeKeys)
              TxTable.read(spark, cd, snap).select(col("vec_id"))
                .join(broadcast(delta.select(col("vec_id"))), Seq("vec_id"), "left_semi")
                .count()
            else if (idRows.isEmpty) 0L
            else {
              val ids = idRows.toSeq.map(_.getLong(0))
              TxTable.scanKeys(spark, snap, "vec_id", ids,
                TxTable.lookupFiles(cd, snap, "vec_id", ids)).count()
            }
          require(dupes == 0L,
            s"appendIVF: $dupes delta vec_ids already encoded in $cd")
          appendRaceHookForTest()
          try {
            TxTable.commit(spark, cd, enc, snap, keepExisting = true,
              txnUpdate = txn.map { case (a, b) => a -> b }.toMap ++ txnExtra)
            applied = true
            done = true
          } catch { case _: TxTable.ConcurrentCommitException => () } // re-probe
        }
      }
    } finally {
      if (encRdd != null) encRdd.unpersist(blocking = false)
      deltaRdd.unpersist(blocking = false)
    }
    if (applied) {
      val after = TxTable.snapshot(cd)
      if (after.dirs.size > AutoCompactDirs)
        try compactOnce(spark, cd, after)
        catch { case _: TxTable.ConcurrentCommitException => () } // next append retries
    }
    applied
  }

  /** [[appendIVF]] with the SetTransaction replay guard
    * ([[TxTable.appendIfNew]]'s discipline) — the form a foreachBatch
    * index maintainer calls: the encoded delta and writer `appId`'s
    * watermark advance to `batchId` land in ONE atomic commit, so a
    * micro-batch replayed after a crash between commit and engine
    * checkpoint NO-OPS (returns false) instead of tripping the
    * double-append guard — streaming ANN index maintenance without a
    * side-channel marker. Batch ids must be monotone per appId —
    * Spark's micro-batch ids are. The dupe probe still runs for
    * genuinely new batches (a replay skips it entirely: the watermark
    * check needs only the manifest already in hand). Applied batches
    * fold level-0 dirs past [[AutoCompactDirs]] exactly as
    * [[appendIVF]] does — a 10-second-trigger maintainer must not
    * fragment the index one dir per micro-batch forever. */
  def appendIVFIfNew(spark: SparkSession, vecs: DataFrame, dir: String,
                     dsub: Int, appId: String, batchId: Long,
                     nq: Int = 0, files: Int = 1,
                     txnExtra: Map[String, Long] = Map.empty): Boolean =
    appendImpl(spark, vecs, dir, dsub, nq, files, txn = Some((appId, batchId)),
      txnExtra = txnExtra)

  /** IVF-ADC search ([[PQ.ivfSearchImpl]]) against the stored index;
    * the codes scan reads only the files whose manifest (cell, …)
    * bounds intersect the probed cells — [[TxTable.lookupFiles]] and
    * [[TxTable.scanKeys]] on the cell column. Quantizers and
    * codes resolve from ONE snapshot: the manifest's epoch key names
    * the quantizer dirs that encoded exactly this snapshot's codes, so
    * a concurrent [[optimizeIndex]] flips a search atomically from
    * (old quantizers, old codes) to (new, new) — never a mix. */
  def searchIVF(spark: SparkSession, dir: String, queries: DataFrame,
                rerankVecs: DataFrame, dsub: Int, nprobe: Int,
                shortlist: Int, topK: Int): DataFrame = {
    val cd = codesDir(dir)
    val snap = TxTable.snapshot(cd)
    val (coarse, cbs) = loadQuant(spark, dir, quantEpoch(snap))
    PQ.ivfSearchImpl(queries, rerankVecs, dsub, nprobe,
      shortlist, topK, coarse, cbs) { allCells =>
      TxTable.scanKeys(spark, snap, "cell", allCells,
        TxTable.lookupFiles(cd, snap, "cell", allCells))
    }
  }

  /** Remove vectors BY ID — FAISS's `remove_ids` for the stored index,
    * as one carry-by-reference keyed replace
    * ([[graft.sources.PrunedReplace]]): only the files whose manifest
    * bounds and Bloom sidecars admit a removed id are read and
    * rewritten; every other file carries untouched — O(hit files) I/O
    * regardless of index size, atomic under concurrent searches (they
    * hold their snapshot). A deleted id can be re-appended afterwards:
    * carried Blooms over-approximate (false positives only), so the
    * dupe probe's exact check on the hit files arbitrates. Returns
    * (rewrittenFiles, totalFiles). */
  def deleteIds(spark: SparkSession, dir: String, ids: Seq[Long]): (Long, Long) = {
    val cd = codesDir(dir)
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL(TxTable.snapshot(cd).schemaDdl)
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val st = graft.sources.PrunedReplace.stageReplaceWith(
      spark, cd, "vec_id", ids.toArray)(_ => empty)
    st.commit()
    // The replace stages its rewrite dir clustered on vec_id only —
    // restore the (cell, vec_id) layout the probed-cell scan prunes by,
    // folding EXACTLY the staged dir (the uuid pins it: a snapshot diff
    // could catch a concurrent appender's dirs; without the fold, the
    // steady-state compaction guard would rightly skip a lone level-0
    // dir and the rewrite would stay cell-unclustered forever). Skip
    // when the replace hit nothing worth re-laying (no files staged).
    val files = java.nio.file.Files.list(
      java.nio.file.Paths.get(TxTable.stagedPath(cd, st.uuid)))
    val n = try files.iterator().asScala.count(_.toString.endsWith(".parquet"))
            finally files.close()
    if (n > 0)
      try {
        val snap = TxTable.snapshot(cd)
        if (snap.dirs.contains(st.uuid))
          TxTable.compactDirs(spark, cd, snap, Seq(st.uuid))(clustered(_, n))
      } catch { case _: TxTable.ConcurrentCommitException => () } // next fold repairs
    (st.rewrittenFiles, st.totalFiles)
  }

  /** [[deleteIds]]' DEFERRED twin — FAISS `remove_ids` as a TxTable
    * key tombstone: ONE metadata commit, zero code files read or
    * rewritten; every search excludes the ids through the scan-level
    * mask ([[TxTable.applyDeletes]] inside the lookup the probed-cell
    * scan already uses), and the next [[TxTable.foldDeletes]] (or any
    * rewrite touching the hit files — [[compactIVF]] folds masked rows
    * away for free) makes it physical. The serving trade: an erasure
    * or recall-pruning request costs one commit at any index size,
    * deferred into the OPTIMIZE window the deployment already runs.
    * Re-add after erase is FAISS `add(id)`-parity: an append whose
    * delta collides with an open tombstone folds the mask physical
    * first (see [[appendImpl]]), so the re-added vector serves
    * immediately instead of being suppressed until a manual fold. */
  def deleteIdsDeferred(dir: String, ids: Seq[Long]): Long =
    TxTable.deleteKeysDeferred(codesDir(dir), "vec_id", ids).version

  /** The codes table's committed watermark for writer `appId`
    * ([[appendIVFIfNew]]'s seal) — CDC consumers probe it as their
    * whole-batch replay guard: with deletes applied BEFORE the append,
    * a recorded batch proves the deletes of that batch ran too, so the
    * replay must skip them (re-masking would erase the very rows the
    * original run's collision fold re-admitted). */
  def lastBatch(dir: String, appId: String): Option[Long] =
    TxTable.txnVersion(codesDir(dir), appId)

  /** PARTIAL OPTIMIZE of the codes table: fold every level-0 dir (all
    * but the largest) into one (cell, vec_id)-clustered dir, carrying
    * the base by reference — O(accumulated deltas) I/O, never a
    * full-index rewrite. Loops past racing appends (each retry
    * re-plans against the fresh snapshot). Returns live file counts
    * (before, after). */
  def compactIVF(spark: SparkSession, dir: String,
                 targetBytes: Long = 128L * 1024 * 1024): (Long, Long) = {
    val cd = codesDir(dir)
    def fileCount = TxTable.dataFiles(cd, TxTable.snapshot(cd)).size.toLong
    val before = fileCount
    var done = false
    while (!done) {
      val snap = TxTable.snapshot(cd)
      if (TxTable.levelZeroDirs(cd, snap).isEmpty) done = true
      else
        try { compactOnce(spark, cd, snap, targetBytes); done = true }
        catch { case _: TxTable.ConcurrentCommitException => () } // re-plan
    }
    (before, fileCount)
  }

  /** One level-0 fold against `snap`: bin the folded bytes into
    * ceil(bytes / targetBytes) files. Range clustering keeps each
    * bin's (cell, vec_id) bounds narrow, so compaction preserves the
    * pruning the append-time layout established. NO-OP (no commit)
    * when the fold cannot improve anything — one level-0 dir already
    * at its bin-packed file count is this compaction's own output, and
    * refolding it every scheduled call would rewrite the accumulated
    * delta for nothing. */
  private def compactOnce(spark: SparkSession, cd: String,
                          snap: TxTable.Snapshot,
                          targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val fold = TxTable.levelZeroDirs(cd, snap)
    if (fold.isEmpty) return
    val foldSet = fold.toSet
    val foldFiles = TxTable.dataFiles(cd, snap)
      .filter(f => foldSet(f._1.getParent.getFileName.toString))
    // sizeOrZero, not Files.size: a concurrent vacuum retiring an
    // excluded file between the listing and this stat must re-plan as
    // "0 bytes", not throw (same list-then-stat race EventStore
    // .compactFacts tolerates with the same helper).
    val foldBytes = foldFiles.map(f => TxTable.sizeOrZero(f._1)).sum
    val parts = math.max(1L, (foldBytes + targetBytes - 1) / targetBytes).toInt
    if (fold.size == 1 && foldFiles.size <= parts) return
    TxTable.compactDirs(spark, cd, snap, fold)(clustered(_, parts))
    ()
  }

  /** DEEP OPTIMIZE: RETRAIN the coarse quantizer and PQ codebooks from
    * the LIVE vectors and re-encode every live code — converging the
    * index to exactly what a from-scratch [[buildIVF]] of the live
    * corpus produces (FAISS's retrain/rebuild, the scheduled window
    * every ANN deployment runs).
    *
    * Why a separate tier (the ADR [[DedupIndex.optimizeIndex]] wrote
    * for dedup, mirrored here): [[appendIVF]] encodes deltas with the
    * STORED quantizers — correct, replay-safe, and O(delta) — but
    * under distribution shift the coarse cells and codebooks drift
    * from the live corpus and recall decays with no scheduled fix;
    * deletes make it worse (cells hollow out, centroids sit on erased
    * mass). No per-append delta job can repair that: re-centering the
    * quantizers invalidates EVERY stored code, so the repair is
    * corpus-shaped by construction and belongs in its own tier.
    *
    * Mechanics — ONE atomic commit, lock-free against writers:
    *   - `vecs` is the vector source searches already rerank from;
    *     live ids come from the planning snapshot's codes (standing
    *     key tombstones are excluded by the masked read, and the
    *     whole-table replace commit folds them away by definition —
    *     erasure becomes physical here for free). A live id missing
    *     from `vecs` fails LOUDLY: a retrain must never silently
    *     shrink the index.
    *   - Epoch E's quantizers stage in FRESH dirs ([[quantPaths]]);
    *     nothing points at them until the codes commit installs
    *     [[QuantEpochKey]] → E. Searches resolve quantizers and codes
    *     from one snapshot, so the flip is atomic for readers.
    *   - The commit claims the PLANNING snapshot's successor: an
    *     append/delete landing in between surfaces as
    *     ConcurrentCommitException and the optimize RE-PLANS from the
    *     fresh snapshot (its rows join the retrain) — a racing writer
    *     is never clobbered, no single-writer convention needed. The
    *     converse race is closed in [[appendImpl]]: an append that
    *     loses to a retrain detects the epoch drift and re-encodes.
    *   - Writer watermarks survive (the commit carries `txns` forward
    *     minus nothing), so streaming maintainers' replay guards hold
    *     across the retrain; RESTORE rolls epoch and codes back
    *     together, reviving the matching old quantizers.
    *
    * Returns per-phase wall timings (also recorded in [[graft.Trace]]
    * under an `opt_` prefix for the bench/sweep artifacts): `plan`
    * (live-id read + coverage check), `train` (coarse + PQ Lloyd
    * fits), `encode_commit` (re-encode, cluster, manifest claim),
    * plus `replan_lost_race` time when contended. */
  def optimizeIndex(spark: SparkSession, vecs: DataFrame, dir: String,
                    m: Int, dsub: Int, ksub: Int, iters: Int, nq: Int,
                    coarseK: Int, coarseIters: Int, files: Int = 0)
      : Seq[(String, Double)] = {
    val cd = codesDir(dir)
    val clock = Trace.clock("opt_")
    var done = false
    while (!done) {
      val snap = TxTable.snapshot(cd)
      val epoch = quantEpoch(snap) + 1
      val (cp, bp) = quantPaths(dir, epoch)
      val live = TxTable.read(spark, cd, snap).select(col("vec_id"))
      // Training input mirrors buildIVF's: the query-id rows (< nq,
      // never encoded) plus the LIVE corpus rows — so the fixed point
      // is literally a fresh build of the live corpus.
      val v = vecs.select(col("vec_id"), col("e"))
        .filter(col("vec_id") < nq)
        .unionByName(
          vecs.select(col("vec_id"), col("e")).filter(col("vec_id") >= nq)
            .join(live, Seq("vec_id"), "left_semi"))
        .selectExpr("vec_id", "e", s"${VectorOps.normSq("e")} AS nsq")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // Coverage counts: the corpus-side count (which materializes
        // `v`'s cache) and the live-id count are independent chains —
        // overlapped (Par.par2, §2.6).
        val (nLive, nCorpus) = Par.par2(live.count())(
          v.filter(col("vec_id") >= nq).count())
        require(nCorpus == nLive,
          s"optimizeIndex: vector source covers $nCorpus of $nLive live " +
            s"ids in $cd — retraining would silently drop the uncovered vectors")
        clock.mark("plan")
        val (coarse, cbs) = trainIVFAt(spark, v, cp, bp,
          m, dsub, ksub, iters, coarseK, coarseIters)
        clock.mark("train")
        // Pin the re-encode (see appendImpl): the clustered write's
        // range-sampling pass must not evaluate the whole-corpus encode
        // expression a second time.
        val (encDf, encRdd) = org.apache.spark.sql.graft.InternalCheckpoint.pin(
          spark, encodedIVF(v, coarse, cbs, dsub, nq))
        val enc = clustered(encDf, if (files > 0) files else coarseK)
        optimizeRaceHookForTest()
        try {
          TxTable.commit(spark, cd, enc, snap,
            txnUpdate = Map(QuantEpochKey -> epoch))
          clock.mark("encode_commit")
          done = true
        } catch { case _: TxTable.ConcurrentCommitException =>
          // A writer landed since planning: re-plan from the fresh
          // snapshot so its rows join the retrain. Loses nothing —
          // contention in a scheduled window is rare, and each retry
          // pays one retrain, never silent clobber.
          clock.mark("replan_lost_race")
        } finally encRdd.unpersist(blocking = false)
      } finally v.unpersist()
    }
    clock.phases
  }

  private def basePath(dir: String) = java.nio.file.Paths.get(dir, "BASE_VERSION")

  /** Record the codes table's CURRENT version as the [[restoreBase]]
    * point — [[DedupIndex.markBase]]'s shape for the ANN index: lets a
    * benchmark replay the erase→append→retrain lifecycle repeatedly
    * against an identical base with one manifest-only commit per reset. */
  def markBase(dir: String): Unit = {
    java.nio.file.Files.writeString(basePath(dir),
      TxTable.snapshot(codesDir(dir)).version.toString)
    ()
  }

  /** Reset the codes table to the [[markBase]] point (Delta RESTORE —
    * manifest-only; data stays until vacuum). The quantizer EPOCH rolls
    * back with the manifest's `txns`, so searches immediately serve the
    * base epoch's quantizer dirs again — a restored index is consistent
    * by the same one-snapshot rule as every other reader. */
  def restoreBase(spark: SparkSession, dir: String): Unit = {
    val v = java.nio.file.Files.readString(basePath(dir)).trim.toLong
    TxTable.restore(spark, codesDir(dir), v)
    ()
  }
}
