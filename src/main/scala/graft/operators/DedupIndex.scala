package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalCheckpoint
import org.apache.spark.storage.StorageLevel

import graft.Trace
import graft.sources.TxTable

/** Persistent, INCREMENTALLY MAINTAINED text near-dup index: the
  * lifecycle form of the n-gram Jaccard pipeline in
  * queries/DedupQueries.scala. `build` mines a corpus once and persists
  * the DF-capped shingle index, the verified pairs, and the dedup
  * components as parquet stage tables; `append` ingests a new slice by
  * mining ONLY new×all candidates — the existing corpus is never
  * re-paired — and folds the new pairs into the stored components by
  * re-running min-label propagation on the AFFECTED components only.
  *
  * This is the dedup-on-ingest shape of the reference's `INSERT IGNORE`
  * loader (reference init/mysql_loader.py:435-439 — incremental by
  * construction because MySQL keeps the unique index current per row);
  * at 100 TB a crawl slice lands as a delta batch, and re-mining the
  * whole corpus per slice (what a session-scoped stage forces) is the
  * difference between an hourly ingest and an impossible one. The
  * embedding twin is [[PQIndexTx.appendIVF]] (FAISS's add()/train()
  * split); this is the text side.
  *
  * Append-path parity with full recompute is EXACT, including the one
  * subtle case: a shingle whose document frequency crosses the cap
  * BECAUSE of the delta (rare → hot). Full recompute would drop it from
  * the index, which can retroactively de-candidate a stored pair whose
  * only shared rare shingles all went hot. `append` detects those
  * shingles, rechecks just the stored pairs whose BOTH endpoints carried
  * one (a pair can only lose candidacy through a shingle both docs
  * contain, so the recheck set is bounded by the delta), and drops the
  * ones with no surviving rare witness — byte-for-byte the pairs a
  * from-scratch mine of the final corpus produces (spec-asserted, and
  * the q_dedup_incremental oracle replays full-corpus semantics).
  *
  * Layout under `dir` (each a [[TxTable]] — manifest-commit versioning,
  * so appends are atomic across readers and [[markBase]]/[[restoreBase]]
  * get Delta-RESTORE time travel for free):
  *   - `docs`:       (doc_id, shs array<string>) — per-doc shingle sets
  *     (the verify join's input; one append commit per delta).
  *   - `groups`:     (sh, ids array<bigint> | NULL, df bigint) — the
  *     DF-capped inverted index WITH the true document frequency: `df`
  *     is what lets an append decide rare/hot for the MERGED corpus
  *     without recounting it. Stored LSM-style as per-delta SEGMENTS
  *     (one row per segment × shingle); the logical view is the
  *     associative per-shingle fold `mergeSegments`, and
  *     [[compactGroups]] is the scheduled segment OPTIMIZE.
  *   - `pairs`:      (a, b, jaccard) — verified near-dup pairs.
  *   - `components`: (doc_id, component) — min-label dedup clusters.
  */
object DedupIndex {

  /** Driver bound for the pruned component replace's affected-doc
    * collect; above it the append falls back to a full components
    * rewrite (a delta touching that much of the corpus approaches one
    * anyway). */
  private val MaxReplaceKeys = 100000

  /** Driver bound for the delta's SHINGLE-key collect that plans the
    * old-segment pruned scan (a shingle is ~tens of bytes, so 1M keys
    * is ~tens of MB of driver heap — cheap next to the corpus pass it
    * replaces). Above it the append falls back to the full
    * broadcast-semi scan of the stored index. */
  private val MaxLookupKeys = 1000000

  /** Bound on the per-row residue-strip set ([[append]]'s re-admission
    * path): array_except builds its probe set per row, so the strip is
    * only cheap while the residual-id set stays small; past the bound
    * the append escapes to the groups OPTIMIZE purge instead. The
    * escape SWITCHES the df model for that append from instance-counted
    * to the purge's live-reset df (a rebuild-scale re-admission mines
    * under the same live df a scheduled OPTIMIZE would leave) — both
    * models are pinned by DedupReadmitModelSpec, and the escape branch
    * itself by its low-bound seam test (which lowers the bound through
    * [[append]]'s `residueStripKeys` parameter — no mutable global). */
  private[operators] val ResidueStripKeys = 10000

  /** Default segment cap before [[append]] self-schedules compaction.
    * Every read folds all live segments ([[mergeSegments]]) and every
    * append broadcast-semi-scans them, so an unbounded append stream
    * would degrade reads linearly in appends — the same reason every
    * LSM bounds its level-0 file count. 8 keeps the common
    * restore-append bench shape (1 base + 1 delta) far below the
    * trigger while capping a long ingest stream's read amplification. */
  val AutoCompactSegments = 8

  /** Max files per appended LSM segment (see the stage-write coalesce
    * in [[append]]). */
  private val SegmentFiles = 8

  /** Files for a staged LSM segment, derived from the delta's row count
    * when the bounded collect knows it (guide §6: size output files to
    * the data, not a constant): a small delta lands as ONE file instead
    * of a fixed 8-way split — fewer footers per commit-time harvest,
    * fewer files every future fold, listing and pruned scan enumerates —
    * while a large delta still fans out toward the fixed level-0 cap so
    * segment files stay splittable-read-sized. `rowsPerFile` scales per
    * table shape (docs/groups rows carry KB-sized arrays; pairs rows are
    * 24 bytes). Unknown (over-driver-bound) deltas keep the fixed cap. */
  private def segmentFiles(rows: Long, rowsPerFile: Long): Int =
    if (rows < 0) SegmentFiles
    else math.max(1, math.min(SegmentFiles.toLong,
      (rows + rowsPerFile - 1) / rowsPerFile).toInt)

  /** Pair expansion over capped groups: every a<b pair inside each
    * rare group, with `c_rare` = number of groups the pair shares.
    * Groups are ≤ cap ids by construction, so this is a bounded
    * map-side array op (shared with DedupQueries.pairCounts — the
    * one-shot pipeline and the index build mine identically). */
  private[graft] def pairCounts(grouped: DataFrame): DataFrame =
    grouped
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .selectExpr("""explode(flatten(transform(ids,
        (a, i) -> transform(slice(ids, i + 2, size(ids)),
                            b -> named_struct('a', a, 'b', b))))) AS p""")
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c_rare"))

  /** DF-capped index with true document frequency, one shuffle:
    * `graft_collect_capped` bounds aggregation state at cap+1 ids (hot
    * shingles collapse to NULL inside the aggregate), `count` rides the
    * same grouping. `inv` rows must be distinct (doc_id, sh) — true for
    * shingle sets — so df is the document frequency. */
  private def groupsWithDf(inv: DataFrame, cap: Int): DataFrame =
    inv.groupBy(col("sh"))
      .agg(expr(s"graft_collect_capped(doc_id, $cap)").as("ids"),
        count(lit(1)).as("df"))

  private def inv(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", "explode(shs) AS sh")

  /** Bounded-key, manifest-planned read of a stage table: when the
    * collected key rows fit the driver bound, read ONLY the files whose
    * manifest bounds intersect the keys ([[TxTable.lookupFiles]] —
    * Bloom absence proof where registered, then stats pruning);
    * otherwise hand back `fallback`, the full scan the pruned read
    * replaces. Pruning is file-granular and CONSERVATIVE (a pruned file
    * provably holds no key), so the caller's row-level semi-join
    * applies identically to either side. One definition for the four
    * per-append reads that use the shape. */
  /** Below this live-file count the manifest-planned STRING-keyed
    * pruned read is pure overhead: its planning collect (up to
    * [[MaxLookupKeys]] shingle strings — the round-12 A/B measured the
    * collect + per-dir refinement at ~0.4 s per append at sf0.1,
    * against 8-file tables where pruning can save at most a few MB of
    * page-cache-hot reads) costs more driver time than brute-scanning
    * every file. Above it — any real deployment; a 100 TB table holds
    * millions of files — the same planning is what turns an O(corpus)
    * read into O(hit files). The gate runs BEFORE the key collect
    * (`keyRows` is by-name), so the skipped path pays only a manifest
    * listing. LONG-keyed reads are deliberately UNgated: their key
    * sets are candidate-endpoint-sized (hundreds — the collect is
    * driver-cheap at any bound) and the pushed IN predicate's
    * row-group skipping on the doc_id-clustered table beats the brute
    * scan even at few files (fetch ~1.2 s pruned vs ~2.1 s brute in
    * the same A/B). A `var` solely so the spec can force the pruned
    * string branch on its small fixtures (every test table is under
    * the production threshold). */
  private[operators] var MinPruneFiles = 64

  private def prunedByLongKeys(spark: SparkSession, table: String,
      snap: TxTable.Snapshot, keyCol: String,
      keyRows: => Array[org.apache.spark.sql.Row], bound: Int,
      fallback: => DataFrame): DataFrame = {
    val kr = keyRows
    if (kr.length > bound) fallback
    else {
      val keys = kr.toSeq.map(_.getLong(0))
      val hits = TxTable.lookupFiles(table, snap, keyCol, keys)
      if (hits.isEmpty) fallback.limit(0)
      // applyDeletes on the direct file scan (identity when dkeys is
      // empty — the hot path): deleteKeysDeferred is public API on any
      // TxTable, and a tombstoned docs/groups table must not feed
      // resurrected rows into the append, exactly as the lookupKeys/
      // EventStore consumers of the same planning already guarantee.
      else TxTable.applyDeletes(spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(snap.schemaDdl))
        .parquet(hits.map(_.toString): _*)
        // The IN predicate is the point at toy file counts: row-group
        // skipping inside the (doc_id-clustered) hit files. Exactness
        // is unchanged — callers re-filter row-level (semi-joins).
        .filter(col(keyCol).isInCollection(keys)), snap)
    }
  }

  /** [[prunedByLongKeys]] on STRING keys (sstats bounds). */
  private def prunedByStringKeys(spark: SparkSession, table: String,
      snap: TxTable.Snapshot, keyCol: String,
      keyRows: => Array[org.apache.spark.sql.Row], bound: Int,
      fallback: => DataFrame): DataFrame =
    if (TxTable.dataFilesString(table, snap).size <= MinPruneFiles) fallback
    else {
      val kr = keyRows
      if (kr.length > bound) fallback
      else {
        val hits = TxTable.lookupStringFiles(table, snap, keyCol,
          kr.toSeq.map(_.getString(0)))
        if (hits.isEmpty) fallback.limit(0)
        // Tombstone mask on the direct scan — same contract as the
        // long-keyed twin above; identity when the table has no dkeys.
        else TxTable.applyDeletes(spark.read
          .schema(org.apache.spark.sql.types.StructType.fromDDL(snap.schemaDdl))
          .parquet(hits.map(_.toString): _*), snap)
      }
    }

  /** Exact-Jaccard verify of candidate pairs against the full shingle
    * sets (the step that DEFINES the output; candidates only gate what
    * gets verified). */
  private def verify(cands: DataFrame, docs: DataFrame): DataFrame =
    cands
      .join(docs.select(col("doc_id").as("a"), col("shs").as("sa")), "a")
      .join(docs.select(col("doc_id").as("b"), col("shs").as("sb")), "b")
      .withColumn("c", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        round(col("c") / (size(col("sa")) + size(col("sb")) - col("c")).cast("double"), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("a"), col("b"), col("jaccard"))

  /** The COUNT-based Jaccard upper bound that must kill almost every
    * candidate BEFORE the exact verify (the candidate set is
    * quadratic-ish in bucket sizes while true matches are rare — the
    * verify join must never run on raw candidates; see
    * DedupQueries.jaccardMatches, whose bound this generalizes).
    * `cands` carries (a, b, c_rare) where c_rare counts shared shingles
    * within some KNOWN-rare group family; `known` gives each doc's
    * count `kc` of its shingles in that family, so a pair's true
    * intersection c satisfies c ≤ c_rare + min(sz_a−kc_a, sz_b−kc_b) —
    * it can only beat the counted overlap via shingles OUTSIDE the
    * counted family — and J ≤ J(c_ub) since J is increasing in c.
    * round(J,6) ≥ 0.5 ⇒ J ≥ 0.4999995 ≫ 0.499999: zero recall loss. */
  private[graft] def boundedVerify(cands: DataFrame, docs: DataFrame,
                                   known: DataFrame): DataFrame = {
    val meta = docs.select(col("doc_id"), size(col("shs")).cast("long").as("sz"))
      .join(known, Seq("doc_id"), "left")
      .select(col("doc_id"), col("sz"),
        (col("sz") - coalesce(col("kc"), lit(0L))).as("o"))
    val survivors = cands
      .join(meta.select(col("doc_id").as("a"), col("sz").as("sza"), col("o").as("oa")), Seq("a"))
      .join(meta.select(col("doc_id").as("b"), col("sz").as("szb"), col("o").as("ob")), Seq("b"))
      .withColumn("cub", col("c_rare") + least(col("oa"), col("ob")))
      .filter(col("cub") / (col("sza") + col("szb") - col("cub")) >= 0.499999)
      .select(col("a"), col("b"))
    verify(survivors, docs)
  }

  /** Driver min-label union-find over collected (src, dst) edge rows:
    * roots union min-first, so the final root of every tree is its
    * component's minimum member — exactly the distributed
    * propagation's label. The dedup pair graph is verified-near-dup
    * edges (clusters are small), so whenever it collects under
    * [[MaxReplaceKeys]] this replaces several scheduler rounds of
    * iterative label joins with microseconds of driver work; callers
    * keep [[GraphOps.connectedComponents]] as the over-bound path. */
  private def unionFindLabels(rows: Array[org.apache.spark.sql.Row]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { e =>
      val a = e.getLong(0); val b = e.getLong(1)
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toArray.map(x => (x, find(x)))
  }

  /** Mine + persist the full index for `docs` (doc_id, shs; shingles
    * distinct per doc). Candidate generation and verification follow
    * the one-shot pipeline exactly (DF cap before pair expansion, exact
    * Jaccard on full sets — see DedupQueries for the scale rationale). */
  /** Init-if-needed + overwrite: one atomic manifest commit per stage
    * table (build has no concurrent readers to protect, but the same
    * primitive everywhere keeps the lifecycle uniform). */
  private def putTable(spark: SparkSession, dir: String, df: DataFrame,
                       bloomCols: Seq[String] = Nil): Unit = {
    if (!TxTable.exists(dir)) TxTable.init(spark, dir, df.schema, bloomCols)
    TxTable.overwrite(spark, dir, df)
    ()
  }

  def build(spark: SparkSession, docs: DataFrame, dir: String, cap: Int,
            maxIter: Int = 20): Unit = Trace.timed("build") {
    val d = docs.select(col("doc_id"), col("shs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // doc_id blooms: the unique-index membership probe behind append's
    // dupe check (see there) — every commit of this table harvests one
    // per data dir. doc_id-range-clustered so the manifest stats give
    // each file a tight id interval — what makes append's dupe probe
    // and candidate-endpoint fetch O(hit files) instead of O(corpus).
    // The docs and groups writes are INDEPENDENT of the pair mine (it
    // reads the caches, never the tables) — overlapped as background
    // jobs (§2.6), joined before return; build has no concurrent
    // readers to protect, so write order across the four tables is
    // free. Shared-cache fills race safely (block-level locks).
    implicit val buildEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val docsF = scala.concurrent.Future {
      putTable(spark, s"$dir/docs",
        d.repartitionByRange(col("doc_id")).sortWithinPartitions(col("doc_id")),
        bloomCols = Seq("doc_id"))
    }
    val grouped = groupsWithDf(inv(d), cap)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // sh-range-clustered: tight per-file sstats bounds are what let
    // every future append's old-side scan prune to the files its delta
    // shingles hit (see the manifest-planned read in [[append]]).
    val groupsF = scala.concurrent.Future {
      putTable(spark, s"$dir/groups",
        grouped.repartitionByRange(col("sh")).sortWithinPartitions(col("sh")))
    }
    // Known family = ALL rare groups: kc is each doc's rare-shingle
    // count, so the bound is exactly the one-shot pipeline's.
    val rareCnt = grouped.filter(col("ids").isNotNull)
      .select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("kc"))
    // ONE pinned evaluation of the verified pairs serves BOTH the pairs
    // table write and the component fold (r18; was write-then-read-back
    // — the table round-trip serialized the two): the write commits
    // from the pin as a background job while the edge collect + CC fold
    // run on the caller, and the fold's input has the same shallow
    // lineage the read-back gave (the CC caller contract).
    val (pairsDf, pairsRdd) = org.apache.spark.sql.graft.InternalCheckpoint
      .pin(spark, boundedVerify(pairCounts(grouped), d, rareCnt))
    val pairsF = scala.concurrent.Future {
      putTable(spark, s"$dir/pairs", pairsDf)
    }
    // Driver union-find under the MaxReplaceKeys bound, distributed CC
    // above it — same split as the append fold. Components lay out
    // RANGE-CLUSTERED on doc_id: each file covers a doc_id interval,
    // so the manifest stats let `append`'s PrunedReplace rewrite only
    // the files an affected-doc set touches.
    val pairEdges = pairsDf.select(col("a").as("src"), col("b").as("dst"))
    val edgeRows = pairEdges.limit(MaxReplaceKeys + 1).collect()
    val comps =
      if (edgeRows.length <= MaxReplaceKeys)
        spark.createDataFrame(unionFindLabels(edgeRows).toSeq)
          .toDF("doc_id", "component")
      else GraphOps.connectedComponents(spark, pairEdges, maxIter)
        .select(col("node").as("doc_id"), col("component"))
    putTable(spark, s"$dir/components",
      comps.repartitionByRange(col("doc_id"))
        .sortWithinPartitions(col("doc_id")))
    scala.concurrent.Await.result(pairsF, scala.concurrent.duration.Duration.Inf)
    scala.concurrent.Await.result(docsF, scala.concurrent.duration.Duration.Inf)
    scala.concurrent.Await.result(groupsF, scala.concurrent.duration.Duration.Inf)
    pairsRdd.unpersist(blocking = false)
    grouped.unpersist(); d.unpersist()
  }

  /** Ingest a delta batch: mine new×all candidates only, fold verified
    * new pairs into the stored components, keep exact full-recompute
    * parity (see object doc for the rare→hot recheck).
    *
    * Contract: `newDocs` doc_ids must be unseen (checked — the parquet
    * append has no key constraint to catch a duplicate, and a silent
    * double-insert would corrupt every downstream count; the check is a
    * delta-broadcast semi-join against the stored ids, the same price
    * the reference pays for its unique index on every INSERT IGNORE).
    * An id under an OPEN tombstone counts as unseen, and the standing
    * masks fold physical FIRST (PQIndexTx.appendImpl's FAISS
    * remove+re-add parity): without the fold the re-added doc would
    * land but serve nothing — the value-keyed scan mask suppresses the
    * new rows too, and on the pairs table would suppress the doc's
    * every future mined pair.
    *
    * `txn`: optional (appId, batchId) SetTransaction watermark,
    * stamped on the FIRST claim (docs) AND the LAST (groups) — CDC
    * consumers probe the groups one ([[lastBatch]]) as their
    * WHOLE-batch replay guard, and the docs one as the between-claims
    * crash signature (docs stamped, groups not ⇒ the unclaimed tables
    * never landed — fail loudly, never skip); a direct re-run of the
    * same delta replays into the dupe check's loud failure.
    *
    * Scale notes: the delta's candidate EXPANSION touches only groups
    * containing a delta shingle (semi-join on the delta's shingle keys
    * — in a production layout `groups` is bucketed by `sh` so this is a
    * co-located, pruned lookup), and every mined pair has ≥1 new
    * endpoint — old×old pairs were either already stored or already
    * rejected, and document frequencies only grow, so an old×old pair's
    * candidacy cannot improve. The verify join is candidate-bounded. */
  def append(spark: SparkSession, newDocs: DataFrame, dir: String, cap: Int,
             maxIter: Int = 20,
             autoCompactSegments: Int = AutoCompactSegments,
             txn: Option[(String, Long)] = None,
             txnExtra: Map[String, Long] = Map.empty,
             residueStripKeys: Int = ResidueStripKeys): Seq[(String, Double)] = {
    // Per-phase wall timings (seconds), returned and recorded in the
    // Trace so the caller can tell the delta-proportional work
    // (mine/recheck/fold) from fixed per-append overhead (stage
    // writes, commit claims).
    val clock = Trace.clock()
    // ONE PINNED evaluation of the delta (local checkpoint, not
    // best-effort persist): the staged docs segment, the dupe probe's
    // collected ids, and the preBloom filter below must all see the
    // SAME rows — an evicted cache block over a nondeterministic input
    // would let the staged dir diverge from the Bloom built off the
    // collected ids, and a doc_id in the dir but not the filter is a
    // false negative that breaks every later absence proof. Pinned at
    // the INTERNAL row level (InternalCheckpoint.pin): the shingle
    // arrays never round-trip through external Rows, and the many
    // downstream reads of the pin serve UnsafeRows zero-copy.
    val ndPlan = newDocs.select(col("doc_id"), col("shs"))
    val (nd, ndRdd) = InternalCheckpoint.pin(spark, ndPlan)
    val newIds = nd.select(col("doc_id"))
    val deltaIdRows0 = newIds.limit(MaxReplaceKeys + 1).collect()
    // ERASE-THEN-RE-ADD COLLISION (PQIndexTx.appendImpl's fold, the
    // FAISS remove_ids+add parity): a delta id under an OPEN tombstone
    // passes the dupe probe below (the mask hides the old row) and
    // lands — but serves NOTHING, because the value-keyed scan mask
    // suppresses the new docs row and, on the pairs table, every
    // future pair mined with that endpoint. Fold the standing masks
    // physical first so the re-added doc serves immediately. The mask
    // union spans all three tombstoned tables: their auto-folds fire
    // independently (pairs carries two key columns per erasure, docs
    // one), so a docs-only check could miss a pairs mask still open.
    val openMask =
      (TxTable.snapshot(s"$dir/docs").dkeys.getOrElse("doc_id", Nil) ++
        TxTable.snapshot(s"$dir/components").dkeys.getOrElse("doc_id", Nil) ++ {
          val pk = TxTable.snapshot(s"$dir/pairs").dkeys
          pk.getOrElse("a", Nil) ++ pk.getOrElse("b", Nil)
        }).map(_.toLong).toSet
    val collides =
      if (openMask.isEmpty) false
      else if (deltaIdRows0.length <= MaxReplaceKeys)
        deltaIdRows0.exists(r => openMask(r.getLong(0)))
      else !newIds.filter(col("doc_id").isInCollection(openMask)).isEmpty
    // COLLISION FOLD OVERLAPPED WITH THE MINE (r18, §2.6): the fold
    // rewrites docs/components/pairs — table-scale pruned-replace I/O
    // when the erased slice spreads across every file — while the whole
    // candidate mine below reads ONLY the groups table and the pinned
    // delta. Independent chains: the fold runs as a helper future and
    // is JOINED right after the mine materializes, BEFORE the first
    // docs/pairs/components read (docsSnap below), so every consumer of
    // those tables still sees the folded state exactly as the
    // sequential form did. If the mine aborts mid-flight the fold is
    // still SETTLED before the failure rethrows (the catch at the end
    // of this method — Par.reap's settle-before-rethrow rule), so a
    // crash-looping caller cannot stack detached folds on the same
    // three tables.
    implicit val stagingEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val foldF =
      if (!collides) None
      else Some(scala.concurrent.Future {
        Trace.timed("collision_fold_wall") {
          Par.all(Seq("docs", "components", "pairs")
            .map(t => () => TxTable.foldDeletes(spark, s"$dir/$t")))
        }
      })
    try { // body continues unindented to the fold-settling catch at the end
    val deltaIdRows = deltaIdRows0 // pinned delta: the collision collect serves the probe too
    // INDEPENDENT prologue chains — the docs segment stage write (+ its
    // pre-computed Bloom) and the groups segment stage write below
    // depend only on the pinned delta, and nothing reads their results
    // until the commit section. Launched as background jobs (guide
    // §2.6: concurrent chains back-fill the executor slots each other's
    // small stages leave idle) and JOINED — dupe REQUIRE enforced — at
    // stage_join, before any commit makes anything visible. A crash or
    // a tripped dupe check still leaves every table at its pre-append
    // version: staged dirs are invisible until their claims.
    // STAGED, not committed: a crash anywhere in this pipeline must
    // leave every table at its pre-append version (an advanced docs
    // table would make a clean re-run of the same delta trip the dupe
    // check above, needing manual repair). All four tables' claims land
    // back-to-back at the end.
    val docsSchema = nd.schema
    val uDocsF = scala.concurrent.Future {
      val u = TxTable.stage(s"$dir/docs", nd)
      // The new segment's doc_id Bloom, built from the ids ALREADY
      // collected for the dupe probe — a driver loop over the delta's
      // keys instead of the commit-time harvest's data pass.
      if (deltaIdRows.length <= MaxReplaceKeys) {
        val bf = org.apache.spark.util.sketch.BloomFilter.create(
          math.max(deltaIdRows.length, 1).toLong, TxTable.BloomFpp)
        deltaIdRows.foreach(r => bf.putLong(r.getLong(0)))
        TxTable.preBloom(s"$dir/docs", u, "doc_id", bf)
      }
      u
    }
    // Span covers the delta pin's materialization (the id collect) and
    // the collision probe, plus the background launches above.
    clock.mark("pin_delta_stage_docs")

    // LSM-SHAPED index maintenance: the delta's own DF-capped groups
    // become a NEW SEGMENT of the `groups` table (one append-only
    // commit, delta-sized) — the old index is NEVER rewritten. The
    // logical index is the per-shingle re-aggregation of the segments
    // ([[mergeSegments]]): df adds across segments; ids concat while
    // the merged df ≤ cap (each contributing segment's list is then
    // complete) and NULL once it crosses — associative, so segment
    // order and count never change results and [[compactGroups]] can
    // fold segments at any time.
    //
    // Why not merge-in-place: a text delta's shingles spread across the
    // whole key space (measured: a 20% corpus slice touches every
    // range-clustered file), so footer-range file pruning — right for
    // the numeric-keyed summary merge (EventStore.mergeSummaryPruned) —
    // degenerates into a full rewrite here, and even the pruned-commit
    // machinery then costs a full-index sort per append. The LSM shape
    // WRITES O(delta) and READS the old segments only through
    // broadcast-semi-filtered scans (map-side filter on the delta's
    // bounded shingle set: no shuffle, no sort of the full index). At
    // 100 TB the segments are additionally sh-bucketed so those scans
    // prune to co-located buckets, and compaction is the scheduled
    // OPTIMIZE every LSM/Delta deployment already runs.
    val dgSeg = groupsWithDf(inv(nd), cap)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val groupsSnap = TxTable.snapshot(s"$dir/groups")
    val og = TxTable.read(spark, s"$dir/groups", groupsSnap) // rows per (segment, sh)
    val deltaShs = dgSeg.select(col("sh"))
    // Stage the new segment now; committed (keepExisting=true) at the
    // end with the other tables. Coalesced: a delta segment is LSM
    // level 0 — writing it at full shuffle parallelism lands ~32 small
    // files per append that every future segment fold, file listing,
    // and commit-time footer harvest must enumerate. Few, larger files
    // per segment (parquet stays splittable for readers) is the level-0
    // shape every LSM keeps. Range-clustered on `sh` (not a plain
    // coalesce): each segment file then covers a tight shingle
    // interval, its manifest sstats bounds are tight, and FUTURE
    // appends' old-side pruned scans (below) skip every file whose
    // range excludes the whole delta — the shuffle is delta-bounded
    // and buys O(hit files) reads for the rest of the table's life.
    val groupsSchema = dgSeg.schema
    // Row-count-adaptive file fan-out (a delta's groups rows ≲ its docs'
    // total shingle count; 50k array-carrying rows ≈ a well-sized file).
    val segFiles = segmentFiles(
      if (deltaIdRows.length <= MaxReplaceKeys) deltaIdRows.length.toLong
      else -1L, 50000L)
    val uGroupsF = scala.concurrent.Future {
      TxTable.stage(s"$dir/groups",
        dgSeg.repartitionByRange(segFiles, col("sh"))
          .sortWithinPartitions(col("sh")))
    }
    clock.mark("stage_groups_segment")

    // The OLD-side and MERGED per-shingle views over the delta's
    // shingles in ONE aggregation: union the broadcast-semi-filtered
    // old segments with the delta segment, tagged by side, and fold
    // both sides' (ids, df) in a single groupBy(sh). This is
    // [[mergeSegments]]' formula with the old/new split carried through
    // — each side's df adds independently, a side's concatenated lists
    // are complete whenever that side's df ≤ cap (a segment-local df
    // can't exceed its side's total), and every consumer below only
    // reads a side's lists under such a bound. One shuffle over
    // delta-bounded rows, where the two-view shape paid the old-side
    // aggregation AND a full_outer re-join of the views.
    //
    // The old-segment read is MANIFEST-PLANNED, not a full index scan:
    // the delta's shingle keys (driver-bounded collect off the cached
    // delta segment) prune the stored segments to the files whose
    // sstats `sh` range intersects any delta shingle
    // (TxTable.lookupStringFiles — sorted keys, binary search per
    // file), and only the surviving files are scanned, still
    // broadcast-semi-filtered row-level. Segments are
    // sh-range-clustered at write (above, and in build/compactGroups),
    // so at 100 TB — where files ≫ delta shingles — the hit set is
    // O(delta shingles), not O(corpus files). Over the key bound, fall
    // back to the full semi-scan (a delta that size approaches a
    // rebuild).
    // The shingle-key collect is INSIDE the by-name argument: when the
    // groups table is under the MinPruneFiles gate (toy scale, fresh
    // table), the pruned path — and its up-to-MaxLookupKeys driver
    // collect — is skipped entirely.
    val ogDelta0 = prunedByStringKeys(spark, s"$dir/groups", groupsSnap, "sh",
        deltaShs.limit(MaxLookupKeys + 1).collect(), MaxLookupKeys, og)
      .join(broadcast(deltaShs), Seq("sh"), "left_semi")
    def mergedSides(old0: DataFrame): DataFrame = {
      old0
          .select(col("sh"), col("ids"), col("df"), lit(true).as("old"))
        .unionByName(dgSeg
          .select(col("sh"), col("ids"), col("df"), lit(false).as("old")))
        .groupBy(col("sh"))
        .agg(sum(when(col("old"), col("df"))).as("odf"),
          sum(when(!col("old"), col("df"))).as("ddf"),
          flatten(collect_list(when(col("old"), col("ids")))).as("oids"),
          flatten(collect_list(when(!col("old"), col("ids")))).as("dids"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val sideMerged0 = mergedSides(ogDelta0)
    // RESIDUE STRIP for re-admitted ids: stored postings may still
    // carry a delta id from its ERASED former life (erasure leaves the
    // inverted index physical until the scheduled OPTIMIZE — the
    // documented recall window; the window survives FOLDS, so an open
    // mask is not a precondition). The dupe check above proves no LIVE
    // old row holds a delta id, so any old-side posting of one is
    // residue by construction; kept, it duplicates the id in the
    // merged view and inflates kc past the doc's actual size (negative
    // slack `o`), making boundedVerify spuriously drop the re-added
    // doc's TRUE pairs. The probe is one delta-bounded job on the
    // CACHED aggregation (zero extra corpus I/O); the common
    // no-re-admission append finds nothing and pays only that probe.
    // df keeps the residue count — the documented-conservative
    // over-count, same as every other erased id.
    val residue = sideMerged0.select(explode(col("oids")).as("doc_id"))
      .join(broadcast(newIds), Seq("doc_id"), "left_semi")
      .distinct().limit(residueStripKeys + 1).collect()
      .map(_.getLong(0)).toSeq
    var sideMergedCache = sideMerged0 // the persisted handle to release
    val sideMerged =
      if (residue.isEmpty) sideMerged0
      else if (residue.length <= residueStripKeys)
        // POST-AGGREGATION strip (guide §1.2 — don't run the mine's
        // heaviest aggregation twice): the residue ids are removed from
        // the already-CACHED side-split rows' flattened old postings
        // instead of re-running mergedSides with a per-row array_except
        // (which re-scanned the pruned old segments and re-paid the
        // groupBy exchange — measured as most of a re-admission append's
        // mine_candidates overhang). Result-identical: every consumer of
        // `oids` is set-shaped (mgDelta array_distincts the concat,
        // docsH and the residue probe explode+distinct), so
        // array_except's global dedup of the flattened array is absorbed
        // exactly like the per-row variant's; `odf` keeps the residue
        // count — the documented-conservative instance-df model is
        // untouched.
        sideMerged0.withColumn("oids", array_except(col("oids"), typedLit(residue)))
      else {
        // Rebuild-scale re-admission (> residueStripKeys residual
        // ids): a per-row array_except set that size would cost
        // O(rows × residue) — run the scheduled OPTIMIZE's groups
        // purge instead (membership re-derived against the docs
        // ledger; the delta is not committed yet, so its ids purge
        // with the other erased ids) and re-plan against the fresh
        // snapshot. Same physical cost profile as the compaction
        // this much churn already owes.
        sideMerged0.unpersist()
        compactGroups(spark, dir, cap)
        val gSnap2 = TxTable.snapshot(s"$dir/groups")
        val og2 = TxTable.read(spark, s"$dir/groups", gSnap2)
        val ogd2 = prunedByStringKeys(spark, s"$dir/groups", gSnap2, "sh",
            deltaShs.limit(MaxLookupKeys + 1).collect(), MaxLookupKeys, og2)
          .join(broadcast(deltaShs), Seq("sh"), "left_semi")
        val sm = mergedSides(ogd2)
        sideMergedCache = sm
        sm
      }

    // Delta candidates: rare MERGED groups containing a delta shingle,
    // expanded, kept only when ≥1 endpoint is new. Merged view = old
    // view ⊕ delta via the two-way merge formula (df adds; ids concat
    // while ≤ cap, NULL past it) — mergeSegments restricted to these
    // shingles would compute exactly this. The known family for the
    // upper bound is "rare groups containing a delta shingle" — kc
    // (and the whole mining/prefilter pass) stays DELTA-BOUNDED, while
    // shared shingles outside that family fold into the min(sz−kc)
    // slack exactly like hot shingles do in the full mine. Map-side
    // over the cached side-split aggregation, so the two consumers
    // (kc, pairCounts) re-derive it from cache without re-shuffling.
    // array_distinct: MEMBERSHIP IS A SET. A doc re-admitted in an
    // EARLIER delta still has its erased-life posting in the old
    // segments (the residue strip only cleans the CURRENT delta's ids;
    // groups are never tombstoned and only the OPTIMIZE purge drops the
    // stale instance), so the concatenated arrays can carry an id
    // twice. Kept, the duplicate inflates kc past the doc's actual
    // size (negative slack) and c_rare asymmetrically — for a pair
    // sharing only SOME of the duplicated doc's family shingles the
    // bound then undercounts and boundedVerify drops TRUE pairs
    // (DedupReadmitModelSpec's partial-overlap arm is the constructed
    // repro). df stays instance-counted — the pinned model; only the
    // membership arrays dedupe.
    val mgDelta = sideMerged
      .select(col("sh"),
        (coalesce(col("odf"), lit(0L)) + coalesce(col("ddf"), lit(0L))).as("df"),
        when(coalesce(col("odf"), lit(0L)) + coalesce(col("ddf"), lit(0L)) > cap,
          lit(null))
          .otherwise(array_sort(array_distinct(concat(col("oids"), col("dids"))))).as("ids"))
      .select(col("sh"), col("ids"), col("df"))
      .filter(col("ids").isNotNull)
    val kc = mgDelta.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("kc"))
    val cands = pairCounts(mgDelta)
      .join(newIds.select(col("doc_id").as("a")).withColumn("na", lit(true)),
        Seq("a"), "left")
      .join(newIds.select(col("doc_id").as("b")).withColumn("nb", lit(true)),
        Seq("b"), "left")
      .filter(col("na").isNotNull || col("nb").isNotNull)
      .select(col("a"), col("b"), col("c_rare"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Verify against only the CANDIDATE ENDPOINTS' shingle sets: the
    // prefilter (sizes) and exact verify otherwise scan the full stored
    // corpus three times per append (meta + both join sides), when only
    // the docs a candidate touches matter — candidate-bounded, hence
    // delta-bounded, like every other per-append read. The semi-join
    // itself is the one remaining corpus pass, and in a production
    // layout `docs` is bucketed by doc_id so it prunes to co-located
    // buckets.
    val candEnds = cands.select(col("a").as("doc_id"))
      .unionByName(cands.select(col("b").as("doc_id"))).distinct()
    // Endpoint rows come from two places, each read proportional to the
    // ENDPOINTS, never the corpus: delta endpoints broadcast-semi the
    // pinned delta, STORED endpoints go through the manifest-planned
    // point lookup (TxTable.lookupFiles: doc_id Bloom absence proof →
    // stats file pruning) so only the hit FILES are scanned — docs is
    // doc_id-range-clustered by build/compact, so hit files ∝
    // endpoints, and endpoint ids are ≤ 2|cands|, delta-bounded. Over
    // the driver bound, fall back to the broadcast semi over the full
    // corpus scan (a delta with that many candidate endpoints
    // approaches a rebuild). Row-level filtering stays a broadcast
    // semi-join either way — a 10^5-key IN predicate would defeat
    // codegen where the hash semi probes in O(1).
    // The collected endpoint keys DOUBLE as the broadcast side (a local
    // relation — same trick as the recheck's hShKeys): candEnds is a
    // distinct-shuffle over the cached cands, and evaluating it for the
    // collect AND again for the broadcast measurably re-runs that
    // shuffle per append.
    val endRows = candEnds.limit(MaxReplaceKeys + 1).collect()
    val candEndKeys =
      if (endRows.length <= MaxReplaceKeys)
        spark.createDataset(endRows.toSeq.map(_.getLong(0)))(
          org.apache.spark.sql.Encoders.scalaLong).toDF("doc_id")
      else candEnds
    // Phase boundary: the endpoint collect above (endRows) materialized
    // the candidate mine (sideMerged + cands caches populate under it).
    // No separate docsCand.count() materialization (r18): the count was
    // one whole extra job per append whose only product was the
    // docs_cand_fetch phase split — the verify job below fills the
    // docsCand cache on first touch at the same cost, minus the job
    // dispatch. The endpoint fetch now times inside verify_recheck.
    clock.mark("mine_candidates")
    // JOIN the overlapped collision fold before the first
    // docs/pairs/components read: everything below (dupe probe,
    // endpoint fetch, recheck, component fold, commits) sees the folded
    // tables exactly as the sequential form did. collision_fold_join is
    // the residual tail not hidden under the mine; the trace's
    // collision_fold_wall span (like commit_harvest) is the fold's own
    // wall time, an OVERLAP of mine_candidates, not an addition.
    foldF.foreach(f => scala.concurrent.Await.result(
      f, scala.concurrent.duration.Duration.Inf))
    clock.mark("collision_fold_join")
    val docsSnap = TxTable.snapshot(s"$dir/docs")
    val docsStored = TxTable.read(spark, s"$dir/docs", docsSnap)
    // Unique-key check via the manifest's doc_id BLOOM FILTERS: a Bloom
    // has no false negatives, so a delta id no filter claims is PROVEN
    // absent with zero corpus I/O — the InnoDB-unique-index probe shape
    // at a scale where scanning the key column per batch is impossible.
    // Only bloom-POSITIVE ids (real dupes, or ~fpp false positives)
    // need the exact probe, and that probe's IN filter pushes to the
    // parquet scan for row-group skipping. Fallbacks — missing blooms,
    // an over-bound delta, or a suspect set too big for an IN list —
    // take the exact corpus semi-join this replaces. Background job,
    // REQUIRE enforced at stage_join, before any commit.
    val dupeF = scala.concurrent.Future {
      val bloomSuspects = TxTable.keyBlooms(s"$dir/docs", docsSnap, "doc_id") match {
        case Some(bfs) if deltaIdRows.length <= MaxReplaceKeys =>
          Some(deltaIdRows.iterator.map(_.getLong(0))
            .filter(id => bfs.exists(_.mightContainLong(id))).toSeq)
        case _ => None
      }
      val dupes = bloomSuspects match {
        case Some(Nil) => 0L
        case Some(suspects) if suspects.length <= 1000 =>
          // Manifest-planned point probe (TxTable.lookupFiles, read by
          // TxTable.scanKeys): doc_id stats pruning drops every file
          // whose range excludes all suspects, so the exact probe reads
          // O(hit files), not the corpus — docs is doc_id-range-clustered
          // by build/compact, so hit files ∝ suspects. The IN filter
          // still pushes into the survivors for row-group skipping.
          TxTable.scanKeys(spark, docsSnap, "doc_id", suspects,
            TxTable.lookupFiles(s"$dir/docs", docsSnap, "doc_id", suspects))
            .select(col("doc_id")).count()
        case _ =>
          docsStored.select(col("doc_id"))
            .join(broadcast(newIds), Seq("doc_id"), "left_semi").count()
      }
      require(dupes == 0L,
        s"append: $dupes delta doc_ids already present in $dir/docs")
    }
    val docsCand = prunedByLongKeys(spark, s"$dir/docs", docsSnap, "doc_id",
        endRows, MaxReplaceKeys, docsStored)
      .unionByName(nd)
      .join(broadcast(candEndKeys), Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Local checkpoint = persist + LINEAGE CUT: three later actions
    // (the pairs stage write, the edge checkpoint, the components stage
    // write) re-analyze this frame's logical plan each time; with the
    // whole candidate pipeline as lineage that analyzer pass costs more
    // than the jobs themselves (the same driver-side effect the CC fold
    // documents). InternalCheckpoint.pin, not Dataset.localCheckpoint:
    // the Dataset variant hides the persisted RDD inside a LogicalRDD
    // with no public handle to release (Stages.scala documents the
    // trap) — this handle is unpersisted in the cleanup below.
    val newPairsPlan = boundedVerify(cands, docsCand, kc)
    val (newPairs, newPairsRdd) = InternalCheckpoint.pin(spark, newPairsPlan)
    // The verify materialization below overlaps the rare→hot recheck
    // (§2.6): the two chains are independent — verify reads
    // cands/docsCand/kc, the recheck reads sideMerged/op/stored
    // segments — and both land in pinned RDDs joined before anything
    // commits. Shared caches fill under block-level locks.
    val op = TxTable.read(spark, s"$dir/pairs")
    // Rare→hot recheck: shingles the delta pushed over the cap, the old
    // docs that carried them, and the stored pairs where BOTH endpoints
    // did (the only pairs that can lose candidacy — see object doc).
    // A suspect survives iff some shared shingle is still rare in the
    // merged index; the witness scan is restricted to the suspects'
    // docs, so the whole recheck is delta-bounded — and most appends
    // cross NO shingle over the cap, so the empty-docsH early-exit
    // skips the witness re-aggregation entirely.
    //
    // The recheck chain OVERLAPS the verify materialization (Par.par2,
    // §2.6): the two are independent — verify reads cands/docsCand/kc,
    // the recheck reads sideMerged/op/stored segments — and both land
    // in pinned RDDs joined here, before anything commits. Shared
    // caches fill under block-level locks; a failure on either side
    // settles the other before rethrowing (Par's reap contract).
    val (newPairsCount, (docsH, dropped, droppedRdd, droppedCount)) =
        Par.par2(newPairsRdd.count()) {
    val docsH = sideMerged
      .filter(col("odf").isNotNull && col("ddf").isNotNull &&
        col("odf") <= cap && col("odf") + col("ddf") > cap)
      .select(explode(col("oids")).as("doc_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val droppedPlan = (if (docsH.isEmpty) op.select(col("a"), col("b")).limit(0)
    else {
      val suspects = op
        .join(docsH.select(col("doc_id").as("a")), Seq("a"), "left_semi")
        .join(docsH.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      // Witness index: merged rows still rare, restricted to the
      // suspects' docs. Their shingle universe is the suspects' own
      // shingle sets (a row can only explode to a docsH doc if its sh
      // is one of that doc's shingles), so the segment re-aggregation
      // is bounded by the suspect set, not the corpus. Both reads on
      // this path are manifest-planned like the main mine's: the
      // suspect docs' shingle-set fetch goes through the doc_id point
      // lookup (docsH holds only OLD ids — oids come from stored
      // segments), and the witness re-aggregation's old-segment scan
      // prunes by the suspects' shingle keys.
      // docsH holds only OLD ids (oids come from stored segments), so
      // the stored table alone is the fallback — no delta union needed.
      val docsOfH = prunedByLongKeys(spark, s"$dir/docs", docsSnap, "doc_id",
          docsH.limit(MaxReplaceKeys + 1).collect(), MaxReplaceKeys, docsStored)
        .join(docsH, Seq("doc_id"), "left_semi")
      val hShs = docsOfH
        .select(explode(col("shs")).as("sh")).distinct()
      val hShRows = hShs.limit(MaxLookupKeys + 1).collect()
      // The collected keys double as the broadcast side (a local
      // relation): hShs is unpersisted, and re-evaluating it for the
      // broadcast would re-run the pruned docs read and the
      // explode/distinct a second time.
      val hShKeys =
        if (hShRows.length <= MaxLookupKeys)
          spark.createDataset(hShRows.toSeq.map(_.getString(0)))(
            org.apache.spark.sql.Encoders.STRING).toDF("sh")
        else hShs
      val rareIdxH = mergeSegments(
          prunedByStringKeys(spark, s"$dir/groups", groupsSnap, "sh",
              hShRows, MaxLookupKeys, og)
            .unionByName(dgSeg)
            .join(broadcast(hShKeys), Seq("sh"), "left_semi"), cap)
        .filter(col("ids").isNotNull)
        .select(col("sh"), explode(col("ids")).as("doc_id"))
        .join(docsH, Seq("doc_id"), "left_semi")
      val stillCand = suspects.select(col("a"), col("b"))
        .join(rareIdxH.select(col("doc_id").as("a"), col("sh")), Seq("a"))
        .join(rareIdxH.select(col("doc_id").as("b"), col("sh")), Seq("sh", "b"))
        .select(col("a"), col("b")).distinct()
      suspects.select(col("a"), col("b"))
        .join(stillCand, Seq("a", "b"), "left_anti")
    })
    // Lineage cut — see newPairs above.
    val (dropped, droppedRdd) = InternalCheckpoint.pin(spark, droppedPlan)
    (docsH, dropped, droppedRdd, droppedRdd.count())
    }
    clock.mark("verify_recheck")
    // Join the overlapped prologue chains. The dupe REQUIRE surfaces
    // here — still before any commit, so a duplicate delta aborts with
    // every table at its pre-append version exactly as before; only the
    // failure's latency moved.
    val uDocs = scala.concurrent.Await.result(
      uDocsF, scala.concurrent.duration.Duration.Inf)
    val uGroups = scala.concurrent.Await.result(
      uGroupsF, scala.concurrent.duration.Duration.Inf)
    scala.concurrent.Await.result(
      dupeF, scala.concurrent.duration.Duration.Inf)
    clock.mark("stage_join")
    // A delta that mines no pairs and drops none — the common case for
    // a mostly-unique corpus slice — is a content NO-OP for pairs and
    // components: skip their staging and commits entirely. Committing
    // anyway would add one empty pairs segment per append (dead dirs
    // every future read, stats map, and vacuum must enumerate) and
    // drive a pointless replace commit of the components table.
    // Docs and groups still append — the index must reflect the new
    // docs' shingles so FUTURE deltas can pair against them.
    // The SAME (appId, batchId) watermark stamps the FIRST claim (docs)
    // and the LAST (groups): present-on-docs + absent-on-groups is the
    // precise between-claims crash signature a CDC consumer checks
    // loudly (CdcSync.docsToDedup) instead of mistaking the half-landed
    // batch for a fully-replayed one and silently dropping the
    // unclaimed tables. lastBatch still reads groups only.
    // txnExtra rides the same claims as the watermark (docs first,
    // groups last) — a CDC consumer's covered source high-water shares
    // the seal's atomicity and its between-claims crash signature.
    val txnMap =
      txn.map(t => Map(t._1 -> t._2)).getOrElse(Map.empty[String, Long]) ++ txnExtra
    if (newPairsCount == 0L && droppedCount == 0L) {
      TxTable.commitStaged(spark, s"$dir/docs", uDocs, docsSchema,
        keepExisting = true, txnUpdate = txnMap)
      TxTable.commitStaged(spark, s"$dir/groups", uGroups, groupsSchema,
        keepExisting = true, txnUpdate = txnMap)
      clock.mark("commit_claims")
    } else {
    // PAIRS, write = O(delta) on the common path: when no stored pair
    // lost candidacy (`dropped` empty — the usual append; a drop needs
    // a rare→hot cap crossing), every stored pair is retained verbatim
    // and the verified NEW pairs commit as an appended SEGMENT — the
    // stored pairs are never rewritten, the same LSM discipline as the
    // `groups` index (pairs are add-once: a mined pair has ≥1 new
    // endpoint, so an appended segment can never duplicate a stored
    // row). Only the rare drop path rewrites the table.
    val pairsAppendOnly = droppedCount == 0L
    val pairsOut =
      if (pairsAppendOnly) newPairs
      else op.join(dropped, Seq("a", "b"), "left_anti").unionByName(newPairs)
    val pairsSchema = pairsOut.schema
    // Pairs rows are 24 bytes — one file holds millions before it stops
    // being well-sized; the rewrite path (unknown final count) keeps the
    // fixed cap. Staged as a background job (§2.6, like the prologue
    // stages): the component fold below reads op/oc, not this write —
    // only the rewrite path's staged-file read (and the commit) join it.
    val uPairsF = scala.concurrent.Future {
      TxTable.stage(s"$dir/pairs", pairsOut.coalesce(
        segmentFiles(if (pairsAppendOnly) newPairsCount else -1L, 2000000L)))
    }
    clock.mark("stage_pairs")

    // Component fold: only components touched by a new or dropped pair
    // are re-propagated (from their ACTUAL retained pairs — a dropped
    // pair may have split one); everything else passes through
    // unchanged. Unaffected components cannot change: all their pairs
    // are retained and no new pair touches them (a new pair's old
    // endpoints put their components in the affected set by
    // construction), so their membership and min label are identical.
    val ocSnap = TxTable.snapshot(s"$dir/components")
    val oc = TxTable.read(spark, s"$dir/components", ocSnap)
    val touched = newPairs.select(col("a").as("doc_id"))
      .unionByName(newPairs.select(col("b").as("doc_id")))
      .unionByName(dropped.select(col("a").as("doc_id")))
      .unionByName(dropped.select(col("b").as("doc_id")))
      .distinct()
    val affected = oc.join(touched, Seq("doc_id"), "left_semi")
      .select(col("component")).distinct()
    // The affected components' MEMBERSHIP collect is independent of the
    // edge collect below (both read-only over op/oc) — overlapped
    // (§2.6); the replace staging that needs it joins the future.
    val affectedDocsF = scala.concurrent.Future {
      oc.join(affected, Seq("component"), "left_semi")
        .select(col("doc_id")).limit(MaxReplaceKeys + 1)
        .collect().map(_.getLong(0))
    }
    // Fold edges = the final pairs table, restricted to pairs NOT
    // wholly inside an unaffected old component (stored pairs have both
    // endpoints in one component; a brand-new doc has no old label —
    // NULL — and always rides). On the append-only path the final
    // table is op ∪ newPairs, both lineage-shallow already (a parquet
    // scan and a LogicalRDD); the rewrite path reads its staged files
    // (joining the stage-write future first).
    val pairsFinal =
      if (pairsAppendOnly) op.unionByName(newPairs)
      else spark.read.parquet(TxTable.stagedPath(s"$dir/pairs",
        scala.concurrent.Await.result(uPairsF,
          scala.concurrent.duration.Duration.Inf)))
    val edges0 = pairsFinal
      .join(oc.select(col("doc_id").as("a"), col("component").as("ca")), Seq("a"), "left")
      .join(affected.select(col("component").as("ca")).withColumn("aff", lit(true)),
        Seq("ca"), "left")
      .filter(col("ca").isNull || col("aff").isNotNull)
      .select(col("a").as("src"), col("b").as("dst"))
    // The fold's edge set is delta-bounded by construction (affected
    // components are near-dup clusters plus the delta's own pairs), so
    // on the common path resolve it with a DRIVER union-find: the
    // iterative distributed propagation costs several scheduler rounds
    // per append for a graph that fits in kilobytes (measured ~2 s of
    // pure job overhead at sf0.1). Same min-label result; the same
    // MaxReplaceKeys driver bound as the component replace guards the
    // collect, with the distributed CC as the over-bound fallback
    // (lineage-cut first — each CC-internal action re-evaluates its
    // input's logical plan, and the full append pipeline as lineage
    // cost ~3 s per action when measured).
    val edgeRows = edges0.limit(MaxReplaceKeys + 1).collect()
    var edgesRdd: org.apache.spark.rdd.RDD[_] = null
    val componentsNew =
      if (edgeRows.length <= MaxReplaceKeys) {
        spark.createDataFrame(unionFindLabels(edgeRows).toSeq)
          .toDF("doc_id", "component")
      } else {
        val (edgesDf, er) = InternalCheckpoint.pin(spark, edges0)
        edgesRdd = er
        er.count()
        GraphOps.connectedComponents(spark, edgesDf, maxIter)
          .select(col("node").as("doc_id"), col("component"))
      }

    // COMPONENTS, write = O(affected) on the common path: the affected
    // components' membership (delta-bounded — near-dup clusters are
    // small) is the REPLACED key set; PrunedReplace rewrites only the
    // files whose manifest doc_id range intersects it and carries the
    // rest byte-identical (build lays components out range-clustered so
    // the hit set is proportional to the keys, not the corpus). Above
    // the driver-bound guard — a delta touching a huge fraction of the
    // corpus — fall back to the full rewrite, which such a delta
    // approaches anyway. STAGED here, committed below.
    val affectedDocs = scala.concurrent.Await.result(affectedDocsF,
      scala.concurrent.duration.Duration.Inf)
    val stagedComponents =
      if (affectedDocs.length <= MaxReplaceKeys)
        graft.sources.PrunedReplace.stageReplaceWith(
          spark, s"$dir/components", "doc_id", affectedDocs)(_ => componentsNew)
      else {
        val keep = oc.join(affected, Seq("component"), "left_anti")
        val componentsOut = componentsNew
          .unionByName(keep.select(col("doc_id"), col("component")))
        val u = TxTable.stage(s"$dir/components", componentsOut)
        graft.sources.PrunedReplace.Staged(s"$dir/components", u,
          componentsOut.schema, -1L, -1L, ocSnap)
      }

    clock.mark("fold_components")
    // EVERY table's new version is now fully materialized on disk;
    // visibility is four back-to-back atomic claims — the crash
    // window is the claims themselves, not the job pipeline above
    // (there is still no cross-table transaction: a crash between
    // claims leaves tables at adjacent versions — but never an
    // advanced docs table blocking a clean re-run, since docs claims
    // here with the rest). Docs claims FIRST and the txn watermark
    // rides BOTH docs and the LAST claim (groups): a direct re-run of
    // the same delta after a between-claims crash replays into the
    // dupe check's loud failure, and a CDC replay — whose presence
    // probe would otherwise read the landed docs claim as
    // "batch fully applied" and silently skip the unclaimed tables —
    // detects the docs-stamped/groups-unstamped signature and fails
    // loudly too (CdcSync.docsToDedup). The groups watermark alone
    // still seals a COMPLETE batch; it never lies about half-applied
    // state because it commits last.
    TxTable.commitStaged(spark, s"$dir/docs", uDocs, docsSchema,
      keepExisting = true, txnUpdate = txnMap)
    TxTable.commitStaged(spark, s"$dir/pairs",
      scala.concurrent.Await.result(uPairsF,
        scala.concurrent.duration.Duration.Inf), pairsSchema,
      keepExisting = pairsAppendOnly)
    stagedComponents.commit()
    TxTable.commitStaged(spark, s"$dir/groups", uGroups, groupsSchema,
      keepExisting = true, txnUpdate = txnMap)
    clock.mark("commit_claims")
    if (edgesRdd != null) edgesRdd.unpersist(blocking = false)
    }
    droppedRdd.unpersist(blocking = false); docsH.unpersist()
    newPairsRdd.unpersist(blocking = false)
    cands.unpersist(); docsCand.unpersist()
    sideMergedCache.unpersist(); dgSeg.unpersist()
    ndRdd.unpersist(blocking = false)
    // LSM self-maintenance (the reference's InnoDB keeps its unique
    // index balanced per insert — init/mysql_loader.py:435-439; an LSM
    // amortizes the same upkeep into scheduled folds): once a table's
    // live segment count crosses the cap, fold it NOW, inside the
    // append, so a long ingest stream can't degrade reads unboundedly.
    // Result-transparent (mergeSegments is associative; pairs segments
    // are disjoint row sets) and single-writer like the append itself.
    if (autoCompactSegments > 0) {
      // Each in-append fold is PARTIAL (TxTable.compactDirs): only the
      // accumulated small delta dirs read and rewrite; the base dir
      // carries by reference. The old whole-table overwrites cost
      // O(table) I/O every autoCompactSegments appends — at 100 TB
      // that made every Nth hourly append a full-index rewrite. The
      // scheduled [[compact]] stays the FULL OPTIMIZE that re-tightens
      // global clustering across the merged whole.
      def fold(t: String)(layout: org.apache.spark.sql.DataFrame
          => org.apache.spark.sql.DataFrame): Unit = {
        val s = TxTable.snapshot(s"$dir/$t")
        if (s.dirs.size > autoCompactSegments) {
          TxTable.compactDirs(spark, s"$dir/$t", s,
            TxTable.levelZeroDirs(s"$dir/$t", s))(layout)
          clock.mark(s"auto_compact_$t")
        }
      }
      // Groups: mergeSegments is associative, so folding a SUBSET of
      // segments into one is result-transparent (the logical view
      // still folds the merged segment with the carried base).
      fold("groups")(df => mergeSegments(df, cap)
        .repartitionByRange(SegmentFiles, col("sh")).sortWithinPartitions(col("sh")))
      fold("pairs")(identity)
      // Docs gains one segment per append too — the dupe check and the
      // candidate-endpoint fetch enumerate its files every append.
      fold("docs")(_.repartitionByRange(col("doc_id"))
        .sortWithinPartitions(col("doc_id")))
      // Components: each by-reference replace keeps the old dirs and
      // adds one (plus exclusions), so a long append stream fragments
      // the dir list — the same fold restores clustering over the
      // delta dirs (and lets vacuum reclaim the excluded files).
      fold("components")(_.repartitionByRange(col("doc_id"))
        .sortWithinPartitions(col("doc_id")))
    }
    clock.phases
    } catch { case t: Throwable =>
      foldF.foreach(scala.concurrent.Await.ready(_, scala.concurrent.duration.Duration.Inf))
      throw t
    }
  }

  def pairs(spark: SparkSession, dir: String): DataFrame =
    TxTable.read(spark, s"$dir/pairs")

  def components(spark: SparkSession, dir: String): DataFrame =
    TxTable.read(spark, s"$dir/components")

  /** ERASE documents from the index's SERVING tables as key tombstones
    * — the deletion half of a change-feed pipeline ([[graft.streaming
    * .CdcSync]]) and the GDPR path for an indexed corpus: one metadata
    * commit per table, zero data I/O. After this, `docs`, [[pairs]]
    * (either endpoint), and [[components]] exclude the ids on every
    * read; the next compaction of each table folds the masks free.
    *
    * Contracts and caveats:
    *  - The `groups` inverted index keeps erased ids inside its
    *    per-shingle arrays until the next scheduled OPTIMIZE —
    *    [[compactGroups]] purges every id no longer in the docs table
    *    (the docs table IS the erasure ledger; re-admitted ids stay)
    *    and drops fully-erased shingle rows, converging the index to
    *    what a rebuild of the live corpus produces. In the window
    *    before that, candidate MINING may still propose an erased
    *    endpoint, but [[append]]'s verify join reads `docs` through
    *    the mask, so no pair with an erased endpoint is ever stored or
    *    served (the arrays hold opaque ids, not document content).
    *    The purge re-derives every RARE row's df from its rebuilt
    *    postings (live df); HOT rows keep their recorded df — their
    *    postings were never stored, so only [[optimizeIndex]]'s
    *    inv(docs) pass can revive a hot-but-now-live-rare shingle.
    *    Both residuals are conservative (a shingle can only look MORE
    *    common, never rarer, so no spurious candidates appear that
    *    full recompute would reject... the reverse loses only recall
    *    against a from-scratch rebuild, never precision). QUANTIFIED —
    *    DedupErasureRecallSpec pins the window exactly: the served
    *    pairs equal a full-corpus (erasure-ignored) mine restricted to
    *    live endpoints, so the only losable pairs are those whose
    *    EVERY shared shingle is live-rare but full-hot; on an
    *    adversarial 30%-erasure corpus (clusters straddling the cap)
    *    that measures 12/18 pairs served, and [[optimizeIndex]] — the
    *    scheduled deep tier that re-mines from the ledger — closes the
    *    gap to 0 (spec-asserted).
    *  - `components` labels are opaque cluster ids (the min doc_id at
    *    fold time): a label VALUE numerically equal to an erased id
    *    may persist on surviving members — it identifies the cluster,
    *    not the erased document.
    *  - Re-appending an erased id through [[append]] folds the
    *    standing masks physical FIRST (the PQIndexTx collision
    *    discipline), so the re-added doc serves immediately; only a
    *    direct TxTable append behind the index's back would leave an
    *    id masked-but-present.
    *  - One commit per table (four total): a crash mid-way leaves a
    *    partial mask; the call is idempotent — re-run to completion. */
  /** The index's committed watermark for writer `appId` — the probe
    * for [[append]]'s `txn` seal (stamped on the LAST claim, so a
    * recorded batch proves the whole four-table sequence landed).
    * CDC consumers use it as their whole-batch replay guard. */
  def lastBatch(dir: String, appId: String): Option[Long] =
    TxTable.txnVersion(s"$dir/groups", appId)

  def deleteDocsDeferred(dir: String, ids: Seq[Long]): Unit =
      Trace.timed("erase_tombstones") {
    // Three INDEPENDENT tables' manifest commits — overlapped (§2.6);
    // the two pairs-table keys stay sequential on their shared manifest
    // (concurrent claims on one dir would just retry each other).
    Par.all(Seq(
      () => { TxTable.deleteKeysDeferred(s"$dir/docs", "doc_id", ids); () },
      () => { TxTable.deleteKeysDeferred(s"$dir/components", "doc_id", ids); () },
      () => {
        TxTable.deleteKeysDeferred(s"$dir/pairs", "a", ids)
        TxTable.deleteKeysDeferred(s"$dir/pairs", "b", ids)
        ()
      }))
    ()
  }

  /** Logical index view over LSM segments: per-shingle re-aggregation
    * of per-segment (ids, df) rows. df adds; ids concat while the
    * MERGED df ≤ cap — every contributing segment's list is complete
    * then, since a segment-local df can't exceed the total — and NULL
    * once it crosses, identical to aggregating the final corpus in one
    * pass. Associative and order-independent (array_sort restores the
    * a<b expansion's sorted-ids invariant), which is what makes
    * segment appends and [[compactGroups]] result-transparent
    * (property-tested against the one-shot aggregation over arbitrary
    * corpus splits). */
  private[operators] def mergeSegments(segs: DataFrame, cap: Int): DataFrame =
    segs.groupBy(col("sh"))
      .agg(sum(col("df")).as("df"),
        flatten(collect_list(col("ids"))).as("allids"))
      // array_distinct: membership is a SET — a re-admitted id sits in
      // two segments' postings until the OPTIMIZE purge drops its
      // erased-life instance (see the append's merged view). df keeps
      // the instance count.
      .select(col("sh"),
        when(col("df") > cap, lit(null))
          .otherwise(array_sort(array_distinct(col("allids")))).as("ids"),
        col("df"))

  /** OPT-IN BUCKETED layout for the groups segments — the 100 TB
    * exchange-free fold the LSM notes promise, now exercised instead
    * of asserted. Segments land in ONE sh-bucketed, in-bucket-sorted
    * session-catalog table (every append pays its hash shuffle ONCE at
    * write time; [[graft.etl.Layout.writeBucketed]]'s discipline), so
    * the per-shingle segment fold — [[mergeSegments]]' groupBy(sh),
    * the read amplification every LSM lookup and compaction pays —
    * plans with ZERO Exchange: the scan's bucketing already satisfies
    * the aggregation's clustering (BucketedGroupsPlanAuditSpec pins
    * the plan shape and result parity with the TxTable path).
    *
    * This mode trades the TxTable machinery (atomic restore, manifest
    * pruning, bloom sidecars) for catalog bucketing — the right trade
    * exactly when segment folds dominate (a high-churn ingest at a
    * scale where the fold's shuffle IS the bottleneck); the default
    * TxTable segments with sh-range-clustered files stay the general
    * path. Bucket count must stay fixed for the table's life (Spark
    * appends enforce the spec). */
  object BucketedGroups {
    /** Create the bucketed segment table from the first segment. */
    def init(spark: SparkSession, table: String, segment: DataFrame,
             buckets: Int): Unit =
      segment.write.mode("overwrite")
        .bucketBy(buckets, "sh").sortBy("sh")
        .format("parquet").saveAsTable(table)

    /** Land one more segment: the same bucket spec, appended — Spark
      * writes per-bucket files, so the table stays hash-clustered and
      * the fold below stays exchange-free across any segment count. */
    def appendSegment(spark: SparkSession, table: String,
                      segment: DataFrame, buckets: Int): Unit =
      segment.write.mode("append")
        .bucketBy(buckets, "sh").sortBy("sh")
        .format("parquet").saveAsTable(table)

    /** The logical index over all landed segments — [[mergeSegments]]
      * on the bucketed scan; zero Exchange by layout. */
    def fold(spark: SparkSession, table: String, cap: Int): DataFrame =
      mergeSegments(spark.table(table), cap)
  }

  /** LSM compaction: fold all index segments into one (the scheduled
    * OPTIMIZE of a segment-structured table). Never changes a SERVED
    * result — [[mergeSegments]] is associative and pairs/components are
    * untouched — only the segment count the per-append scans touch and,
    * under erasure, the df future appends mine against (see the purge
    * note below). Single-writer, like every compaction here. */
  def compactGroups(spark: SparkSession, dir: String, cap: Int): Unit =
      Trace.timed("compact_groups") {
    val merged = mergeSegments(TxTable.read(spark, s"$dir/groups"), cap)
    // ERASURE PURGE: re-derive every rare group's membership against the
    // docs table — ids of erased documents (masked by an open
    // tombstone, or physically folded) drop out of the inverted-index
    // arrays, and a shingle whose every doc was erased drops its row
    // entirely (exactly what a from-scratch rebuild of the live corpus
    // produces); a RE-ADMITTED id is back in docs and stays. `groups ⊆
    // docs` holds for every non-erasure flow (docs commits before
    // groups in each append), so this is a no-op there. Each purged
    // rare row's df RE-DERIVES from its rebuilt postings (`size(ids)` —
    // the live document frequency; one projection on arrays already in
    // hand), so a rare shingle stops counting erased instances at every
    // scheduled OPTIMIZE and the re-admission model stays uniform: a
    // fully-erased row drops and a later re-add revives it at its live
    // df, which is now ALSO what every partially-purged row carries
    // (DedupReadmitModelSpec pins the live-reset instance-df model).
    // HOT (NULL-ids) rows are the one place the conservative recorded
    // df remains: their postings were never stored (that is what the
    // cap bounds), so their live df is underivable without the
    // inv(docs) corpus pass — [[optimizeIndex]] is that scheduled
    // deeper tier. Keeping df(full) for them only SUPPRESSES candidacy
    // (a shingle looks more common, never rarer): zero precision loss,
    // the documented recall window. One extra exchange over the index
    // per SCHEDULED compaction — the erasure ledger is the docs table
    // itself, no side state.
    val live = TxTable.read(spark, s"$dir/docs").select(col("doc_id"))
    val hot = merged.filter(col("ids").isNull)
    // No distinct before regrouping: mergeSegments groups to ONE row per
    // sh and array_distincts its ids, so the exploded (sh, doc_id) rows
    // are unique by construction and the semi-join preserves that —
    // size(ids) below IS the live document frequency. (A distinct here
    // was provably a no-op and cost a full extra exchange per scheduled
    // OPTIMIZE; the set invariant lives in mergeSegments, property-
    // tested there.)
    val purgedRare = merged.filter(col("ids").isNotNull)
      .select(col("sh"), explode(col("ids")).as("doc_id"))
      .join(live, Seq("doc_id"), "left_semi")
      .groupBy(col("sh"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .select(col("sh"), col("ids"), size(col("ids")).cast("long").as("df"))
    // Restores sh-range-clustering along with the fold (appends land
    // their segments clustered too, but compaction re-tightens the
    // per-file bounds across the merged whole). PERSISTED first:
    // repartitionByRange's RangePartitioner samples its child in a
    // separate pass before the write, so an uncached union would run
    // the whole merge+purge aggregation TWICE per scheduled OPTIMIZE.
    val out = purgedRare.unionByName(hot).persist(StorageLevel.MEMORY_AND_DISK)
    try TxTable.overwrite(spark, s"$dir/groups",
      out.repartitionByRange(col("sh")).sortWithinPartitions(col("sh")))
    finally out.unpersist()
    ()
  }

  /** Whole-index OPTIMIZE: fold the groups segments, collapse the
    * pairs segments into one, and restore the components table's
    * doc_id range-clustering (appends fragment it — each pruned
    * replace lands its rewrites unclustered, and clustering is what
    * keeps the NEXT replace's hit set proportional to its keys).
    * Result-transparent by construction: every step rewrites a table
    * to an equal-content layout. Single-writer, scheduled — the same
    * OPTIMIZE cadence any LSM/Delta deployment runs. */
  def compact(spark: SparkSession, dir: String, cap: Int): Unit = {
    compactGroups(spark, dir, cap)
    TxTable.overwrite(spark, s"$dir/pairs",
      TxTable.read(spark, s"$dir/pairs"))
    TxTable.overwrite(spark, s"$dir/docs",
      TxTable.read(spark, s"$dir/docs")
        .repartitionByRange(col("doc_id"))
        .sortWithinPartitions(col("doc_id")))
    TxTable.overwrite(spark, s"$dir/components",
      TxTable.read(spark, s"$dir/components")
        .repartitionByRange(col("doc_id"))
        .sortWithinPartitions(col("doc_id")))
    ()
  }

  /** DEEP OPTIMIZE: converge the whole index to EXACTLY what a
    * from-scratch [[build]] of the live corpus produces — the tier that
    * CLOSES the erasure recall window [[compact]] deliberately leaves
    * open (DedupErasureRecallSpec asserts gap=0 after this call).
    *
    * Why a separate tier (the ADR the recall window demanded):
    * [[compactGroups]]' purge re-derives a RARE row's df from its
    * rebuilt postings for free, but a HOT row's postings were never
    * stored — the cap is what bounds aggregation state, so at 10⁹
    * postings "keep the hot lists just in case" is exactly the blow-up
    * the cap exists to prevent. Reviving a hot-but-now-live-rare
    * shingle therefore REQUIRES the inv(docs) corpus pass, and once a
    * shingle revives, pairs it should have witnessed must be RE-MINED —
    * old×old candidacy can improve under erasure, which no per-append
    * delta mine revisits (appends only mine new×all). So the deep tier
    * is: fold every standing mask physical (clearing value-keyed
    * tombstones so re-mined pairs of re-admitted ids serve), re-derive
    * `groups` from the docs ledger (live df everywhere, hot rows
    * included), re-mine `pairs` from scratch, and re-fold `components`
    * — a corpus-mine-shaped job, scheduled like any deployment's deep
    * OPTIMIZE/rebuild window, but reusing the ledger instead of
    * re-ingesting the corpus. Served pairs only GROW (precision is
    * exact on both sides: served ⊆ rebuild always, spec-pinned).
    *
    * Concurrency: every rewrite claims ITS table's PLANNED successor
    * version, so a writer landing anywhere in the plan→commit window
    * surfaces as ConcurrentCommitException and the whole tier RE-PLANS
    * from fresh snapshots — the raced-in rows join the re-derive. A
    * racing segment is never clobbered (the old unconditional
    * overwrite re-applied the PLANNED docs row set over whatever
    * landed in between, silently dropping a raced-in docs segment).
    * [[append]]'s own claims are unconditional segments, so the
    * conflict always resolves loud-on-the-optimize-side: the append
    * lands, the optimize retries over it. Readers can still observe
    * adjacent-version tables mid-tier (there is no cross-table
    * transaction — same window every append has); an APPEND whose
    * plan→commit window an entire optimize fits inside keeps the
    * instance-df model's documented guarantees, the scheduled-window
    * discipline [[compact]] already assumes. */
  def optimizeIndex(spark: SparkSession, dir: String, cap: Int,
                    maxIter: Int = 20): Seq[(String, Double)] = {
    val clock = Trace.clock("opt_")
    var done = false
    while (!done) {
      // NO upfront physical mask fold (r18; was a Par.all foldDeletes
      // over all four tables — ~2 s of pruned-replace I/O per tier at
      // sf0.1): every table below gets a FULL conditional replace
      // commit, and a whole-table replace DEFINES the new contents, so
      // standing tombstones fold away with the replaced data
      // (TxTable.commit clears dkeys when keepExisting=false). The
      // tier's reads are mask-correct without it — TxTable.read applies
      // deletes, so `d` below is exactly the live ledger — and stale
      // value-keyed tombstones cannot suppress re-mined rows of
      // re-admitted ids because no tombstone survives the tier's own
      // commits. Crash/race behavior is unchanged: a crash mid-tier
      // leaves masked (logically identical) tables, and a tombstone
      // landing after planning fails the first affected commit into
      // the re-plan loop exactly as a raced-in segment does.
      //
      // The planning snapshots every conditional commit below claims
      // against; a tombstone or segment landing after this line fails
      // the first affected commit and re-enters the loop.
      val snaps = StageTables.map(t => t -> TxTable.snapshot(s"$dir/$t")).toMap
      val d = TxTable.read(spark, s"$dir/docs", snaps("docs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val grouped = groupsWithDf(inv(d), cap)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        optimizeRaceHookForTest()
        // The groups rewrite and the pair re-mine both read the CACHED
        // `grouped` aggregation and commit to different tables —
        // independent chains, overlapped (§2.6). Both commits stay
        // conditional on their planning snapshots; a lost race on
        // EITHER surfaces at the join below and re-enters the re-plan
        // loop exactly as the sequential form did (tables already
        // rewritten hold derived content and are rewritten again from
        // the fresh ledger).
        implicit val optEc: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        val groupsF = scala.concurrent.Future {
          TxTable.commit(spark, s"$dir/groups",
            grouped.repartitionByRange(col("sh")).sortWithinPartitions(col("sh")),
            snaps("groups"))
        }
        val rareCnt = grouped.filter(col("ids").isNotNull)
          .select(explode(col("ids")).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("kc"))
        val pSnap =
          try TxTable.commit(spark, s"$dir/pairs",
            boundedVerify(pairCounts(grouped), d, rareCnt), snaps("pairs"))
          finally scala.concurrent.Await.ready(groupsF,
            scala.concurrent.duration.Duration.Inf)
        // Surface the groups outcome (a ConcurrentCommitException here
        // rethrows into the outer re-plan catch).
        scala.concurrent.Await.result(groupsF,
          scala.concurrent.duration.Duration.Inf)
        clock.mark("groups_rederive_pair_mine")
        // Edges read at the snapshot THIS commit produced — a segment
        // appended right after it must not leak into this tier's fold.
        val pairEdges = TxTable.read(spark, s"$dir/pairs", pSnap)
          .select(col("a").as("src"), col("b").as("dst"))
        val edgeRows = pairEdges.limit(MaxReplaceKeys + 1).collect()
        val comps =
          if (edgeRows.length <= MaxReplaceKeys)
            spark.createDataFrame(unionFindLabels(edgeRows).toSeq)
              .toDF("doc_id", "component")
          else GraphOps.connectedComponents(spark, pairEdges, maxIter)
            .select(col("node").as("doc_id"), col("component"))
        TxTable.commit(spark, s"$dir/components",
          comps.repartitionByRange(col("doc_id"))
            .sortWithinPartitions(col("doc_id")),
          snaps("components"))
        clock.mark("cc_refold")
        optimizeLateRaceHookForTest()
        // Docs itself only re-clusters (the fold above may have landed
        // key-clustered rewrite dirs off the doc_id range layout) —
        // conditionally, like the rest: this is the commit that would
        // otherwise CLOBBER an append's docs segment raced in since
        // planning (the re-cluster writes the planned row set).
        TxTable.commit(spark, s"$dir/docs",
          d.repartitionByRange(col("doc_id")).sortWithinPartitions(col("doc_id")),
          snaps("docs"))
        clock.mark("docs_recluster")
        done = true
      } catch { case _: TxTable.ConcurrentCommitException =>
        // A writer landed since planning: re-plan so its rows join the
        // re-derive. Tables this attempt already rewrote hold
        // equal-or-stale-derived content and are rewritten again from
        // the fresh ledger — nothing is lost, the retry pays one more
        // corpus pass (contention in a scheduled window is rare).
        clock.mark("replan_lost_race")
      } finally { grouped.unpersist(); d.unpersist(); () }
    }
    clock.phases
  }

  /** Test-only interleave points (the [[PQIndexTx.optimizeRaceHookForTest]]
    * convention): run between [[optimizeIndex]]'s planning and its first
    * commit / its last (docs) commit, so a spec can land a concurrent
    * append deterministically inside either race window. No-ops in
    * production. */
  @volatile private[operators] var optimizeRaceHookForTest: () => Unit = () => ()
  @volatile private[operators] var optimizeLateRaceHookForTest: () => Unit = () => ()

  private val StageTables = Seq("docs", "groups", "pairs", "components")
  private def basePath(dir: String) = java.nio.file.Paths.get(dir, "BASE_VERSIONS.json")

  /** Record the stage tables' CURRENT versions as the restore point for
    * [[restoreBase]] — call once after a base build. This is what lets
    * a benchmark (or an ingest rollback) measure/replay the MARGINAL
    * append repeatedly against an identical base: restore is a
    * manifest-only commit (Delta RESTORE), so resetting a 100 TB index
    * costs four tiny file claims, not a rewrite. */
  def markBase(dir: String): Unit = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val versions = StageTables.map(t => t -> TxTable.snapshot(s"$dir/$t").version).toMap
    java.nio.file.Files.writeString(basePath(dir),
      org.json4s.jackson.Serialization.write(versions))
  }

  /** Reset every stage table to the [[markBase]] restore point (no-op
    * for tables already there). Data committed after the mark stays on
    * disk until TxTable.vacuum — pinned readers are never broken. */
  def restoreBase(spark: SparkSession, dir: String): Unit =
      Trace.timed("restore") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val versions = org.json4s.jackson.JsonMethods
      .parse(java.nio.file.Files.readString(basePath(dir)))
      .extract[Map[String, Long]]
    // Four INDEPENDENT tables' manifest-only commits — overlapped
    // (Par.all, §2.6): each restore is its own dir's claim.
    Par.all(StageTables.map(t =>
      () => { TxTable.restore(spark, s"$dir/$t", versions(t)); () }))
    ()
  }
}
