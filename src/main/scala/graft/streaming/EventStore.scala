package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TxTable

/** Parquet-backed table store with the two upsert shapes the reference
  * uses (SURVEY.md §2.1 S4/S5): insert-if-absent (`INSERT IGNORE`) and
  * arithmetic merge (`ON DUPLICATE KEY UPDATE`).
  *
  * Every table is a [[TxTable]] — the manifest-log format whose commits
  * are an atomic version-file claim. Earlier rounds committed rewrites
  * by directory swap (move target → old, move tmp → target), which has
  * a window where the target path does not exist: a new reader
  * resolving between the two moves failed with NoSuchFile. The manifest
  * commit has no such window — a reader resolves either the old or the
  * new version, never nothing — and brings snapshot isolation (a pinned
  * plan scans its version's files regardless of later commits) and
  * serialized writers for free. The reference gets all three from
  * InnoDB (init/mysql_loader.py:1044-1057); with Delta available this
  * entire class collapses to `MERGE INTO`.
  *
  * Facts are append-only (each batch commits one immutable data dir);
  * derived tables are rewritten per merge — correct for
  * dimension/summary cardinality. [[mergeSummaryPruned]] is the 100 TB
  * shape: footer-stat file pruning so only the files a delta touches
  * rewrite (what Delta MERGE executes against its transaction-log
  * stats), with everything else carried by reference (manifest entry).
  *
  * Superseded versions accumulate until [[vacuum]] — the Delta model:
  * time-travel-until-vacuumed, bounded disk via periodic retention-
  * aware cleanup, never a commit-time delete that could break a
  * concurrent pinned reader.
  */
final class EventStore(root: String) {

  private def dir(name: String) = s"$root/$name"

  private def ensureInit(spark: SparkSession, name: String,
                         schema: org.apache.spark.sql.types.StructType,
                         bloomCols: Seq[String] = Nil): Unit =
    if (!TxTable.exists(dir(name)))
      // The user summary registers user_id Bloom filters: the pruned
      // merge probes delta keys per dir, so interleaved-but-NEW users
      // (fresh keys landing inside existing key ranges — the common
      // growth case) stop rewriting files that provably hold none of
      // them. insertIfAbsent tables register their own key the same
      // way (the caller passes it) — the probe side of INSERT IGNORE.
      TxTable.init(spark, dir(name), schema,
        bloomCols = if (name == "summary_user") Seq("user_id") else bloomCols)

  private def readOrEmpty(spark: SparkSession, name: String, like: DataFrame): DataFrame =
    if (TxTable.exists(dir(name))) TxTable.read(spark, dir(name)) else like.limit(0)

  /** Normalized fact schema (ts already µs TimestampType). */
  private val factSchema = org.apache.spark.sql.types.StructType(
    StreamIngest.rawSchema.map {
      case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.TimestampType)
      case f => f
    })

  def facts(spark: SparkSession): DataFrame =
    if (TxTable.exists(dir("fact_events"))) TxTable.read(spark, dir("fact_events"))
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), factSchema)

  def appendFacts(df: DataFrame): Unit = {
    // event_id blooms: the ingest loop's idempotence check probes each
    // batch's ids against them ([[absentOnly]]) instead of anti-scanning
    // the whole fact history per trigger.
    ensureInit(df.sparkSession, "fact_events", df.schema,
      bloomCols = Seq("event_id"))
    TxTable.append(df.sparkSession, dir("fact_events"), df)
  }

  def table(spark: SparkSession, name: String): DataFrame =
    TxTable.read(spark, dir(name))

  /** Driver bound for [[insertIfAbsent]]'s per-batch key collect (the
    * Bloom probe runs driver-side); a batch beyond it falls back to the
    * exact key-column anti-scan. Dimension inserts are per-micro-batch
    * distinct keys — far below this in any sane trigger. */
  private[streaming] val MaxProbeKeys = 100000

  /** Delta commits before [[insertIfAbsent]] folds its table back to
    * one key-clustered dir — the LSM level-0 discipline: a long stream
    * of per-batch appends must not fragment every future read and
    * bloom probe linearly in batches. */
  private[streaming] val AutoCompactDirs = 16

  /** The rows of `up` whose `key` is ABSENT from `d@snap` — the probe
    * half of INSERT IGNORE. The present-key read is MANIFEST-PLANNED
    * for long/string keys within the driver bound: the batch's keys
    * refine per-dir through the table's Bloom sidecars and prune by
    * stats bounds ([[TxTable.lookupFiles]]/`lookupStringFiles`, read
    * by [[TxTable.scanKeys]] — partial
    * bloom coverage composes per dir, so one over-cap compacted dir
    * degrades only its own pruning), and a typical all-new batch reads
    * ZERO stored files. Fallbacks — an unbloomable key type (the date
    * dimension's DateType key), an over-bound batch — take the exact
    * key-column anti-scan this replaces; every fallback is the old
    * read cost, never wrong rows. */
  private def freshAgainst(spark: SparkSession, d: String,
      snap: TxTable.Snapshot, up: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val keyType = up.schema(key).dataType
    def exact = TxTable.read(spark, d, snap).select(key)
    val present: DataFrame =
      if (keyType != LongType && keyType != StringType) exact
      else {
        // NULL keys never equi-match, so they are dropped from the probe
        // set (getLong/getString would NPE on them); the anti-join below
        // keeps their rows "fresh" exactly as the exact fallback would.
        val keyRows =
          up.select(key).na.drop(Seq(key)).limit(MaxProbeKeys + 1).collect()
        if (keyRows.length > MaxProbeKeys) exact
        else if (keyType == LongType) {
          val ks = keyRows.toSeq.map(_.getLong(0))
          TxTable.scanKeys(spark, snap, key, ks, TxTable.lookupFiles(d, snap, key, ks))
            .select(key)
        } else {
          val ks = keyRows.toSeq.map(_.getString(0))
          TxTable.scanKeys(spark, snap, key, ks, TxTable.lookupStringFiles(d, snap, key, ks))
            .select(key)
        }
      }
    up.join(present, Seq(key), "left_anti")
  }

  /** The subset of `updates` absent from `name` by `key` — the INSERT
    * IGNORE probe exposed for callers that land rows through their own
    * append path (the fact ingest dedups event_ids with it before
    * [[appendFacts]], instead of anti-scanning the fact history per
    * batch). A missing table means everything is fresh.
    *
    * `updates` is PINNED to one evaluation (local checkpoint) before
    * the probe: [[freshAgainst]] evaluates the batch twice — the
    * driver key-collect that plans the pruned present-key read, then
    * the anti-join — and a nondeterministic input could otherwise
    * yield a key in the second evaluation that the first never probed,
    * slipping an already-stored key past the idempotence check. The
    * RESULT comes back materialized (its own local checkpoint) so the
    * input pin can be released before returning — holding it until
    * driver GC would accumulate a pinned batch per trigger on a
    * long-running stream. The returned frame is lineage-free; callers
    * need no checkpoint of their own. */
  def absentOnly(name: String, updates: DataFrame, key: String): DataFrame =
    if (!TxTable.exists(dir(name))) updates
    else {
      val spark = updates.sparkSession
      val (pinned, upRdd) =
        org.apache.spark.sql.graft.InternalCheckpoint.pin(spark, updates)
      val (fresh, freshRdd) = org.apache.spark.sql.graft.InternalCheckpoint.pin(
        spark, freshAgainst(spark, dir(name),
          TxTable.snapshot(dir(name)), pinned, key))
      freshRdd.count() // materialize against THIS evaluation of the input
      upRdd.unpersist(blocking = false)
      fresh
    }

  /** S4: first-writer-wins keyed insert (`INSERT IGNORE`) — APPEND-
    * shaped. The previous shape (anti-join inside [[TxTable.merge]])
    * REWROTE the whole table every call: O(table) writes per
    * micro-batch, which at 100 TB turns a dimension trickle into a
    * full compaction's worth of I/O per trigger. Now the batch's keys
    * probe the table's per-dir Bloom filters where registered
    * (LONG/STRING keys register at init): a bloom-negative key is
    * PROVEN absent with zero table I/O, only the bloom-positive
    * suspects pay an exact check against the stats-pruned hit files
    * ([[TxTable.lookupFiles]]/`lookupStringFiles`, read by
    * [[TxTable.scanKeys]]), and only the fresh
    * rows land — one delta commit. Optimistic retry: a racing commit
    * fails the version claim, and the re-probe against the new
    * snapshot re-arbitrates, so concurrent inserters of the same key
    * still serialize to one winner. Past [[AutoCompactDirs]] delta
    * commits the table folds to one key-clustered dir. `updates` must
    * be key-unique within the batch (both ingest callers aggregate or
    * distinct on the key first). */
  def insertIfAbsent(name: String, updates: DataFrame, key: String): Unit = {
    val spark = updates.sparkSession
    import org.apache.spark.sql.types.{LongType, StringType}
    val keyType = updates.schema(key).dataType
    val bloomable = keyType == LongType || keyType == StringType
    ensureInit(spark, name, updates.schema,
      bloomCols = if (bloomable) Seq(key) else Nil)
    val d = dir(name)
    // Pin ONE evaluation of the batch: the probe, the emptiness check,
    // and the appended rows must all see the same rows.
    val (up, upRdd) =
      org.apache.spark.sql.graft.InternalCheckpoint.pin(spark, updates)
    var done = false
    while (!done) {
      val snap = TxTable.snapshot(d)
      val (fresh, freshRdd) = org.apache.spark.sql.graft.InternalCheckpoint.pin(
        spark, freshAgainst(spark, d, snap, up, key))
      try {
        if (freshRdd.count() > 0)
          TxTable.commit(spark, d, fresh, snap, keepExisting = true)
        done = true
      } catch { case _: TxTable.ConcurrentCommitException => () } // re-probe
      finally freshRdd.unpersist(blocking = false)
    }
    upRdd.unpersist(blocking = false)
    // Level-0 fold: compact the accumulated delta dirs into ONE
    // key-clustered dir (tight per-file bounds keep the suspect
    // lookups O(hit files)) while the base dir carries BY REFERENCE —
    // O(deltas) I/O per fold, never the O(table) rewrite the old
    // whole-table overwrite paid every AutoCompactDirs batches. A
    // racing commit skips the fold (maintenance, not data — the next
    // over-cap batch retriggers it).
    val after = TxTable.snapshot(d)
    if (after.dirs.size > AutoCompactDirs)
      try TxTable.compactDirs(spark, d, after, TxTable.levelZeroDirs(d, after))(
        _.repartitionByRange(col(key)).sortWithinPartitions(col(key)))
      catch { case _: TxTable.ConcurrentCommitException => () }
    ()
  }

  /** The ON-DUPLICATE-KEY-UPDATE arithmetic, shared by the full and the
    * file-pruned merge paths. */
  private def mergeFrames(existing: DataFrame, delta: DataFrame): DataFrame = {
    val e = existing.select(col("user_id"), col("event_cnt").as("e_cnt"),
      col("total_value").as("e_val"), col("last_ts").as("e_ts"))
    e.join(delta, Seq("user_id"), "full_outer").select(
      col("user_id"),
      (coalesce(col("e_cnt"), lit(0L)) + coalesce(col("event_cnt"), lit(0L))).as("event_cnt"),
      (coalesce(col("e_val"), lit(0).cast("decimal(18,2)")) +
        coalesce(col("total_value"), lit(0).cast("decimal(18,2)")))
        .cast("decimal(18,2)").as("total_value"),
      greatest(col("e_ts"), col("last_ts")).as("last_ts"))
  }

  /** S5/A21: arithmetic merge of per-user deltas into running totals —
    * [[TxTable.merge]]'s optimistic read-transform-commit, so the
    * summary update IS the transactional upsert (lost updates are
    * impossible even under writer contention, which the old single-
    * writer swap could not promise). */
  def mergeSummary(delta: DataFrame): Unit = {
    val spark = delta.sparkSession
    ensureInit(spark, "summary_user",
      mergeFrames(delta.limit(0), delta.limit(0)).schema)
    TxTable.merge(spark, dir("summary_user"))(existing => mergeFrames(existing, delta))
    ()
  }

  /** Lay the summary out as `files` range-clustered, in-file-sorted
    * parquet files on the merge key — the layout [[mergeSummaryPruned]]
    * prunes against (Delta/Iceberg call this OPTIMIZE ZORDER; on plain
    * parquet it is a range repartition committed as a new version). */
  def clusterSummary(spark: SparkSession, files: Int): Unit = {
    TxTable.merge(spark, dir("summary_user")) { cur =>
      cur.repartitionByRange(files, col("user_id"))
        .sortWithinPartitions(col("user_id"))
    }
    ()
  }

  /** File-pruned MERGE (the shape Delta's `MERGE INTO` executes at
    * 100 TB): only summary files whose footer key range intersects the
    * delta's keys are read and rewritten; every other file is carried
    * into the new table version UNCHANGED — by reference (a manifest
    * entry, Delta's add/remove-file actions), so a merge's I/O is
    * O(rewritten files), never an O(table) copy.
    *
    * Commits via [[TxTable]] staged data: the rewritten rows land in an
    * invisible staged directory, carries are copied in, then one atomic
    * manifest claim makes the new version visible — readers pinned to
    * the old version keep their files (nothing is deleted until
    * [[vacuum]]). Single-writer path: the prune set is computed from
    * one snapshot, so a concurrent writer would be a lost update —
    * [[mergeSummary]] is the contention-safe variant.
    *
    * Size guard: the delta's distinct key set must collect (micro-batch
    * sized); above `maxDeltaKeys` fall back to the full-rewrite merge
    * (pruning needs per-file key membership, and a huge delta touches
    * most files anyway). Returns (rewrittenFiles, totalFiles).
    */
  def mergeSummaryPruned(delta: DataFrame, maxDeltaKeys: Int = 100000): (Long, Long) = {
    val spark = delta.sparkSession
    if (!TxTable.exists(dir("summary_user"))) { mergeSummary(delta); return (0L, 0L) }
    if (delta.select(col("user_id")).distinct().limit(maxDeltaKeys + 1).count() > maxDeltaKeys) {
      mergeSummary(delta)
      val n = snapshotFiles(TxTable.snapshot(dir("summary_user")), "summary_user").size.toLong
      return (n, n)
    }
    val keys = delta.select(col("user_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    // The keyed-replace form of the merge: existing rows carrying a
    // delta key are replaced by their arithmetic merge with the delta
    // (rows of hit files with OTHER keys survive via the replace's own
    // anti-join; delta keys in no file are pure inserts). File pruning,
    // byte-identical carries, and the staged atomic commit are
    // PrunedReplace's — manifest stats first, footer read only as the
    // pre-stats fallback — and the merge derivation reads only the HIT
    // files' rows through the replaceWith hook, never the whole table.
    try graft.sources.PrunedReplace.replaceWith(
      spark, dir("summary_user"), "user_id", keys) { hitRows =>
      mergeFrames(hitRows.filter(col("user_id").isInCollection(keys)), delta)
    } catch { case _: TxTable.ConcurrentCommitException =>
      // Lost the single-writer race (the pruned plan derived from a
      // superseded snapshot): re-run as the contention-safe retrying
      // merge, which re-reads fresh per attempt — upsert semantics are
      // preserved, nothing is clobbered.
      mergeSummary(delta)
      val n = snapshotFiles(TxTable.snapshot(dir("summary_user")), "summary_user").size.toLong
      (n, n)
    }
  }

  /** Fact rows appended since `sinceVersion`, plus the version to
    * checkpoint for the next poll — the downstream-consumer read (the
    * silver→gold hop of a medallion pipeline): a consumer maintains its
    * own derived table from exactly the new facts, never re-scanning
    * the fact history and never coupling to the ingest process. The
    * fact store is append-only (compaction aside), so
    * [[graft.sources.TxTable.readChanges]]'s append-only contract
    * holds; a consumer lagging past the vacuum window or across a
    * [[compactFacts]] gets a clear error and re-seeds from a full
    * snapshot — Delta's documented behavior for streaming past
    * OPTIMIZE/VACUUM. */
  def factChangesSince(spark: SparkSession, sinceVersion: Long): (DataFrame, Long) = {
    // A consumer may start polling before the first ingest: no store yet
    // means no changes. Checkpoint 0 — the init commit every store
    // starts at — so the first poll after creation reads everything.
    if (!TxTable.exists(dir("fact_events")))
      return (spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), factSchema), 0L)
    val head = TxTable.snapshot(dir("fact_events")) // resolved ONCE per poll
    (TxTable.readChanges(spark, dir("fact_events"), sinceVersion, head), head.version)
  }

  /** Current commit version of the fact store — the checkpoint seed for
    * a consumer that wants to start from "now" (0 — the init commit —
    * when the store does not exist yet, matching [[factChangesSince]]'s
    * pre-ingest contract). */
  def factVersion(): Long =
    if (TxTable.exists(dir("fact_events"))) TxTable.snapshot(dir("fact_events")).version
    else 0L

  /** The fact store as a STREAM (`graft-txtable` source): the
    * [[factChangesSince]] poll loop handed to Structured Streaming —
    * the engine owns the checkpointed version cursor, batches are
    * exactly the new commits' files, and the downstream is any
    * writeStream/foreachBatch. The store must exist (the source
    * resolves its schema from the table's manifest). */
  def factStream(spark: SparkSession,
                 maxCommitsPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.format("graft-txtable")
    maxCommitsPerTrigger.foreach(n => r.option("maxCommitsPerTrigger", n.toString))
    r.load(dir("fact_events"))
  }

  /** Fact rows with `ts` in [fromMicros, toMicros] (epoch µs, closed
    * interval), scanning ONLY the files whose manifest ts range
    * intersects the window — file-level time pruning from the stats
    * recorded at commit ([[TxTable.Snapshot.stats]]). After
    * [[compactFacts]]'s time clustering, a narrow window reads a few
    * files of a year-long store; without manifest stats the planner
    * would enumerate and footer-check every file of every version on
    * every query. Files with no recorded stats are scanned
    * conservatively; the residual row filter keeps exactness either
    * way. Returns (frame, filesScanned, filesTotal).
    */
  def factsInRange(spark: SparkSession, fromMicros: Long, toMicros: Long)
      : (DataFrame, Long, Long) = {
    val lo = timestamp_micros(lit(fromMicros))
    val hi = timestamp_micros(lit(toMicros))
    def residual(df: DataFrame) = df.filter(col("ts") >= lo && col("ts") <= hi)
    if (!TxTable.exists(dir("fact_events")))
      return (residual(facts(spark)), 0L, 0L)
    val snap = TxTable.snapshot(dir("fact_events"))
    val files = TxTable.dataFiles(dir("fact_events"), snap)
    val hit = files.collect {
      case (f, st) if st.get("ts").forall { case (mn, mx) =>
        mn <= toMicros && mx >= fromMicros } => f
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(snap.schemaDdl)
    val df =
      if (hit.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      // Tombstone mask BEFORE the residual filter: this is a direct
      // file scan, and skipping applyDeletes would resurrect rows a
      // deferred erasure removed ([[eraseUsersDeferred]]).
      else TxTable.applyDeletes(
        residual(spark.read.schema(schema).parquet(hit.map(_.toString): _*)), snap)
    (df, hit.size.toLong, files.size.toLong)
  }

  /** Parquet data files of a snapshot (manifest-listed, exclusion-aware
    * — the version-aware replacement for walking the table directory,
    * which would also see superseded versions awaiting vacuum and files
    * a keyed replace removed by reference). */
  private def snapshotFiles(snap: TxTable.Snapshot,
                            name: String): Seq[java.nio.file.Path] =
    TxTable.dataFiles(dir(name), snap).map(_._1)


  /** Small-file compaction for the append-only fact store: every
    * micro-batch append lands O(shuffle-partitions) files, and a week of
    * 10-second batches turns a 100 TB table into millions of KB-files —
    * scan planning then dominates query time. PARTIAL
    * ([[TxTable.compactDirs]]): only FOLD-WORTHY dirs read and rewrite
    * — those holding more files than their bytes bin-pack to, or tiny
    * ones (< targetBytes/2) worth merging upward — bin-packed into
    * ceil(their bytes / targetBytes) files, range-clustered and sorted
    * by event time so ts predicates prune whole files via parquet
    * min/max — while every other dir carries BY REFERENCE. A dir this
    * compaction produced passes neither test once it outgrows half a
    * bin, so steady state is a NO-OP and a year of history compacted
    * long ago costs nothing to re-compact: each call's I/O is
    * proportional to the small-file backlog, never the table. Time-slice pruning is
    * per-FILE, so global re-clustering across old dirs buys nothing
    * this keeps paying for. Committed as one new version (readers never
    * torn — they hold the old manifest); a racing append re-plans.
    * Returns (filesBefore, filesAfter).
    *
    * (With Delta/Iceberg this is OPTIMIZE + ZORDER over the small-file
    * bins; the arithmetic — size-targeted bin-packing plus time
    * clustering — is the same.)
    *
    * `zorder = true` lays the fold out on the (ts, `zorderIdCol`)
    * Morton curve ([[graft.operators.ZOrder]]) instead of the
    * (ts, event_id) range sort: each file becomes a small rectangle in
    * (time × id) space, so BOTH of the table's access paths prune —
    * `factsInRange`'s time slices AND the id column's point lookups
    * (event_id: the ST2 idempotence probe; user_id: [[eraseUsers]]) —
    * where range clustering serves only time (every file spans the full
    * id domain unless ids happen to arrive in time order). Costs two
    * extra bounded shuffle passes per fold (rank-bucketing); layout
    * maintenance only — contents and oracle results are unchanged. */
  def compactFacts(spark: SparkSession,
                   targetBytes: Long = 128L * 1024 * 1024,
                   zorder: Boolean = false,
                   zorderIdCol: String = "event_id"): (Long, Long) = {
    val d = dir("fact_events")
    if (!TxTable.exists(d)) return (0L, 0L)
    val first = snapshotFiles(TxTable.snapshot(d), "fact_events")
    if (first.isEmpty) return (0L, 0L)
    var done = false
    while (!done) {
      val snap = TxTable.snapshot(d)
      val perDir = TxTable.dataFiles(d, snap)
        .groupBy(_._1.getParent.getFileName.toString)
      // A dir is fold-worthy when folding can actually help: it holds
      // MORE files than its bytes bin-pack to (small-file backlog), or
      // it is itself tiny (< half a bin — worth merging into a bigger
      // neighbor). A dir this compaction produced — ceil(B/T) files —
      // passes NEITHER test once it outgrows T/2, so steady state is a
      // no-op: without the bin-count test, a folded dir's mean file
      // size (B / ceil(B/T)) sits just under T forever and every call
      // re-reads and re-writes ALL previously folded data — O(table)
      // write amplification per fold, the exact cost this partial
      // shape exists to avoid.
      val small = snap.dirs.filter { dd =>
        perDir.get(dd).exists { fs =>
          // Vanish-tolerant: a concurrent vacuum may retire a listed
          // file between list and stat; sizing it 0 only re-plans.
          val bytes = fs.map(f => TxTable.sizeOrZero(f._1)).sum
          val bins = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
          // Multi-file dirs under one full bin are raw appends worth
          // clustering even when their file count is already minimal
          // (a fold PRODUCT under targetBytes is always ONE file —
          // parts = ceil(B/T) = 1 — so this clause can never refold
          // compaction's own output).
          fs.size > bins || bytes < targetBytes / 2 ||
            (fs.size > 1 && bytes < targetBytes)
        }
      }
      val smallFiles = small.flatMap(perDir.getOrElse(_, Nil))
      val smallBytes = smallFiles.map(f => TxTable.sizeOrZero(f._1)).sum
      val parts = math.max(1L, (smallBytes + targetBytes - 1) / targetBytes).toInt
      if (small.isEmpty || smallFiles.size <= parts) done = true
      else {
        val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        val layout: DataFrame => DataFrame =
          if (zorder)
            graft.operators.ZOrder.clusterTracked(parts,
              unix_micros(col("ts")), col(zorderIdCol), caches)
          else
            _.repartitionByRange(parts, col("ts"), col("event_id"))
              .sortWithinPartitions(col("ts"), col("event_id"))
        try {
          TxTable.compactDirs(spark, d, snap, small)(layout)
          done = true
        } catch { case _: TxTable.ConcurrentCommitException => () } // re-plan
        finally caches.foreach(_.unpersist(blocking = false))
      }
    }
    (first.size.toLong,
      snapshotFiles(TxTable.snapshot(d), "fact_events").size.toLong)
  }

  /** Time-based retention: expire every fact with ts < `beforeMicros`
    * ([[TxTable.expireBelow]]) — whole files whose manifest ts range is
    * fully aged drop BY REFERENCE (zero data I/O: expiring a year of
    * 10-second micro-batches costs one commit), only cutoff-straddling
    * files rewrite (filtered exactly, ts-clustered). With [[vacuum]]
    * this is the append→compact→expire→vacuum lifecycle an append-only
    * event log runs forever. Returns (droppedFiles, rewrittenFiles). */
  def expireFacts(spark: SparkSession, beforeMicros: Long): (Long, Long) = {
    val d = dir("fact_events")
    if (!TxTable.exists(d)) return (0L, 0L)
    TxTable.expireBelow(spark, d, "ts", beforeMicros)(
      _.repartitionByRange(1, col("ts"), col("event_id"))
        .sortWithinPartitions(col("ts"), col("event_id")))
  }

  /** User-data erasure (the "right to be forgotten" a real warehouse
    * must serve): remove every row of `userIds` from the fact store,
    * the derived user summary, AND the user dimension — every
    * user-keyed table the ingest maintains — each as ONE atomic
    * carry-by-reference keyed replace
    * ([[graft.sources.PrunedReplace]]) — only files whose
    * manifest user_id bounds admit a removed id are read and rewritten;
    * everything else carries untouched. Cost is therefore set by the
    * LAYOUT: under the default time clustering most fact files span the
    * full user domain and an erasure rewrites much of the table (the
    * honest cost of erasing from a time-clustered log), while a
    * deployment that compacts with `compactFacts(zorder = true,
    * zorderIdCol = "user_id")` bounds each file to a (time × user)
    * rectangle, making erasure O(files overlapping the user's ids) —
    * the same trade Delta documents for ZORDER BY on delete columns.
    *
    * Each table's erasure is one atomic commit; the two tables are
    * erased independently (no cross-table transaction — readers can
    * observe facts-erased/summary-pending between the commits, the
    * window every two-table store has). Erased versions remain in
    * table history until [[vacuum]] reclaims them — an erasure
    * workflow runs vacuum afterwards, exactly as Delta's GDPR
    * guidance does. Returns per-table (rewrittenFiles, totalFiles);
    * tables not yet created are skipped. */
  def eraseUsers(spark: SparkSession, userIds: Seq[Long])
      : Map[String, (Long, Long)] = {
    import org.apache.spark.sql.types.StructType
    Seq("fact_events", "summary_user", "dim_user").flatMap { name =>
      val d = dir(name)
      if (!TxTable.exists(d)) None
      else {
        val schema = StructType.fromDDL(TxTable.snapshot(d).schemaDdl)
        val empty = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        Some(name -> graft.sources.PrunedReplace.replaceKeys(
          spark, d, "user_id", userIds.toArray, empty))
      }
    }.toMap
  }

  /** [[eraseUsers]]' DEFERRED twin — deletion-vector-shaped erasure
    * (TxTable key tombstones): per user-keyed table, ONE metadata
    * commit masks every row of `userIds` with ZERO data files read or
    * rewritten, whatever the layout. This is the erasure path for the
    * default TIME-clustered fact log, where the eager keyed replace
    * honestly rewrites most of the table (each file spans the full
    * user domain); the tombstone costs one commit now, every read
    * masks via a codegen'd scan filter, and the next
    * [[TxTable.foldDeletes]] / compaction-window maintenance makes it
    * physical — Delta's deletion-vector trade. Same atomicity story as
    * [[eraseUsers]]: one commit per table, no cross-table transaction.
    * NOTE the legal-erasure nuance Delta documents too: the bytes
    * remain on disk until a fold + [[vacuum]] — a GDPR workflow defers
    * the erasure into its compaction window, it does not skip the
    * fold. Returns the per-table committed version. */
  def eraseUsersDeferred(userIds: Seq[Long]): Map[String, Long] =
    Seq("fact_events", "summary_user", "dim_user").flatMap { name =>
      val d = dir(name)
      if (!TxTable.exists(d)) None
      else Some(name ->
        TxTable.deleteKeysDeferred(d, "user_id", userIds).version)
    }.toMap

  /** Reclaim superseded versions and crash orphans across every table
    * in the store (Delta's VACUUM). Readers pinned to vacuumed versions
    * fail on their next scan — schedule with a retention that outlives
    * the longest query, exactly as Delta documents. */
  def vacuum(keepLast: Int = 1,
             orphanRetentionMs: Long = 10L * 60 * 1000): Unit = {
    val rootP = Paths.get(root)
    if (!Files.isDirectory(rootP)) return
    val s = Files.list(rootP)
    val tables =
      try s.iterator().asScala.map(_.getFileName.toString).toVector
      finally s.close()
    tables.foreach { t =>
      if (TxTable.exists(dir(t))) TxTable.vacuum(dir(t), keepLast, orphanRetentionMs)
    }
  }
}
