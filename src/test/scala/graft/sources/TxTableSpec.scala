package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The transactional guarantees the reference inherits from InnoDB
  * (`ON DUPLICATE KEY UPDATE` inside a transaction), reproduced on
  * plain parquet by the manifest log: atomic commits, reader snapshot
  * isolation, and serialized writers under REAL thread contention.
  */
class TxTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_tx").toString
  private val schema = StructType.fromDDL("k BIGINT, v BIGINT")

  test("init/overwrite/append round-trip; versions advance") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    assert(TxTable.read(spark, dir).count() == 0)
    TxTable.overwrite(spark, dir, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    TxTable.append(spark, dir, Seq((3L, 30L)).toDF("k", "v"))
    val s = TxTable.snapshot(dir)
    assert(s.version == 2 && TxTable.read(spark, dir).count() == 3)
  }

  test("a commit whose Bloom key is NULL in every row gets the empty filter; holdsNull sees it") {
    val dir = tmp()
    TxTable.init(spark, dir, schema, bloomCols = Seq("k"))
    TxTable.append(spark, dir, Seq((1L, 10L)).toDF("k", "v"))
    assert(!TxTable.holdsNull(spark, dir, TxTable.snapshot(dir), "k"))
    TxTable.append(spark, dir, Seq[(java.lang.Long, Long)]((null, 20L), (null, 30L)).toDF("k", "v"))
    val snap = TxTable.snapshot(dir)
    val filters = TxTable.keyBlooms(dir, snap, "k").get
    assert(filters.size == 2 && filters.count(_.mightContainLong(1L)) == 1)
    assert(TxTable.holdsNull(spark, dir, snap, "k"))
    assert(TxTable.lookupKeys(spark, dir, "k", Seq(1L)).count() == 1)
  }

  test("snapshot isolation: a pinned reader never sees later commits") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    TxTable.overwrite(spark, dir, Seq((1L, 1L)).toDF("k", "v"))
    val pinned = TxTable.read(spark, dir) // resolves v1's file list NOW
    TxTable.overwrite(spark, dir, Seq((9L, 9L), (8L, 8L)).toDF("k", "v"))
    assert(pinned.select("k").collect().map(_.getLong(0)).toSeq == Seq(1L),
      "pinned frame leaked a later commit")
    assert(TxTable.read(spark, dir).count() == 2)
  }

  test("atomicity: data without a manifest is invisible; vacuum reclaims it") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    TxTable.overwrite(spark, dir, Seq((1L, 1L)).toDF("k", "v"))
    // Simulate a crash between data write and commit: orphan data dir.
    Seq((666L, 666L)).toDF("k", "v").write.parquet(s"$dir/data/orphan-crash")
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // Default retention (10 min) must KEEP a fresh orphan — it may be an
    // in-flight commit's data directory, and deleting it would let that
    // commit succeed referencing deleted files.
    TxTable.vacuum(dir, keepLast = 1)
    assert(Files.exists(Paths.get(dir, "data", "orphan-crash")),
      "fresh orphan reclaimed under default retention")
    // Single-process-test mode: retention 0 reclaims it immediately.
    TxTable.vacuum(dir, keepLast = 1, orphanRetentionMs = 0L)
    assert(!Files.exists(Paths.get(dir, "data", "orphan-crash")))
    assert(TxTable.read(spark, dir).count() == 1) // live version untouched
  }

  test("full-form head resolves in ONE read on a 100-commit history; trimLog bounds the log") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    TxTable.append(spark, dir, Seq((1L, 10L)).toDF("k", "v"))
    // 100 manifest-only commits (alternating RESTOREs — no data writes):
    // the cheap way to grow a long history, the shape a one-commit-per-
    // batch streaming sink produces over a day.
    (1 to 100).foreach(i => TxTable.restore(spark, dir, ((i + 1) % 2).toLong))
    assert(TxTable.versions(dir).size >= 100)
    // A restore writes the FULL self-contained form, so a COLD head
    // resolution is exactly ONE commit read — no checkpoint, no replay
    // (the delta path's bounded resolution is pinned in its own spec
    // above; a WARM head is zero reads, also pinned there).
    TxTable.clearSnapshotCache()
    val before = TxTable.commitReads.get()
    val snap = TxTable.snapshot(dir)
    assert(TxTable.commitReads.get() - before == 1,
      s"snapshot read ${TxTable.commitReads.get() - before} manifests")
    // Log-only retention: drops old manifests, keeps head intact.
    TxTable.trimLog(dir, keepLast = 10)
    assert(TxTable.versions(dir).size == 10)
    val after = TxTable.snapshot(dir)
    assert(after.version == snap.version && after.dirs == snap.dirs)
    assert(TxTable.read(spark, dir).count() == 1)
    // Time travel past the retention fails clearly, as documented.
    intercept[IllegalArgumentException] { TxTable.readVersion(spark, dir, 0L) }
    // vacuum still composes after a trim: dirs referenced only by
    // dropped manifests are plain orphans under its retention rules.
    TxTable.vacuum(dir, keepLast = 1, orphanRetentionMs = 0L)
    assert(TxTable.read(spark, dir).count() == 1)
  }

  test("delta commits: payload O(delta), resolution bounded, lost checkpoint tolerated") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    (1 to 25).foreach { i =>
      TxTable.append(spark, dir,
        Seq((i.toLong, i.toLong)).toDF("k", "v").coalesce(1))
    }
    // Payload: an append commit on a 24-file table costs the same few
    // hundred bytes as one on a 4-file table — O(its own delta), never
    // O(live files).
    def size(v: Long): Long =
      Files.size(Paths.get(dir, "_log", f"v$v%016d.commit"))
    assert(size(25L) <= size(5L) * 2,
      s"delta payload grew with the table: v5=${size(5L)}B v25=${size(25L)}B")
    assert(size(25L) < 2048, s"delta commit is ${size(25L)}B, expected sub-KB scale")
    // The periodic checkpoint holds the FULL state — strictly heavier
    // than any delta, written every CheckpointInterval commits (off the
    // commit path: drain the background writer before asserting).
    TxTable.flushCheckpoints()
    val ckptPath = Paths.get(dir, "_log", f"v${20L}%016d.checkpoint")
    assert(Files.exists(ckptPath), "no checkpoint at the v20 cadence point")
    assert(Files.size(ckptPath) > size(25L) * 3,
      s"checkpoint ${Files.size(ckptPath)}B vs delta ${size(25L)}B")
    // COLD resolution reads checkpoint + tail, bounded by the interval
    // — never the 25-commit history.
    TxTable.clearSnapshotCache()
    val before = TxTable.commitReads.get()
    val snap = TxTable.snapshot(dir)
    val reads = TxTable.commitReads.get() - before
    assert(reads <= 2 + TxTable.CheckpointInterval,
      s"snapshot resolution read $reads log files")
    assert(snap.version == 25L && snap.dirs.size == 25)
    // WARM resolution of an unchanged head: one listing, ZERO reads.
    val warmBefore = TxTable.commitReads.get()
    assert(TxTable.snapshot(dir) == snap)
    assert(TxTable.commitReads.get() == warmBefore,
      "unchanged-head resolution should answer from the cache")
    // An ADVANCED head replays only the new tail on the cached base.
    TxTable.append(spark, dir, Seq((99L, 99L)).toDF("k", "v").coalesce(1))
    TxTable.clearSnapshotCache() // cold-resolve v26 to seed a fresh base
    val s26 = TxTable.snapshot(dir)
    TxTable.append(spark, dir, Seq((98L, 98L)).toDF("k", "v").coalesce(1))
    // Simulate ANOTHER process's commit being discovered: forget the
    // committing writer's own seed, keep the v26 base.
    TxTable.clearSnapshotCache()
    TxTable.seedSnapshotCacheForTest(dir, s26)
    val incBefore = TxTable.commitReads.get()
    assert(TxTable.snapshot(dir).version == 27L)
    assert(TxTable.commitReads.get() - incBefore == 1,
      "advancing one commit should read exactly that commit")
    assert(TxTable.read(spark, dir).count() == 27L)
    // Per-file stats survive the delta chain (each append contributed
    // its own entry; replay accumulated all of them).
    assert(TxTable.dataFiles(dir, TxTable.snapshot(dir))
      .count(_._2.contains("k")) == 27)
    // A LOST checkpoint degrades to the older base and a longer replay
    // — bit-identical state, never an error or a wrong answer.
    Files.delete(ckptPath)
    TxTable.clearSnapshotCache()
    assert(TxTable.snapshot(dir).dirs.take(25) == snap.dirs,
      "resolution diverged without the v20 checkpoint")
  }

  test("a checkpoint landing below the retention point is inert (late async write vs trim)") {
    // The ONE interleaving the async checkpoint writer can lose against
    // trimLog: the enqueue passed the commit-exists guard, the trim then
    // wrote its retention checkpoint at R and dropped manifests and
    // checkpoints below R, and the deferred write lands a checkpoint at
    // v < R whose replay tail (v, R) no longer exists. Resolution must
    // never be harmed: resolveAt takes the NEWEST readable checkpoint
    // ≤ target, so the retention checkpoint always outranks the stale
    // one, and the stale file is at worst an unused (but CORRECT —
    // checkpoints are pure functions of the log) older base.
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    (1 to 12).foreach(i =>
      TxTable.append(spark, dir, Seq((i.toLong, i.toLong)).toDF("k", "v").coalesce(1)))
    TxTable.flushCheckpoints()
    val v5 = TxTable.snapshotAt(dir, 5L) // the state the late write will serialize
    TxTable.trimLog(dir, keepLast = 3)   // retention checkpoint at v10, drops < v10
    assert(!Files.exists(Paths.get(dir, "_log", f"v${5L}%016d.commit")),
      "setup: trim should have dropped v5's manifest")
    TxTable.writeCheckpoint(dir, v5)     // the async writer's late landing
    TxTable.clearSnapshotCache()
    assert(TxTable.snapshot(dir).version == 12L)
    assert(TxTable.read(spark, dir).count() == 12L,
      "a stale below-retention checkpoint changed the resolved state")
    // Kept versions stay resolvable through their retention checkpoint.
    assert(TxTable.snapshotAt(dir, 10L).dirs.size == 10)
  }

  test("a deferred checkpoint refuses a table deleted and RE-CREATED at its path (identity guard)") {
    // The name-collision bet the commit-exists guard alone loses: the
    // enqueue captured lifetime A's state at version V; the table is
    // then deleted and re-created at the same path, and the NEW log
    // re-reaches version V before the queue drains. v<V>.commit exists
    // again — but it is lifetime B's commit, and landing A's state as
    // a checkpoint would serve the dead table to every cold resolve.
    // The init-stamped identity uuid distinguishes the lifetimes.
    val dir = tmp()
    val gate = new java.util.concurrent.CountDownLatch(1)
    TxTable.checkpointGateForTest = Some(gate)
    val interval = TxTable.CheckpointInterval
    try {
      TxTable.init(spark, dir, schema)
      (1 to interval).foreach(i =>
        TxTable.append(spark, dir, Seq((i.toLong, i.toLong)).toDF("k", "v").coalesce(1)))
      // Lifetime A's checkpoint for v<interval> is now queued, held in
      // flight by the gate. Kill the table; re-create at the same path;
      // replay lifetime B to the SAME version number (with the cadence
      // disabled so B enqueues nothing of its own).
      TxTable.checkpointGateForTest = None
      TxTable.CheckpointInterval = Int.MaxValue
      def rm(p: java.nio.file.Path): Unit = {
        if (Files.isDirectory(p)) {
          val s = Files.list(p)
          try s.iterator().forEachRemaining(rm) finally s.close()
        }
        Files.deleteIfExists(p); ()
      }
      rm(Paths.get(dir))
      TxTable.clearSnapshotCache()
      TxTable.init(spark, dir, schema)
      (1 to interval).foreach(i =>
        TxTable.append(spark, dir, Seq((100L + i, 0L)).toDF("k", "v").coalesce(1)))
      gate.countDown()
      TxTable.flushCheckpoints()
      // Cold resolution must see lifetime B only — a stale checkpoint
      // at the head version would have served A's ten rows instead.
      TxTable.clearSnapshotCache()
      val ks = TxTable.read(spark, dir).select("k").collect().map(_.getLong(0)).toSet
      assert(ks == (1 to interval).map(100L + _).toSet,
        s"cold resolve served a dead lifetime's state: $ks")
      assert(!Files.exists(Paths.get(dir, "_log", f"v${interval.toLong}%016d.checkpoint")),
        "the dead lifetime's deferred checkpoint landed in the new log")
    } finally {
      TxTable.checkpointGateForTest = None
      TxTable.CheckpointInterval = interval
      gate.countDown()
    }
  }

  test("append to a 1000-file table writes a KB-scale commit (the r12 O(table) fix)") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    // 1,000 live files in 10 commits (100 one-row files each). Built
    // from a 100-slice RDD: a planner-side repartition(100) is fair
    // game for AQE coalescing, but the test needs an exact wide-table
    // shape, not a plan opinion.
    (1 to 10).foreach { i =>
      val rows = spark.sparkContext.parallelize(
        (1 to 100).map(j =>
          org.apache.spark.sql.Row((i * 1000 + j).toLong, j.toLong)), 100)
      TxTable.append(spark, dir, spark.createDataFrame(rows, schema))
    }
    val s = TxTable.snapshot(dir)
    assert(TxTable.dataFiles(dir, s).size == 1000, "setup: expected 1000 files")
    val telemetryBefore = TxTable.commitBytes.get()
    TxTable.append(spark, dir, Seq((1L, 1L)).toDF("k", "v").coalesce(1))
    val commitBytes =
      Files.size(Paths.get(dir, "_log", f"v${11L}%016d.commit"))
    // The write-amplification counter sees the same O(delta) payload —
    // the production-telemetry face of this spec's file-size check.
    assert(TxTable.commitBytes.get() - telemetryBefore == commitBytes,
      "commitBytes telemetry diverged from the claimed manifest size")
    // The checkpoint at v10 is the FULL state (1000 files of stats +
    // nonulls): the self-contained form every commit used to pay.
    TxTable.flushCheckpoints() // async writer — drain before stat
    val fullBytes =
      Files.size(Paths.get(dir, "_log", f"v${10L}%016d.checkpoint"))
    assert(commitBytes < 4 * 1024,
      s"single-file append wrote a ${commitBytes}B manifest on a 1000-file table")
    assert(fullBytes > 20L * commitBytes,
      s"full state ${fullBytes}B should dwarf the ${commitBytes}B delta")
    assert(TxTable.read(spark, dir).count() == 1001L)
  }

  test("CheckpointInterval = 0: no periodic checkpoints, replay-from-v0 stays exact") {
    val prev = TxTable.CheckpointInterval
    TxTable.CheckpointInterval = 0
    try {
      val dir = tmp()
      TxTable.init(spark, dir, schema)
      (1 to 15).foreach(i => TxTable.append(spark, dir,
        Seq((i.toLong, i.toLong)).toDF("k", "v").coalesce(1)))
      val log = Paths.get(dir, "_log")
      val ckpts = {
        val st = Files.list(log)
        try st.filter(_.toString.endsWith(".checkpoint")).count()
        finally st.close()
      }
      assert(ckpts == 0L, "interval 0 must write no periodic checkpoint")
      // Cold resolution replays the whole delta chain from the v0 full
      // form — correct, just unamortized (the documented trade).
      TxTable.clearSnapshotCache()
      val s = TxTable.snapshot(dir)
      assert(s.version == 15L && TxTable.read(spark, dir).count() == 15L)
      // Retention still writes ITS checkpoint (trim would otherwise
      // orphan the kept versions' delta chains).
      TxTable.trimLog(dir, keepLast = 5)
      TxTable.clearSnapshotCache()
      assert(TxTable.snapshot(dir).version == 15L)
      assert(TxTable.read(spark, dir).count() == 15L)
    } finally TxTable.CheckpointInterval = prev
  }

  test("randomized op chains: cached resolution ≡ cold resolution at every step") {
    // The head cache's incremental advance and the checkpoint+tail
    // cold path must be indistinguishable over ANY op interleaving —
    // appends (delta commits), tombstones (metadata deltas), folds
    // (carry-by-reference replaces + dkeys overrides), restores
    // (full-form commits), log trims (manifest drops + retention
    // checkpoint), and vacuums. Seeded, so a failure replays.
    val dir = tmp()
    TxTable.init(spark, dir, schema, bloomCols = Seq("k"))
    val rnd = new scala.util.Random(13)
    var nextKey = 0L
    (1 to 40).foreach { i =>
      rnd.nextInt(7) match {
        case 0 | 1 =>
          nextKey += 1
          TxTable.append(spark, dir,
            Seq((nextKey, nextKey)).toDF("k", "v").coalesce(1))
        case 2 =>
          TxTable.deleteKeysDeferred(dir, "k", Seq(rnd.between(0L, nextKey + 2)))
        case 3 =>
          TxTable.foldDeletes(spark, dir)
        case 4 =>
          val vs = TxTable.versions(dir)
          TxTable.restore(spark, dir, vs(rnd.nextInt(vs.size)))
        case 5 =>
          TxTable.trimLog(dir, keepLast = 1 + rnd.nextInt(10))
        case 6 =>
          TxTable.vacuum(dir, keepLast = 1 + rnd.nextInt(5),
            orphanRetentionMs = 0L)
      }
      val warm = TxTable.snapshot(dir)
      TxTable.clearSnapshotCache()
      val cold = TxTable.snapshot(dir)
      assert(warm == cold, s"step $i: warm/cold resolution divergence")
    }
  }

  test("two writers at the same expected version: exactly one wins") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    val base = TxTable.snapshot(dir)
    val a = TxTable.commit(spark, dir, Seq((1L, 1L)).toDF("k", "v"), base)
    val loser = intercept[TxTable.ConcurrentCommitException] {
      TxTable.commit(spark, dir, Seq((2L, 2L)).toDF("k", "v"), base)
    }
    assert(loser.getMessage.contains("retry"))
    assert(a.version == 1 && TxTable.snapshot(dir).version == 1)
    // The loser's data files were cleaned up, not left as orphans.
    val dataDirs = { val st = Files.list(Paths.get(dir, "data"))
      try st.count() finally st.close() }
    assert(dataDirs == 1, s"loser leaked a data dir ($dataDirs present)")
  }

  test("optimistic merge serializes concurrent increments (no lost updates)") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    TxTable.overwrite(spark, dir, Seq((1L, 0L)).toDF("k", "v"))
    // 2 threads × 5 increments each through merge(): every increment
    // reads a consistent snapshot and retries on conflict, so the final
    // counter MUST be 10 — the lost-update anomaly is exactly what the
    // reference's InnoDB transaction prevents for ON DUPLICATE KEY
    // UPDATE, and what a naive read-modify-overwrite loses.
    val threads = (1 to 2).map { _ =>
      new Thread(() =>
        (1 to 5).foreach { _ =>
          TxTable.merge(spark, dir)(df => df.withColumn("v", col("v") + 1L))
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val v = TxTable.read(spark, dir).select("v").collect()(0).getLong(0)
    assert(v == 10L, s"lost updates: counter=$v, expected 10")
    assert(TxTable.snapshot(dir).version == 11) // 1 seed + 10 serialized merges
  }

  test("upsert-merge: the ON DUPLICATE KEY UPDATE twin as one atomic commit") {
    val dir = tmp()
    TxTable.init(spark, dir, StructType.fromDDL("k BIGINT, cnt BIGINT, total BIGINT"))
    TxTable.overwrite(spark, dir,
      Seq((1L, 2L, 10L), (2L, 1L, 5L)).toDF("k", "cnt", "total"))
    val batch = Seq((2L, 1L, 7L), (3L, 1L, 3L)).toDF("k", "cnt", "total")
    TxTable.merge(spark, dir) { cur =>
      cur.unionByName(batch)
        .groupBy("k").agg(sum("cnt").as("cnt"), sum("total").as("total"))
    }
    val got = TxTable.read(spark, dir).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 10L), (2L, 2L, 12L), (3L, 1L, 3L)))
  }

  test("staged data is invisible until commitStaged; then it IS the table") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    TxTable.overwrite(spark, dir, Seq((1L, 1L)).toDF("k", "v"))
    val df2 = Seq((2L, 2L), (3L, 3L)).toDF("k", "v")
    val u = TxTable.stage(dir, df2)
    // Staged files exist on disk and are readable at their path — but no
    // reader of the TABLE sees them (that is what lets a multi-step
    // pipeline materialize intermediates before going visible).
    assert(Files.exists(Paths.get(TxTable.stagedPath(dir, u))))
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(1L))
    TxTable.commitStaged(spark, dir, u, df2.schema)
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // keepExisting appends a staged segment instead of replacing.
    val u2 = TxTable.stage(dir, Seq((4L, 4L)).toDF("k", "v"))
    TxTable.commitStaged(spark, dir, u2, df2.schema, keepExisting = true)
    assert(TxTable.read(spark, dir).count() == 3)
  }

  test("restore re-exposes an old version as a NEW commit (Delta RESTORE)") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    TxTable.overwrite(spark, dir, Seq((1L, 1L)).toDF("k", "v")) // v1
    TxTable.overwrite(spark, dir, Seq((2L, 2L)).toDF("k", "v")) // v2
    // versionAsOf read: resolve an old manifest WITHOUT committing.
    assert(TxTable.readVersion(spark, dir, 1L)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(TxTable.snapshot(dir).version == 2L, "readVersion must not commit")
    val s = TxTable.restore(spark, dir, 1L)
    assert(s.version == 3L, "restore must claim a fresh version, not rewind")
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // Restoring to the version that is already newest is a no-op.
    assert(TxTable.restore(spark, dir, 3L).version == 3L)
    // The restored-to dirs are LIVE again: vacuum keeps them.
    TxTable.vacuum(dir, keepLast = 1, orphanRetentionMs = 0L)
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("timestampAsOf resolves by adjusted commit time (Delta time travel)") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    TxTable.overwrite(spark, dir, Seq((1L, 1L)).toDF("k", "v")) // v1
    TxTable.overwrite(spark, dir, Seq((2L, 2L)).toDF("k", "v")) // v2
    // Pin deterministic mtimes instead of sleeping between commits
    // (the resolver reads only the commit files' mtimes).
    def pin(v: Long, ms: Long): Unit = Files.setLastModifiedTime(
      Paths.get(dir, "_log", f"v$v%016d.commit"),
      java.nio.file.attribute.FileTime.fromMillis(ms))
    pin(0L, 1000L); pin(1L, 2000L); pin(2L, 3000L)
    assert(TxTable.versionAtTime(dir, 2500L) == 1L)
    assert(TxTable.versionAtTime(dir, 3000L) == 2L, "boundary is inclusive")
    assert(TxTable.readTimestamp(spark, dir, 2999L)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(TxTable.snapshot(dir).version == 2L, "readTimestamp must not commit")
    val e = intercept[IllegalArgumentException](TxTable.versionAtTime(dir, 999L))
    assert(e.getMessage.contains("no commit"))
    // Non-monotone raw mtimes (a later claim of an earlier-written
    // manifest): effective times adjust to strictly increasing, so the
    // later VERSION never resolves for an instant before its
    // predecessor — Delta's commit-timestamp adjustment.
    pin(2L, 1500L) // v2's raw mtime now BEFORE v1's
    assert(TxTable.versionAtTime(dir, 2000L) == 1L,
      "adjusted time of v2 must exceed v1's, not its raw mtime")
    assert(TxTable.versionAtTime(dir, 2001L) == 2L)
  }

  test("manifests carry per-file key ranges; appends and restores keep them") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    TxTable.overwrite(spark, dir,
      Seq((5L, 50L), (9L, 90L)).toDF("k", "v").coalesce(1)) // v1
    val s1 = TxTable.snapshot(dir)
    val files1 = TxTable.dataFiles(dir, s1)
    assert(files1.size == 1)
    assert(files1.head._2.get("k").contains((5L, 9L)),
      s"commit-time stats missing or wrong: ${files1.head._2}")
    assert(files1.head._2.get("v").contains((50L, 90L)))
    // Append: the old file's stats are carried verbatim, the new file's
    // added — NO footer is reopened for the old data.
    TxTable.append(spark, dir, Seq((100L, 1L)).toDF("k", "v").coalesce(1)) // v2
    val files2 = TxTable.dataFiles(dir, TxTable.snapshot(dir))
    assert(files2.size == 2)
    assert(files2.flatMap(_._2.get("k")).sorted == Seq((5L, 9L), (100L, 100L)))
    // Restore back to v1: stats restore with the file list.
    TxTable.restore(spark, dir, 1L)
    val files3 = TxTable.dataFiles(dir, TxTable.snapshot(dir))
    assert(files3.size == 1 && files3.head._2.get("k").contains((5L, 9L)))
  }

  test("string bounds (sstats) are harvested, carried by appends, restored") {
    val dir = tmp()
    val df1 = Seq(("b", 1L), ("m", 2L)).toDF("s", "v").coalesce(1)
    TxTable.init(spark, dir, df1.schema)
    TxTable.overwrite(spark, dir, df1) // v1
    val s1 = TxTable.snapshot(dir)
    assert(TxTable.dataFilesString(dir, s1).head._2.get("s").contains(("b", "m")),
      s"string bounds missing: ${s1.sstats}")
    TxTable.append(spark, dir, Seq(("z", 3L)).toDF("s", "v").coalesce(1)) // v2
    val f2 = TxTable.dataFilesString(dir, TxTable.snapshot(dir))
    assert(f2.flatMap(_._2.get("s")).sorted == Seq(("b", "m"), ("z", "z")))
    TxTable.restore(spark, dir, 1L)
    assert(TxTable.dataFilesString(dir, TxTable.snapshot(dir))
      .head._2.get("s").contains(("b", "m")))
    // Kilobyte values are NOT harvested (dead manifest weight; absent
    // stats are conservative hits by contract).
    val dir2 = tmp()
    val big = Seq(("x" * 4096, 1L)).toDF("s", "v")
    TxTable.init(spark, dir2, big.schema)
    TxTable.overwrite(spark, dir2, big)
    assert(TxTable.snapshot(dir2).sstats.isEmpty, "oversized bound harvested")
  }

  test("pre-stats manifests (no stats block) parse as conservative no-stats") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    TxTable.overwrite(spark, dir, Seq((1L, 1L)).toDF("k", "v"))
    // Rewrite every manifest WITHOUT its stats blocks — the on-disk
    // shape every commit had before stats existed.
    assert(LogSurgery.stripStats(dir), "test setup: no stats block to strip")
    val s = TxTable.snapshot(dir)
    assert(s.stats.isEmpty, "absent stats block must parse as empty")
    assert(TxTable.read(spark, dir).count() == 1) // reads unaffected
    val files = TxTable.dataFiles(dir, s)
    assert(files.nonEmpty && files.forall(_._2.isEmpty),
      "files without recorded stats must surface an EMPTY map (= hit)")
  }

  test("readChanges tiles the commit history exactly-once for a checkpointing consumer") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    // A consumer loop: process whatever landed since the checkpoint,
    // advance the checkpoint to the version it read at. Interleave
    // appends of known rows; the consumer must see every row exactly
    // once regardless of how many commits a poll spans.
    var checkpoint = TxTable.snapshot(dir).version
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def poll(): Unit = {
      val head = TxTable.snapshot(dir).version
      seen ++= TxTable.readChanges(spark, dir, checkpoint, head)
        .collect().map(_.getLong(0))
      checkpoint = head
    }
    TxTable.append(spark, dir, Seq((1L, 1L)).toDF("k", "v"))
    poll() // one commit
    TxTable.append(spark, dir, Seq((2L, 2L)).toDF("k", "v"))
    TxTable.append(spark, dir, Seq((3L, 3L)).toDF("k", "v"))
    poll() // spans two commits
    poll() // nothing new → empty, not a re-delivery
    assert(seen.sorted.toSeq == Seq(1L, 2L, 3L),
      s"exactly-once violated: $seen")
    // The version listing a consumer scans for catch-up is dense here
    // (init + 3 appends, no dead claims).
    assert(TxTable.versions(dir) == (0L to 3L), s"versions: ${TxTable.versions(dir)}")
    // A rewrite inside the polled range is DETECTED, not silently
    // re-delivered.
    TxTable.overwrite(spark, dir, Seq((9L, 9L)).toDF("k", "v"))
    val e = intercept[IllegalArgumentException] { poll() }
    assert(e.getMessage.contains("not append-only"))
    // A vacuumed-away checkpoint version is a clear error, not a scan
    // of wrong data.
    TxTable.append(spark, dir, Seq((10L, 10L)).toDF("k", "v"))
    TxTable.vacuum(dir, keepLast = 1, orphanRetentionMs = 0L)
    val e2 = intercept[IllegalArgumentException] {
      TxTable.readChanges(spark, dir, checkpoint)
    }
    assert(e2.getMessage.contains("vacuumed"))
  }

  test("vacuum keeps the newest manifests and breaks older pins (documented)") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    (1 to 3).foreach(i => TxTable.overwrite(spark, dir, Seq((i.toLong, i.toLong)).toDF("k", "v")))
    def nData() = { val st = Files.list(Paths.get(dir, "data"))
      try st.count() finally st.close() }
    assert(nData() == 3)
    TxTable.vacuum(dir, keepLast = 1)
    assert(nData() == 1)
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("appends may ADD columns (schema evolution); drops/retypes refuse") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    TxTable.overwrite(spark, dir, Seq((1L, 10L)).toDF("k", "v"))
    // Additive append: new column widens the table; prior rows read it
    // as null (schema-on-read — Delta's mergeSchema for the append-only
    // case, free from the scan's explicit schema).
    TxTable.append(spark, dir,
      Seq((2L, 20L, "tagged")).toDF("k", "v", "tag"))
    val got = TxTable.read(spark, dir).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
    assert(got.toSeq == Seq((1L, 10L, None), (2L, 20L, Some("tagged"))),
      s"additive evolution broken: ${got.toSeq}")
    // A dropped column would silently null out history — refused.
    val eDrop = intercept[IllegalArgumentException] {
      TxTable.append(spark, dir, Seq(Tuple1(3L)).toDF("k"))
    }
    assert(eDrop.getMessage.contains("ADD"), eDrop.getMessage)
    // A retyped column likewise.
    val eType = intercept[IllegalArgumentException] {
      TxTable.append(spark, dir, Seq((4L, "not-a-long", "t")).toDF("k", "v", "tag"))
    }
    assert(eType.getMessage.contains("retypes"), eType.getMessage)
    // Overwrite stays free to reshape.
    TxTable.overwrite(spark, dir, Seq(Tuple1(9L)).toDF("k"))
    assert(TxTable.read(spark, dir).columns.toSeq == Seq("k"))
  }

  test("a column added mid-life gets stats and blooms from its first write on") {
    val dir = tmp()
    // The bloom registration is a TABLE property: a future key column
    // can be registered up front; harvest starts once it exists.
    TxTable.init(spark, dir, schema, bloomCols = Seq("k", "tag"))
    TxTable.append(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1))
    TxTable.append(spark, dir,
      Seq((3L, 30L, "x1"), (4L, 40L, "x2")).toDF("k", "v", "tag").coalesce(1))
    val s = TxTable.snapshot(dir)
    assert(s.dirs.size == 2)
    // The widened commit harvested the new column's bounds for ITS OWN
    // files; pre-evolution files simply lack the entry — which every
    // pruning consumer treats as a conservative hit, never a proof.
    val withTag = TxTable.dataFilesString(dir, s).filter(_._2.contains("tag"))
    assert(withTag.size == 1, s"expected 1 file with tag bounds: ${s.sstats}")
    assert(s.blooms.getOrElse(s.dirs.last, Nil).contains("tag"),
      "the widened dir must harvest the registered new-column bloom")
    assert(!s.blooms.getOrElse(s.dirs.head, Nil).contains("tag"),
      "a pre-evolution dir cannot claim a filter for a column it predates")
    // Whole-table absence proof is conservative (partial coverage)...
    assert(TxTable.keyBlooms(dir, s, "tag").isEmpty)
    // ...and per-dir refinement composes: an absent value keeps the
    // pre-evolution file as a hit (it cannot prove absence) while the
    // widened dir's bloom + bounds prune its own file away.
    val hits = TxTable.lookupStringFiles(dir, s, "tag", Seq("zz"))
    assert(hits.map(_.getParent.getFileName.toString).distinct
      == Seq(s.dirs.head), s"new-column pruning wrong: $hits")
    // Exact lookup through the evolved schema: the old file reads tag
    // as null and drops out row-level; the new file answers.
    assert(TxTable.lookupStringKeys(spark, dir, "tag", Seq("x2"))
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("expireBelow: NULL keys survive (SQL semantics); null-bearing files never drop blind") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    // Aged values NEXT TO a null: min/max stats alone would call this
    // file fully aged, but NULL < cutoff never matches — footer
    // null-proof must route it to the exact rewrite.
    TxTable.overwrite(spark, dir,
      Seq((Option(1L), 1L), (Option(2L), 2L), (Option.empty[Long], 3L))
        .toDF("k", "v").coalesce(1))
    TxTable.append(spark, dir,
      Seq((3L, 30L), (4L, 40L)).toDF("k", "v").coalesce(1)) // aged, null-free
    TxTable.append(spark, dir,
      Seq((100L, 5L)).toDF("k", "v").coalesce(1)) // fully live
    // The commit-time harvest records the null proof in the manifest
    // (one map lookup at expiry planning — zero footer opens for
    // fresh tables): the null-free files prove both columns, the
    // null-bearing file proves only v.
    val nn = TxTable.snapshot(dir).nonulls
    val byProof = nn.toSeq.flatMap { case (f, cols) => cols.map(c => (c, f)) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    assert(byProof.getOrElse("v", 0) == 3, s"v should prove null-free in all 3 files: $nn")
    assert(byProof.getOrElse("k", 0) == 2, s"k should prove null-free in 2 of 3 files: $nn")
    val (d, r) = TxTable.expireBelow(spark, dir, "k", 50L)()
    assert((d, r) == ((1L, 1L)),
      s"expected the null-free aged file dropped + the null-bearing one rewritten, got ($d, $r)")
    val got = TxTable.read(spark, dir).orderBy("v")
      .collect().map(x => (Option(x.get(0)), x.getLong(1))).toSeq
    assert(got == Seq((None, 3L), (Some(100L), 5L)),
      s"NULL row must survive the expiry, live rows untouched: $got")
    // Steady state: the surviving all-null rewrite output has no k
    // stats, but a re-expiry that would change nothing commits nothing.
    val v = TxTable.snapshot(dir).version
    assert(TxTable.expireBelow(spark, dir, "k", 50L)() == ((0L, 0L)))
    assert(TxTable.snapshot(dir).version == v,
      "a no-change expiry committed a new version")
  }

  test("appends keep the table's declared column order (new columns last)") {
    val dir = tmp()
    TxTable.init(spark, dir, schema)
    TxTable.overwrite(spark, dir, Seq((1L, 10L)).toDF("k", "v"))
    // A batch whose columns merely ARRIVE in a different order must not
    // reorder the table's logical schema — append is a data operation.
    TxTable.append(spark, dir,
      Seq((20L, 2L)).toDF("v", "k").select(col("v"), col("k")))
    assert(TxTable.read(spark, dir).columns.toSeq == Seq("k", "v"),
      "a reordered append batch rewrote the table's column order")
    // Additive append: existing order first, the new column last —
    // regardless of where the batch put it.
    TxTable.append(spark, dir,
      Seq(("tagged", 3L, 30L)).toDF("tag", "k", "v"))
    assert(TxTable.read(spark, dir).columns.toSeq == Seq("k", "v", "tag"))
    val got = TxTable.read(spark, dir).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 20L), (3L, 30L)),
      s"column-order normalization mixed up values: $got")
  }

  test("key blooms: no false negatives, absence proof, carry, restore") {
    val dir = tmp()
    TxTable.init(spark, dir, schema, bloomCols = Seq("k"))
    // Empty table: no filter says maybe — every key proven absent.
    assert(TxTable.keyBlooms(dir, TxTable.snapshot(dir), "k") == Some(Nil))
    TxTable.overwrite(spark, dir, (1L to 500L).map(i => (i, i)).toDF("k", "v"))
    TxTable.append(spark, dir, (1001L to 1500L).map(i => (i, i)).toDF("k", "v"))
    val s = TxTable.snapshot(dir)
    assert(s.bloomCols == Seq("k"), "bloom-column property lost")
    val bfs = TxTable.keyBlooms(dir, s, "k")
      .getOrElse(fail("blooms absent after bloom-col commits"))
    assert(bfs.size == s.dirs.size)
    // NO false negatives: every committed key must hit some filter.
    (1L to 500L) ++ (1001L to 1500L) foreach { k =>
      assert(bfs.exists(_.mightContainLong(k)), s"false negative for $k")
    }
    // fpp 1e-4: 10k absent probes expect ~1 false positive; assert the
    // probe proves the bulk absent (≤ 50 gives 50× headroom — the
    // filter is deterministic for fixed inputs, so this cannot flake).
    val fp = (1000000L to 1010000L).count(k => bfs.exists(_.mightContainLong(k)))
    assert(fp <= 50, s"$fp false positives in 10k absent probes")
    // Unregistered column → conservative None.
    assert(TxTable.keyBlooms(dir, s, "v").isEmpty)
    // RESTORE carries the filter listing with the dirs.
    TxTable.overwrite(spark, dir, Seq((9L, 9L)).toDF("k", "v"))
    TxTable.restore(spark, dir, s.version)
    val r = TxTable.snapshot(dir)
    assert(TxTable.keyBlooms(dir, r, "k").exists(_.size == r.dirs.size),
      "restore dropped bloom coverage")
  }

  test("string point lookup plans from the manifest: bloom + bounds pruning") {
    val dir = tmp()
    val sch = StructType.fromDDL("name STRING, v BIGINT")
    TxTable.init(spark, dir, sch, bloomCols = Seq("name"))
    val rows = ('a' to 'h').flatMap(c => Seq((s"${c}1", 1L), (s"${c}2", 2L)))
    TxTable.overwrite(spark, dir, rows.toDF("name", "v")
      .repartitionByRange(8, col("name")).sortWithinPartitions(col("name")))
    val s = TxTable.snapshot(dir)
    val all = TxTable.dataFilesString(dir, s)
    assert(all.size >= 4, s"range clustering wrote ${all.size} files")
    // A present key prunes to the single file whose bounds cover it.
    assert(TxTable.lookupStringFiles(dir, s, "name", Seq("c1")).size == 1)
    // An absent key INSIDE the global range: file bounds alone would
    // hit a file, but the Bloom proves it absent — zero files planned.
    // (Deterministic: a fixed key either collides at fpp 1e-4 or not.)
    assert(TxTable.lookupStringFiles(dir, s, "name", Seq("c9")).isEmpty)
    // The scan read of the planned files returns exactly the present
    // keys' rows, and its IN predicate reaches the parquet scan
    // (row-group skipping inside the surviving files — the second
    // pruning tier after file-level). The lookup (read on the driver
    // at this size) returns the same rows.
    val keys = Seq("c1", "f2", "zzz")
    val lookup = TxTable.scanKeys(spark, s, "name", keys,
      TxTable.lookupStringFiles(dir, s, "name", keys))
    val plan = lookup.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(name"),
      s"IN filter not pushed to the scan:\n$plan")
    val got = lookup
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq(("c1", 1L), ("f2", 2L)))
    assert(TxTable.lookupStringKeys(spark, dir, "name", keys)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq == got)
  }

  test("long point lookup plans from the manifest: bloom + stats pruning") {
    val dir = tmp()
    TxTable.init(spark, dir, StructType.fromDDL("k BIGINT, v BIGINT"),
      bloomCols = Seq("k"))
    TxTable.overwrite(spark, dir, (1L to 160L).map(i => (i * 10, i)).toDF("k", "v")
      .repartitionByRange(8, col("k")).sortWithinPartitions(col("k")))
    val s = TxTable.snapshot(dir)
    val all = TxTable.dataFiles(dir, s)
    assert(all.size >= 4, s"range clustering wrote ${all.size} files")
    // A present key prunes to the single file whose stats cover it.
    assert(TxTable.lookupFiles(dir, s, "k", Seq(30L)).size == 1)
    // An absent key INSIDE the global range: stats bounds would hit a
    // file, but the Bloom proves it absent — zero files planned.
    assert(TxTable.lookupFiles(dir, s, "k", Seq(35L)).isEmpty)
    // The scan read of the planned files returns exactly the present
    // keys' rows, and its IN predicate reaches the parquet scan
    // (row-group skipping inside the surviving files — the second
    // pruning tier after file-level). The lookup (read on the driver
    // at this size) returns the same rows.
    val keys = Seq(30L, 1200L, -7L)
    val lookup = TxTable.scanKeys(spark, s, "k", keys, TxTable.lookupFiles(dir, s, "k", keys))
    val plan = lookup.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(k"),
      s"IN filter not pushed to the scan:\n$plan")
    assert(lookup.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      == Seq((30L, 3L), (1200L, 120L)))
    assert(TxTable.lookupKeys(spark, dir, "k", keys)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      == Seq((30L, 3L), (1200L, 120L)))
  }

  test("lookup bloom refinement is PER DIR: partial pruning composes") {
    val dir = tmp()
    TxTable.init(spark, dir, schema, bloomCols = Seq("k"))
    // One file per dir (coalesce) so each file's stats SPAN its dir's
    // key range — the absent key below must fall inside dir-2's bounds.
    TxTable.overwrite(spark, dir,
      Seq(10L, 20L, 30L).map(k => (k, k)).toDF("k", "v").coalesce(1))
    TxTable.append(spark, dir,
      Seq(100L, 110L, 120L, 130L).map(k => (k, k)).toDF("k", "v").coalesce(1))
    val s = TxTable.snapshot(dir)
    val dirs = TxTable.dataFiles(dir, s).map(_._1.getParent).distinct
    assert(dirs.size == 2)
    // 20 is present in the first dir; 115 is ABSENT but inside the
    // second dir's stats bounds [100,130]. Bounds alone would read both
    // dirs; the second dir's Bloom rejects 115, so its candidate key
    // set empties and the dir plans ZERO files — refinement is per dir,
    // not the all-or-nothing global absence proof.
    val hit = TxTable.lookupFiles(dir, s, "k", Seq(20L, 115L))
    assert(hit.nonEmpty && hit.map(_.getParent).distinct == Seq(dirs.head),
      s"bloom-rejected dir not pruned: ${hit}")
    // Sidecar cache: a deleted bloom file keeps serving from the
    // process-wide cache (the file was immutable, so the cached filter
    // is still CORRECT for this dir's unchanged data)...
    val st = Files.list(Paths.get(dir, "_index"))
    try st.forEach(p => Files.delete(p)) finally st.close()
    assert(TxTable.lookupFiles(dir, s, "k", Seq(20L, 115L))
      .map(_.getParent).distinct == Seq(dirs.head), "cache miss on immutable sidecar")
    // ...and an invalidated cache degrades to conservative bounds-only
    // pruning (both dirs hit), never a wrong answer.
    TxTable.clearBloomCache()
    assert(TxTable.lookupFiles(dir, s, "k", Seq(20L, 115L))
      .map(_.getParent).distinct.size == 2, "lost sidecar must widen, not fail")
  }

  test("compactDirs folds delta dirs into one, carries the base by reference") {
    val dir = tmp()
    TxTable.init(spark, dir, schema, bloomCols = Seq("k"))
    TxTable.overwrite(spark, dir,
      (1L to 100L).map(k => (k, k)).toDF("k", "v").coalesce(1))
    TxTable.append(spark, dir, Seq((200L, 200L)).toDF("k", "v").coalesce(1))
    TxTable.append(spark, dir, Seq((300L, 300L)).toDF("k", "v").coalesce(1))
    val s = TxTable.snapshot(dir)
    assert(s.dirs.size == 3)
    val base = s.dirs.head
    // The level-0 fold set is everything but the (largest) base.
    val fold = TxTable.levelZeroDirs(dir, s)
    assert(fold == s.dirs.tail, s"level-0 set should be the two deltas: $fold")
    val s2 = TxTable.compactDirs(spark, dir, s, fold)(
      _.repartitionByRange(col("k")).sortWithinPartitions(col("k")))
    // Base dir carried BY REFERENCE (same uuid — its data never read or
    // rewritten); the two deltas folded into one fresh dir.
    assert(s2.dirs.size == 2 && s2.dirs.head == base
      && !s.dirs.contains(s2.dirs.last))
    // Content parity.
    assert(TxTable.read(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      == ((1L to 100L).map(k => (k, k)) ++ Seq((200L, 200L), (300L, 300L))))
    // Manifest hygiene: stats and bloom listings only for member dirs
    // (a dropped dir's entries must not ride along as dead weight).
    assert((s2.stats.keySet ++ s2.sstats.keySet)
      .forall(k => s2.dirs.contains(k.substring(0, k.indexOf('/')))))
    assert(s2.blooms.keySet.subsetOf(s2.dirs.toSet))
    // Full bloom coverage survives the fold (carried + re-harvested),
    // and point lookups prune: 200 lives only in the folded dir.
    assert(TxTable.keyBlooms(dir, s2, "k").exists(_.size == 2))
    val hit = TxTable.lookupFiles(dir, s2, "k", Seq(200L))
    assert(hit.nonEmpty
      && hit.forall(_.getParent.getFileName.toString == s2.dirs.last))
    // A commit racing the fold surfaces loudly and reclaims the staged
    // fold data — maintenance never clobbers a newer version.
    val s3 = TxTable.snapshot(dir)
    TxTable.append(spark, dir, Seq((400L, 400L)).toDF("k", "v").coalesce(1))
    intercept[TxTable.ConcurrentCommitException] {
      TxTable.compactDirs(spark, dir, s3, TxTable.levelZeroDirs(dir, s3))()
    }
    assert(TxTable.read(spark, dir).count() == 103)
  }

  test("bloom sidecars die with their dirs at vacuum; reads stay safe") {
    val dir = tmp()
    TxTable.init(spark, dir, schema, bloomCols = Seq("k"))
    TxTable.overwrite(spark, dir, Seq((1L, 1L)).toDF("k", "v"))
    TxTable.overwrite(spark, dir, Seq((2L, 2L)).toDF("k", "v"))
    def nBlooms() = { val st = Files.list(Paths.get(dir, "_index"))
      try st.count() finally st.close() }
    assert(nBlooms() == 2)
    TxTable.vacuum(dir, keepLast = 1, orphanRetentionMs = 0L)
    assert(nBlooms() == 1, "superseded dir's sidecar not reclaimed")
    val s = TxTable.snapshot(dir)
    assert(TxTable.keyBlooms(dir, s, "k").exists(bfs =>
      bfs.exists(_.mightContainLong(2L))))
    // A deleted sidecar (manual damage) degrades to conservative None,
    // never a wrong membership answer. The process-wide cache may keep
    // serving the immutable (still-correct) filter until invalidated —
    // clear it so the lost-file condition is actually exercised.
    val st = Files.list(Paths.get(dir, "_index"))
    try st.forEach(p => Files.delete(p)) finally st.close()
    TxTable.clearBloomCache()
    assert(TxTable.keyBlooms(dir, s, "k").isEmpty)
  }
}
