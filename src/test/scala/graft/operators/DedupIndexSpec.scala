package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental dedup index must be INDISTINGUISHABLE from a
  * from-scratch mine of the final corpus — pairs and components both —
  * including the rare→hot edge: a shingle whose document frequency
  * crosses the cap because of a delta retroactively de-candidates
  * stored pairs that had no other rare witness. cap=3 here so every
  * transition is easy to stage.
  */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = 3

  private def df(rows: Seq[(Long, Seq[String])]): DataFrame =
    rows.toDF("doc_id", "shs")

  private def tmp(): String =
    Files.createTempDirectory("graft_dedupidx_test").toString

  private def sortedRows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).sorted.toSeq

  private def assertParity(dir: String, all: Seq[(Long, Seq[String])]): Unit = {
    val full = tmp()
    DedupIndex.build(spark, df(all), full, Cap)
    assert(sortedRows(DedupIndex.pairs(spark, dir)) ==
      sortedRows(DedupIndex.pairs(spark, full)), "pairs != full recompute")
    assert(sortedRows(DedupIndex.components(spark, dir)) ==
      sortedRows(DedupIndex.components(spark, full)), "components != full recompute")
  }

  // Base corpus, built to exercise every append path:
  //  - 1,2: identical docs whose only shingles are s1 (rare, df=2) and
  //    s2 (HOT in base: df=6 > cap) — the stored pair's sole rare
  //    witness is s1, which the delta pushes over the cap → the pair
  //    must be DROPPED and its component dissolved.
  //  - 4,5 / 6,7: stored pairs the delta never touches (4,5 passes
  //    through the fold untouched; 6,7's group gains delta member 25,
  //    which must NOT re-emit the old×old pair (6,7)).
  //  - 3: pairs with delta doc 22 (cross-split near-dup).
  private val base: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("s1", "s2"),
    2L -> Seq("s1", "s2"),
    3L -> Seq("t1", "t2"),
    4L -> Seq("v1", "v2"),
    5L -> Seq("v1", "v2"),
    6L -> Seq("w1", "w2"),
    7L -> Seq("w1", "w2"),
    // s2 filler: make s2 hot already in the base index (df=6).
    10L -> Seq("s2", "f1"),
    11L -> Seq("s2", "f2"),
    12L -> Seq("s2", "f3"),
    13L -> Seq("s2", "f4"))

  // Delta: pushes s1 to df=4 (> cap) via 20/21 (which pair with nobody
  // — Jaccard 1/3), adds the cross-split pair 22≈3, a new-new pair
  // 23≈24, and 25 sharing still-rare w1 with the 6/7 group.
  private val delta: Seq[(Long, Seq[String])] = Seq(
    20L -> Seq("s1", "z1"),
    21L -> Seq("s1", "z2"),
    22L -> Seq("t1", "t2"),
    23L -> Seq("u1", "u2"),
    24L -> Seq("u1", "u2"),
    25L -> Seq("w1", "q9"))

  test("build then append == full recompute, incl. rare→hot de-candidacy") {
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    // Precondition: the at-risk pair exists before the append.
    assert(sortedRows(DedupIndex.pairs(spark, dir).select("a", "b"))
      .contains("[1,2]"))
    DedupIndex.append(spark, df(delta), dir, Cap)
    val pairs = DedupIndex.pairs(spark, dir)
    // The de-candidated pair is gone, its component dissolved...
    assert(!sortedRows(pairs.select("a", "b")).contains("[1,2]"))
    assert(DedupIndex.components(spark, dir)
      .filter(col("doc_id").isin(1L, 2L)).count() == 0)
    // ...the old×old pair in the extended w1 group appears exactly once...
    assert(pairs.filter(col("a") === 6L && col("b") === 7L).count() == 1)
    assert(pairs.groupBy("a", "b").count().filter(col("count") > 1).count() == 0)
    // ...and the whole index equals a from-scratch mine.
    assertParity(dir, base ++ delta)
    spark.sharedState.cacheManager.clearCache()
  }

  test("successive appends stay exact (three delta batches)") {
    val dir = tmp()
    val batches = delta.grouped(2).toSeq
    DedupIndex.build(spark, df(base), dir, Cap)
    var sofar = base
    batches.foreach { b =>
      DedupIndex.append(spark, df(b), dir, Cap)
      sofar = sofar ++ b
    }
    assertParity(dir, sofar)
    spark.sharedState.cacheManager.clearCache()
  }

  test("dedup-on-ingest: a document stream appends batches via foreachBatch") {
    // The reference deduplicates AT INSERT (INSERT IGNORE per arriving
    // row, init/mysql_loader.py:435-439); the streaming twin is a doc
    // stream whose micro-batches fold into the persistent index — after
    // the stream drains, the index equals a from-scratch mine of
    // everything ever ingested.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    val mem = MemoryStream[(Long, Seq[String])]
    val q = mem.toDF().toDF("doc_id", "shs").writeStream
      .option("checkpointLocation", tmp())
      .foreachBatch { (b: DataFrame, _: Long) =>
        DedupIndex.append(spark, b, dir, Cap)
        ()
      }
      .start()
    delta.grouped(3).foreach { batch => mem.addData(batch); q.processAllAvailable() }
    q.stop()
    assertParity(dir, base ++ delta)
    spark.sharedState.cacheManager.clearCache()
  }

  test("dedup-on-ingest from a TxTable stream: the table IS the topic") {
    import graft.sources.TxTable
    // The reference's pipeline tails Kafka into an INSERT IGNORE loader;
    // the all-engine form: documents land in a TxTable (any ingest), the
    // graft-txtable source streams its commits, and each micro-batch
    // folds into the persistent index — after the stream drains, the
    // index equals a from-scratch mine of everything ever committed.
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    val docsTable = tmp()
    TxTable.init(spark, docsTable,
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, shs ARRAY<STRING>"))
    val q = spark.readStream.format("graft-txtable")
      .option("startingVersion", "latest") // index already holds `base`
      .option("maxCommitsPerTrigger", "1") // one ingest commit per fold
      .load(docsTable)
      .writeStream.option("checkpointLocation", tmp())
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) DedupIndex.append(spark, b, dir, Cap)
        ()
      }.start()
    q.processAllAvailable()
    delta.grouped(2).foreach { batch =>
      TxTable.append(spark, docsTable, df(batch))
      q.processAllAvailable()
    }
    q.stop()
    assertParity(dir, base ++ delta)
    spark.sharedState.cacheManager.clearCache()
  }

  test("append refuses duplicate doc_ids") {
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.append(spark, df(Seq(1L -> Seq("x1", "x2"))), dir, Cap)
    }
    assert(e.getMessage.contains("already present"))
    spark.sharedState.cacheManager.clearCache()
  }

  test("docs commits keep doc_id bloom coverage (the scan-free dupe probe)") {
    import graft.sources.TxTable
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    DedupIndex.append(spark, df(delta), dir, Cap)
    // Build AND every append segment carry a filter: the dupe check's
    // absence proof needs full coverage or it falls back to the scan.
    val s = TxTable.snapshot(s"$dir/docs")
    val bfs = TxTable.keyBlooms(s"$dir/docs", s, "doc_id")
      .getOrElse(fail("docs table lost doc_id bloom coverage"))
    assert(bfs.size == s.dirs.size)
    (base ++ delta).foreach { case (id, _) =>
      assert(bfs.exists(_.mightContainLong(id)), s"false negative for doc $id")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("append writes only a delta segment; compaction is result-transparent") {
    import graft.sources.TxTable
    def segments(dir: String): Seq[String] = TxTable.snapshot(s"$dir/groups").dirs
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    val baseSegs = segments(dir)
    assert(baseSegs.size == 1)
    // LSM shape: the old index is never rewritten — the append ADDS one
    // segment (its own delta groups) and keeps every base segment.
    DedupIndex.append(spark, df(delta), dir, Cap)
    val afterSegs = segments(dir)
    assert(afterSegs.size == 2, s"expected base+delta segments, got $afterSegs")
    assert(baseSegs.forall(afterSegs.contains), "append rewrote the base segment")
    val componentsBefore = sortedRows(DedupIndex.components(spark, dir))
    val pairsBefore = sortedRows(DedupIndex.pairs(spark, dir))
    // Whole-index compaction folds groups segments, collapses pairs
    // segments, and re-clusters components — without changing any
    // result; a FURTHER append on the compacted index stays exact
    // (parity vs from-scratch recompute of the final corpus).
    DedupIndex.compact(spark, dir, Cap)
    assert(segments(dir).size == 1)
    assert(TxTable.snapshot(s"$dir/pairs").dirs.size == 1,
      "pairs segments not collapsed")
    assert(sortedRows(DedupIndex.components(spark, dir)) == componentsBefore)
    assert(sortedRows(DedupIndex.pairs(spark, dir)) == pairsBefore)
    val more = Seq(200L -> Seq("zz_a", "zz_b", "s1"))
    DedupIndex.append(spark, df(more), dir, Cap)
    assertParity(dir, base ++ delta ++ more)
    spark.sharedState.cacheManager.clearCache()
  }

  test("OPTIMIZE purges erased ids from the inverted index; re-admission restores them") {
    import graft.sources.TxTable
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    DedupIndex.deleteDocsDeferred(dir, Seq(1L))
    // Serving tables mask immediately...
    assert(DedupIndex.pairs(spark, dir)
      .filter(col("a") === 1L || col("b") === 1L).isEmpty)
    // ...but the inverted index physically holds the erased id until
    // the scheduled OPTIMIZE (the documented window).
    def physicallyHolds(id: Long): Boolean =
      TxTable.read(spark, s"$dir/groups").filter(col("ids").isNotNull &&
        array_contains(col("ids"), id)).count() > 0
    assert(physicallyHolds(1L), "setup: erased id should linger pre-OPTIMIZE")
    DedupIndex.compact(spark, dir, Cap)
    assert(!physicallyHolds(1L), "OPTIMIZE left an erased id in the inverted index")
    assert(physicallyHolds(2L), "purge overshot: a live doc's ids vanished")
    // RE-ADMISSION: compact() folded every tombstone physically (its
    // whole-table replaces define new contents), so the erased id can
    // come back — it re-pairs with its near-dup (s1's purged group
    // RE-DERIVED its df from the live postings: 1 survivor; +1 for the
    // re-append = 2 ≤ cap, rare under the live-reset model), and the
    // next OPTIMIZE keeps it (it is in docs again).
    DedupIndex.append(spark, df(Seq(1L -> Seq("s1", "s2"))), dir, Cap)
    assert(sortedRows(DedupIndex.pairs(spark, dir).select(col("a"), col("b")))
      .contains("[1,2]"), "re-admitted doc should re-pair with its near-dup")
    DedupIndex.compact(spark, dir, Cap)
    assert(physicallyHolds(1L), "re-admitted id purged despite being live")
    spark.sharedState.cacheManager.clearCache()
  }

  test("re-append under an OPEN tombstone folds the mask: the doc serves immediately") {
    import graft.sources.TxTable
    // The PQIndexTx collision discipline, on the dedup index: a delta
    // id under an open tombstone passes the dupe probe (the mask hides
    // the old row) but, without the fold, the value-keyed mask would
    // suppress the NEW docs row and every future pair mined with that
    // endpoint — a re-admitted document that silently serves nothing.
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    DedupIndex.deleteDocsDeferred(dir, Seq(1L))
    assert(TxTable.snapshot(s"$dir/docs").dkeys.nonEmpty, "setup: mask open")
    DedupIndex.append(spark, df(Seq(1L -> Seq("s1", "s2"))), dir, Cap)
    assert(TxTable.snapshot(s"$dir/docs").dkeys.isEmpty, "docs mask not folded")
    assert(TxTable.snapshot(s"$dir/pairs").dkeys.isEmpty, "pairs mask not folded")
    assert(TxTable.snapshot(s"$dir/components").dkeys.isEmpty,
      "components mask not folded")
    assert(TxTable.read(spark, s"$dir/docs")
      .filter(col("doc_id") === 1L).count() == 1,
      "re-added doc invisible in docs")
    assert(sortedRows(DedupIndex.pairs(spark, dir).select(col("a"), col("b")))
      .contains("[1,2]"), "re-added doc should re-pair with its near-dup")
    spark.sharedState.cacheManager.clearCache()
  }

  test("clean append never rewrites stored pairs: the table gains a segment") {
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    val before = graft.sources.TxTable.snapshot(s"$dir/pairs")
    // A delta with NO rare→hot crossing (fresh shingles only, plus a
    // new-new pair): the drop set is empty, so the append-only path
    // must commit the new pairs as an APPENDED segment — every
    // pre-append data dir still listed, exactly one new one.
    val clean = Seq(30L -> Seq("x1", "x2"), 31L -> Seq("x1", "x2"))
    DedupIndex.append(spark, df(clean), dir, Cap)
    val after = graft.sources.TxTable.snapshot(s"$dir/pairs")
    assert(before.dirs.forall(after.dirs.contains),
      "clean append rewrote stored pairs data")
    assert(after.dirs.size == before.dirs.size + 1,
      s"expected one appended segment: ${before.dirs.size} -> ${after.dirs.size}")
    assertParity(dir, base ++ clean)
    spark.sharedState.cacheManager.clearCache()
  }

  test("all-unique delta is a content no-op for pairs/components: no new versions") {
    import graft.sources.TxTable
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    val pairsV = TxTable.snapshot(s"$dir/pairs").version
    val compV = TxTable.snapshot(s"$dir/components").version
    val groupsSegs = TxTable.snapshot(s"$dir/groups").dirs.size
    // Docs sharing nothing with anything: zero candidates, zero drops.
    val unique = Seq(40L -> Seq("uq1", "uq2"), 41L -> Seq("uq3", "uq4"))
    DedupIndex.append(spark, df(unique), dir, Cap)
    assert(TxTable.snapshot(s"$dir/pairs").version == pairsV,
      "no-op append committed a pairs version")
    assert(TxTable.snapshot(s"$dir/components").version == compV,
      "no-op append committed a components version")
    // Docs and groups DO advance: future deltas must see these shingles.
    assert(TxTable.snapshot(s"$dir/groups").dirs.size == groupsSegs + 1)
    assertParity(dir, base ++ unique)
    spark.sharedState.cacheManager.clearCache()
  }

  test("mergeSegments is split-invariant: any segmentation folds to the one-shot index") {
    // The LSM design rests on one algebraic fact: aggregating per-split
    // groups then folding across splits equals aggregating the whole
    // corpus at once — for EVERY split. Exercise uneven splits (empty
    // slices, singleton slices, all-in-one) over a corpus with rare,
    // boundary (df == cap), and hot (df > cap) shingles.
    val corpus = (1L to 20L).map { i =>
      i -> (Seq(s"own$i") ++ (if (i <= 6) Seq("rare_pair") else Seq.empty) ++
        (if (i % 2 == 0) Seq("hot_even") else Seq.empty) ++
        (if (i <= Cap) Seq("at_cap") else Seq.empty))
    }
    def segOf(slice: Seq[(Long, Seq[String])]) =
      df(slice).selectExpr("doc_id", "explode(shs) AS sh")
        .groupBy("sh").agg(expr(s"graft_collect_capped(doc_id, $Cap)").as("ids"),
          count(lit(1)).as("df"))
    val want = sortedRows(DedupIndex.mergeSegments(segOf(corpus), Cap))
    Seq(Seq(7, 13), Seq(1, 1, 18), Seq(20), Seq(5, 0, 15)).foreach { sizes =>
      var rest = corpus
      val segs = (sizes.map { n => val (h, t) = rest.splitAt(n); rest = t; h } :+ rest)
        .filter(_.nonEmpty)
      val folded = DedupIndex.mergeSegments(segs.map(segOf).reduce(_ unionByName _), Cap)
      assert(sortedRows(folded) == want, s"split $sizes diverged")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("a failed append leaves every table at its pre-append version") {
    import graft.sources.TxTable
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    def versions() = Seq("docs", "groups", "pairs", "components")
      .map(t => TxTable.snapshot(s"$dir/$t").version)
    val before = versions()
    // Fail the append MID-PIPELINE (after docs and groups are staged,
    // at the pairs stage write): swap the pairs data root for a plain
    // file so the staged write cannot create its directory. Every
    // table must stay at its pre-append version — in particular docs,
    // which used to commit FIRST and then block a clean re-run of the
    // same delta on the duplicate check.
    val pairsData = java.nio.file.Paths.get(s"$dir/pairs/data")
    val aside = java.nio.file.Paths.get(s"$dir/pairs/data_aside")
    Files.move(pairsData, aside)
    Files.writeString(pairsData, "not a directory")
    try intercept[Exception] { DedupIndex.append(spark, df(delta), dir, Cap) }
    finally { Files.delete(pairsData); Files.move(aside, pairsData) }
    assert(versions() == before, s"failed append advanced versions: $before -> ${versions()}")
    // The SAME delta then applies cleanly — no manual repair.
    DedupIndex.append(spark, df(delta), dir, Cap)
    assertParity(dir, base ++ delta)
    spark.sharedState.cacheManager.clearCache()
  }

  test("an append failing mid-mine settles its collision fold before rethrowing") {
    import graft.sources.TxTable
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    // Re-adding erased doc 4 collides with its open tombstone, so the
    // append launches the background mask fold over docs, components
    // and pairs; the mine then fails on its groups reads (the groups
    // data root swapped for a plain file).
    DedupIndex.deleteDocsDeferred(dir, Seq(4L))
    val readd = base.filter(_._1 == 4L)
    val groupsData = java.nio.file.Paths.get(s"$dir/groups/data")
    val aside = java.nio.file.Paths.get(s"$dir/groups/data_aside")
    Files.move(groupsData, aside)
    Files.writeString(groupsData, "not a directory")
    try intercept[Exception] { DedupIndex.append(spark, df(readd), dir, Cap) }
    finally { Files.delete(groupsData); Files.move(aside, groupsData) }
    // The fold had finished by the time the failure surfaced: no
    // standing mask is left on any of the three tables it folds.
    Seq("docs", "components", "pairs").foreach { t =>
      assert(TxTable.snapshot(s"$dir/$t").dkeys.isEmpty,
        s"$t still masked: the append rethrew before its fold settled")
    }
    DedupIndex.append(spark, df(readd), dir, Cap)
    assertParity(dir, base)
    spark.sharedState.cacheManager.clearCache()
  }

  test("append self-schedules compaction past the segment cap") {
    import graft.sources.TxTable
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    var sofar = base
    val capSegs = 2
    // A long append stream with NO manual compact: the per-append
    // trigger must keep the live segment count bounded (an LSM that
    // never folds level 0 degrades every read linearly in appends) —
    // and folding must never change results.
    def componentFiles(): Int =
      TxTable.dataFiles(s"$dir/components", TxTable.snapshot(s"$dir/components")).size
    val buildFiles = componentFiles()
    (0 until 5).foreach { i =>
      val d = Seq((100L + i) -> Seq(s"ac${i}_1", s"ac${i}_2"))
      DedupIndex.append(spark, df(d), dir, Cap, autoCompactSegments = capSegs)
      sofar = sofar ++ d
      val segs = TxTable.snapshot(s"$dir/groups").dirs.size
      assert(segs <= capSegs, s"append $i left $segs segments (cap $capSegs)")
      val docSegs = TxTable.snapshot(s"$dir/docs").dirs.size
      assert(docSegs <= capSegs, s"append $i left $docSegs docs segments")
    }
    // File-count stability: each pruned replace writes about as many
    // files as it rewrites (coalesced), so an append stream must not
    // fragment the components table linearly in shuffle partitions.
    assert(componentFiles() <= buildFiles + 5,
      s"components fragmented: $buildFiles -> ${componentFiles()} files after 5 appends")
    assertParity(dir, sofar)
    spark.sharedState.cacheManager.clearCache()
  }

  test("append's corpus reads are manifest-planned: lookups prune to hit files") {
    import graft.sources.TxTable
    val dir = tmp()
    // A base wide enough that range-clustering spreads docs and groups
    // over several files with disjoint key intervals (4 shuffle
    // partitions in the test session → 4 files per stage table).
    val bigBase = (1L to 400L).map(i => i -> Seq(f"b$i%04d_1", f"b$i%04d_2"))
    // AQE coalesces this test-sized shuffle to one partition (at real
    // scale it targets ~64 MB files, which is the layout we want);
    // disable coalescing here so the build emits several files and the
    // pruning is observable.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try DedupIndex.build(spark, df(bigBase), dir, Cap)
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    // DOCS side (the dupe probe and candidate-endpoint fetch): a
    // few-key lookup plans strictly fewer files than the table holds,
    // and an absent key dies on the Bloom with zero files.
    val docsSnap = TxTable.snapshot(s"$dir/docs")
    val docFiles = TxTable.dataFiles(s"$dir/docs", docsSnap).size
    assert(docFiles > 1, s"build left $docFiles docs file(s) — clustering broke")
    val hit = TxTable.lookupFiles(s"$dir/docs", docsSnap, "doc_id", Seq(1L, 2L))
    assert(hit.nonEmpty && hit.size < docFiles,
      s"docs lookup read ${hit.size}/$docFiles files — no pruning")
    assert(TxTable.lookupFiles(s"$dir/docs", docsSnap, "doc_id", Seq(999999L)).isEmpty,
      "absent key not proven absent by the doc_id Bloom")
    // Exactness: the pruned lookup returns precisely the key-matched rows.
    assert(sortedRows(TxTable.lookupKeys(spark, s"$dir/docs", "doc_id",
        Seq(1L, 2L, 999999L), Some(docsSnap)).select("doc_id")) ==
      Seq("[1]", "[2]"))
    // GROUPS side (the old-segment scan): segments are sh-range-
    // clustered, so one shingle's lookup plans a strict file subset.
    val groupsSnap = TxTable.snapshot(s"$dir/groups")
    val groupFiles = TxTable.dataFilesString(s"$dir/groups", groupsSnap).size
    assert(groupFiles > 1, s"build left $groupFiles groups file(s) — clustering broke")
    val gHit = TxTable.lookupStringFiles(s"$dir/groups", groupsSnap, "sh",
      Seq("b0001_1"))
    assert(gHit.nonEmpty && gHit.size < groupFiles,
      s"groups lookup read ${gHit.size}/$groupFiles files — no pruning")
    // End-to-end: an append over the clustered base (whose reads run
    // through these pruned plans) still equals a from-scratch mine.
    // Force the pruned branch open — the fixture sits under the
    // production MinPruneFiles gate, and the gated fallback must not
    // be the only branch the suite ever runs.
    val d = Seq(500L -> Seq("b0001_1", "b0001_2"), 501L -> Seq("nw1", "nw2"))
    val prevGate = DedupIndex.MinPruneFiles
    DedupIndex.MinPruneFiles = 0
    try DedupIndex.append(spark, df(d), dir, Cap)
    finally DedupIndex.MinPruneFiles = prevGate
    assertParity(dir, bigBase ++ d)
    spark.sharedState.cacheManager.clearCache()
  }

  test("markBase/restoreBase: the same delta replays repeatedly against one base") {
    // The marginal-append bench shape: build once, mark, then
    // restore+append N times — every rep must (a) pass the duplicate
    // check (restore really rewound docs) and (b) produce the identical
    // full-recompute-parity result.
    val dir = tmp()
    DedupIndex.build(spark, df(base), dir, Cap)
    DedupIndex.markBase(dir)
    val results = (1 to 3).map { _ =>
      DedupIndex.restoreBase(spark, dir)
      DedupIndex.append(spark, df(delta), dir, Cap)
      (sortedRows(DedupIndex.pairs(spark, dir)),
        sortedRows(DedupIndex.components(spark, dir)))
    }
    assert(results.distinct.size == 1, "reps diverged")
    assertParity(dir, base ++ delta)
    spark.sharedState.cacheManager.clearCache()
  }
}
