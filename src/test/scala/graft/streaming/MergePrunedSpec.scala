package graft.streaming

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** File-pruned MERGE: only summary files whose footer key range
  * intersects the delta rewrite; the rest carry over byte-identical.
  */
class MergePrunedSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): (EventStore, String) = {
    val root = Files.createTempDirectory("graft_mps").toString
    (new EventStore(root), root)
  }

  private def seed(store: EventStore, n: Int): Unit = {
    val rows = (1 to n).map(i =>
      (i.toLong, i.toLong * 2, BigDecimal(i * 10).setScale(2),
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    store.mergeSummary(rows
      .toDF("user_id", "event_cnt", "total_value", "last_ts")
      .withColumn("total_value", col("total_value").cast("decimal(18,2)")))
    store.clusterSummary(spark, files = 8)
  }

  private def delta(ids: Seq[Long]) = ids.map(i =>
      (i, 1L, BigDecimal(1).setScale(2), java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
    .toDF("user_id", "event_cnt", "total_value", "last_ts")
    .withColumn("total_value", col("total_value").cast("decimal(18,2)"))

  private def snapshot(store: EventStore) =
    store.table(spark, "summary_user")
      .orderBy("user_id").collect().toSeq.map(_.toSeq)

  test("pruned merge equals the full-rewrite merge") {
    val (a, _) = freshStore(); val (b, _) = freshStore()
    seed(a, 400); seed(b, 400)
    val d = delta(Seq(3L, 7L, 901L)) // two updates in the low range + an insert
    a.mergeSummary(d)
    val (rewritten, total) = b.mergeSummaryPruned(d)
    assert(snapshot(a) === snapshot(b))
    assert(total == 8L, s"expected the 8 clustered files, saw $total")
    assert(rewritten < total, s"pruning rewrote every file ($rewritten/$total)")
  }

  test("files outside the delta key range carry over by reference") {
    val (store, root) = freshStore()
    seed(store, 400)
    // List only the CURRENT version's live files (manifest-resolved,
    // exclusion-aware): superseded versions stay on disk until vacuum,
    // so a raw directory walk would prove nothing.
    def livePaths() = {
      val tbl = s"$root/summary_user"
      graft.sources.TxTable.dataFiles(tbl, graft.sources.TxTable.snapshot(tbl))
        .map(_._1).toSet
    }
    val before = livePaths()
    val (rewritten, total) = store.mergeSummaryPruned(delta(Seq(1L, 2L)))
    val after = livePaths()
    // Every untouched file survives AT ITS ORIGINAL PATH — the carry is
    // a manifest entry, not a copy; only hit files leave the live set.
    val surviving = before.intersect(after)
    assert(surviving.size >= (total - rewritten - 1),
      s"carried files moved or vanished: before=${before.size} after=${after.size}")
    assert(rewritten >= 1L && rewritten < total)
  }

  test("insert-only delta (no file range hit) still lands correctly") {
    val (a, _) = freshStore(); val (b, _) = freshStore()
    seed(a, 100); seed(b, 100)
    val d = delta(Seq(5000L, 6000L))
    a.mergeSummary(d)
    b.mergeSummaryPruned(d)
    assert(snapshot(a) === snapshot(b))
  }

  test("summary created from an EMPTY frame doesn't poison later pruned merges") {
    // Spark writes a schema-only parquet file (zero row groups) for an
    // empty DataFrame; footerKeyRange must treat it as a stats-less
    // conservative hit, not crash on min()-of-empty / all-null stats
    // (round-5 advice #1: this was an UnsupportedOperationException on
    // every subsequent mergeSummaryPruned).
    val (store, _) = freshStore()
    store.mergeSummary(delta(Seq.empty[Long])) // summary = one empty file
    val (a, _) = freshStore()
    a.mergeSummary(delta(Seq(1L, 2L)))
    val (rewritten, total) = store.mergeSummaryPruned(delta(Seq(1L, 2L)))
    assert(snapshot(store) === snapshot(a))
    // The schema-only file has no usable stats (a conservative range
    // hit) — but the summary's user_id BLOOM proves keys 1,2 absent
    // from its dir, so the merge lands as a pure insert: zero rewrites
    // and still byte-equal to the full merge.
    assert(rewritten == 0L && total == 1L,
      s"bloom should prove the empty file keyless: rewrote $rewritten/$total")
  }

  test("all-hit merges keep a small summary's live file count") {
    val (store, root) = freshStore()
    seed(store, 200)
    store.clusterSummary(spark, files = 1)
    val tbl = s"$root/summary_user"
    def liveFiles() = graft.sources.TxTable.dataFiles(tbl, graft.sources.TxTable.snapshot(tbl)).size
    assert(liveFiles() == 1)
    // Every merge hits the one file: the rewrite replaces it with one.
    for (i <- 1 to 20) {
      val (rewritten, _) = store.mergeSummaryPruned(delta(Seq(1L, 100L, 200L + i)))
      assert(rewritten == 1L && liveFiles() == 1,
        s"merge $i: rewrote $rewritten, live files ${liveFiles()}")
    }
    assert(store.table(spark, "summary_user").count() == 220L)
  }

  test("a held merge whose hit files are over the held bound takes the distributed merge") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val deltaSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_cnt", LongType, nullable = false),
      StructField("total_value", DecimalType(28, 2)), StructField("last_ts", TimestampType)))
    def row(u: java.lang.Long, n: Long, cents: Long, sec: Long) =
      Row(u, n, java.math.BigDecimal.valueOf(cents, 2), new java.sql.Timestamp(sec * 1000))
    val seed = (0 until 120000).map(i => row(i.toLong * 2, 1L, i.toLong, i.toLong)) :+
      row(null, 4L, 400L, 5L)
    // Stored users, new users between and past them, and the NULL user.
    val delta = (0 until 300).map(i => row(i.toLong * 797, 2L, 150L, 200000L + i)) :+
      row(null, 1L, 100L, 7L)
    val Seq((over, overRoot), (held, _)) = Seq(freshStore(), freshStore())
    Seq(over, held).foreach(_.mergeSummary(spark.createDataFrame(seed.asJava, deltaSchema)))
    val sd = s"$overRoot/summary_user"
    assert(graft.sources.TxTable.dataFiles(sd, graft.sources.TxTable.snapshot(sd))
      .map(f => Files.size(f._1)).sum > EventStore.HeldMergeBytes, "the summary fits the bound")
    val (_, overJobs) = jobsDuring(over.mergeSummaryRows(spark, deltaSchema, delta))
    val (_, heldJobs) = jobsDuring(
      held.mergeSummaryRows(spark, deltaSchema, delta, maxHitBytes = Long.MaxValue))
    assert(heldJobs == 1 && overJobs > 1, s"held: $heldJobs jobs, over the bound: $overJobs")
    assert(snapshot(over) == snapshot(held))
    val merged = over.table(spark, "summary_user")
    assert(merged.count() == 120000 + 1 + delta.count(r => !r.isNullAt(0) && r.getLong(0) % 2 == 1))
    assert(merged.filter(col("user_id").isNull).collect().toSeq
      .map(r => (r.getAs[Long]("event_cnt"), r.getAs[java.math.BigDecimal]("total_value"))) ==
      Seq((5L, new java.math.BigDecimal("5.00"))))
    assert(merged.filter(col("user_id") === 797L * 2).collect().map(_.getAs[Long]("event_cnt"))
      .toSeq == Seq(3L))
  }

  test("oversized delta falls back to the full merge") {
    val (a, _) = freshStore(); val (b, _) = freshStore()
    seed(a, 50); seed(b, 50)
    val d = delta((1L to 40L))
    a.mergeSummary(d)
    val (rewritten, total) = b.mergeSummaryPruned(d, maxDeltaKeys = 10)
    assert(snapshot(a) === snapshot(b))
    assert(rewritten == total, "fallback should report a full rewrite")
  }
}
