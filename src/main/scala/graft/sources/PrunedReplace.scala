package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Generalized stats-pruned keyed REPLACE over a [[TxTable]] — the
  * execution shape of Delta's `MERGE INTO` at scale, factored out of
  * the summary-specific merge (EventStore.mergeSummaryPruned) so every
  * keyed derived table gets it: only the files whose manifest key
  * range intersects the touched keys are read and rewritten; every
  * other file carries into the new version BY REFERENCE — the commit
  * keeps its dir and lists the superseded files as removed
  * ([[TxTable.Snapshot.excludes]], Delta's add/remove-file actions) —
  * so a replace's I/O is O(rewritten files), never an O(table) copy.
  * Planning reads ONE in-memory manifest ([[TxTable.dataFiles]]) — no
  * footer opens except the pre-stats fallback.
  *
  * Keys may be LONG or STRING (the reference's natural keys are
  * VARCHAR — star_schema.sql:28-29 — so a business_id-keyed derived
  * table prunes exactly like a numeric one). String bounds live in the
  * manifest's `sstats` block and compare in parquet's unsigned-UTF-8
  * byte order ([[ParquetFooterStats.Utf8Ordering]]); truncated binary
  * stats are valid bounds, so pruning may over-hit, never under-hit.
  *
  * At 100 TB the replaced key set of an incremental maintenance step
  * is delta-bounded (thousands) while the table holds millions of
  * range-clustered files — the hit set is proportional to the keys,
  * not the table, which is the difference between an hourly ingest
  * rewriting gigabytes and one rewriting the world.
  *
  * Single-writer, like every pruned maintenance path here
  * ([[TxTable.merge]] is the contention-safe full-rewrite variant) —
  * and the single-writer assumption is ENFORCED, not trusted: the
  * commit claims exactly the version after the planning snapshot, so a
  * commit racing in between surfaces as
  * [[TxTable.ConcurrentCommitException]] instead of being silently
  * dropped from the replacing manifest (a lost update).
  */
object PrunedReplace {

  /** A fully-staged (not yet visible) replace: the REWRITTEN rows are
    * on disk in one staged dir, untouched files stay exactly where
    * they are (carried BY REFERENCE — the commit's manifest keeps their
    * dirs and lists the superseded files in `removeFiles`, Delta's
    * add/remove-file commit), and [[commit]] is a single atomic
    * manifest claim. Multi-table maintenance stages ALL its tables
    * first and then claims back-to-back, keeping the crash window to
    * the claims themselves instead of spanning the job pipeline.
    *
    * `expected` pins the planning snapshot the staged contents derive
    * from — [[commit]] fails loudly past it (see object doc);
    * `upgradedStats`/`upgradedSStats` are footer-fallback ranges read
    * during planning for carried files the manifest had no stats for,
    * merged in under their ORIGINAL file keys (pre-stats files upgrade
    * into the manifest for free; commit-time footer harvesting touches
    * only freshly written files). `carryDirs = false` is the
    * whole-table replace (the staged dir IS the table — the over-bound
    * fallback's shape). */
  final case class Staged(dir: String, uuid: String,
                          schema: StructType,
                          rewrittenFiles: Long, totalFiles: Long,
                          expected: TxTable.Snapshot,
                          removeFiles: Map[String, Seq[String]] = Map.empty,
                          upgradedStats: Map[String, Map[String, (Long, Long)]] = Map.empty,
                          upgradedSStats: Map[String, Map[String, (String, String)]] = Map.empty,
                          carryDirs: Boolean = false,
                          stagedBlooms: Map[String, Seq[String]] = Map.empty) {
    /** `dkeysOverride`: replace (rather than carry) the committed
      * version's tombstone block — TxTable.foldDeletes clears a folded
      * column's entry in the SAME claim that makes its deletes
      * physical (two commits would leave a window where the mask is
      * gone but the rows are back).
      *
      * `rewriteOnly`: mark the commit as LAYOUT-ONLY in the manifest —
      * its staged dir holds only rows already visible at `expected`
      * (a fold/compaction), never new or changed data, so the change
      * feed can skip it instead of failing the append-only check. A
      * caller whose staged rows CHANGE data (any real upsert) must
      * leave this false: a lying marker silently corrupts every
      * downstream feed consumer. */
    def commit(dkeysOverride: Option[Map[String, Seq[String]]] = None,
               rewriteOnly: Boolean = false): Unit = {
      TxTable.commitStagedFrom(dir, uuid, schema, expected,
        knownStats = upgradedStats, knownSStats = upgradedSStats,
        carryDirs = carryDirs, removeFiles = removeFiles,
        knownBlooms = stagedBlooms, dkeysOverride = dkeysOverride,
        rewriteOnly = rewriteOnly)
      ()
    }
  }

  /** Commit `(table where keyCol ∉ removeKeys) ∪ upserts` as one new
    * version. `removeKeys` must be driver-bounded (delta-scale — the
    * caller guards and falls back to a full rewrite above its bound);
    * files without usable stats rewrite conservatively. Returns
    * (rewrittenFiles, totalFiles). */
  def replaceKeys(spark: SparkSession, dir: String, keyCol: String,
                  removeKeys: Array[Long], upserts: DataFrame): (Long, Long) =
    replaceWith(spark, dir, keyCol, removeKeys)(_ => upserts)

  /** [[replaceKeys]] on a STRING key column. */
  def replaceStringKeys(spark: SparkSession, dir: String, keyCol: String,
                        removeKeys: Array[String], upserts: DataFrame): (Long, Long) = {
    val st = stageReplaceWithStringKeys(spark, dir, keyCol, removeKeys)(_ => upserts)
    st.commit()
    (st.rewrittenFiles, st.totalFiles)
  }

  def replaceWith(spark: SparkSession, dir: String, keyCol: String,
                  removeKeys: Array[Long], removeNull: Boolean = false)
                 (upsertsFor: DataFrame => DataFrame): (Long, Long) = {
    val st = stageReplaceWith(spark, dir, keyCol, removeKeys, removeNull)(upsertsFor)
    st.commit()
    (st.rewrittenFiles, st.totalFiles)
  }

  /** [[replaceKeys]] with the replacement rows DERIVED from the hit
    * files' rows: `upsertsFor` receives exactly the rows of the files
    * being rewritten (never the whole table — the pruning applies to
    * the derivation read too) and returns the rows that replace the
    * removed keys. This is the arithmetic-merge hook: an upsert that
    * must combine old and new values per key reads only hit rows.
    * This staged form materializes everything without committing.
    * `removeNull` treats NULL as one more removed key: the files that
    * may hold a NULL key are hit too, and their NULL-keyed rows are
    * replaced (a NULL-safe upsert, which keeps one NULL-keyed row).
    */
  def stageReplaceWith(spark: SparkSession, dir: String, keyCol: String,
                       removeKeys: Array[Long], removeNull: Boolean = false)
                      (upsertsFor: DataFrame => DataFrame): Staged =
    stageImpl[Long](spark, dir, keyCol, removeKeys, longKeyed(spark, keyCol),
      removeNull)(upsertsFor)

  private def longKeyed(spark: SparkSession, keyCol: String): Keyed[Long] =
    new Keyed[Long] {
      val ord = Ordering.Long
      def manifestRange(l: Map[String, (Long, Long)],
                        s: Map[String, (String, String)]) = l.get(keyCol)
      def footerRange(f: Path) = ParquetFooterStats.longRange(spark, f, keyCol)
      def remap(l: Map[String, (Long, Long)], s: Map[String, (String, String)],
                kr: Option[(Long, Long)]) = (l ++ kr.map(keyCol -> _), s)
      def keysDf(keys: Seq[Long]) = spark.createDataset(keys)(
        org.apache.spark.sql.Encoders.scalaLong).toDF(keyCol)
      def mightContain(bf: org.apache.spark.util.sketch.BloomFilter, k: Long) =
        bf.mightContainLong(k)
    }

  /** [[stageReplaceWith]] on a STRING key column: hit tests run against
    * the manifest's `sstats` bounds in UTF-8 byte order. */
  def stageReplaceWithStringKeys(spark: SparkSession, dir: String, keyCol: String,
                                 removeKeys: Array[String])
                                (upsertsFor: DataFrame => DataFrame): Staged =
    stageImpl[String](spark, dir, keyCol, removeKeys,
      new Keyed[String] {
        val ord = ParquetFooterStats.Utf8Ordering
        def manifestRange(l: Map[String, (Long, Long)],
                          s: Map[String, (String, String)]) = s.get(keyCol)
        def footerRange(f: Path) = ParquetFooterStats.stringRange(spark, f, keyCol)
        def remap(l: Map[String, (Long, Long)], s: Map[String, (String, String)],
                  kr: Option[(String, String)]) = (l, s ++ kr.map(keyCol -> _))
        def keysDf(keys: Seq[String]) = spark.createDataset(keys)(
          org.apache.spark.sql.Encoders.STRING).toDF(keyCol)
        def mightContain(bf: org.apache.spark.util.sketch.BloomFilter, k: String) =
          bf.mightContainString(k)
      })(upsertsFor)

  /** Key-type plumbing for [[stageImpl]]: where the key's bounds live
    * in the manifest, how to read them from a footer, how a fallback
    * range is remapped back into carried stats, and how the removed
    * keys become a broadcastable frame. */
  private trait Keyed[K] {
    def ord: Ordering[K]
    def manifestRange(l: Map[String, (Long, Long)],
                      s: Map[String, (String, String)]): Option[(K, K)]
    def footerRange(f: Path): Option[(K, K)]
    def remap(l: Map[String, (Long, Long)], s: Map[String, (String, String)],
              kr: Option[(K, K)]): (Map[String, (Long, Long)], Map[String, (String, String)])
    def keysDf(keys: Seq[K]): DataFrame
    def mightContain(bf: org.apache.spark.util.sketch.BloomFilter, k: K): Boolean
  }

  /** What a replace of `keys` reads and keeps, planned from one
    * snapshot: the files it rewrites (`hit`) and the files it carries
    * by reference, each with the stats the commit records for it. */
  private final case class Plan(snap: TxTable.Snapshot, schema: StructType,
                                hit: Seq[Path],
                                carry: Seq[(Path, (Map[String, (Long, Long)],
                                                   Map[String, (String, String)]))]) {
    /** The [[Staged]] replace of this plan by staged dir `u`. */
    def staged(dir: String, u: String, stagedSchema: StructType,
               stagedBlooms: Map[String, Seq[String]]): Staged = {
      val fileKey = (f: Path) => (f.getParent.getFileName.toString, f.getFileName.toString)
      val removeFiles = hit.map(fileKey)
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val upgraded = carry.map { case (f, stats) => (fileKey(f), stats) }
      Staged(dir, u, stagedSchema, hit.size.toLong,
        (hit.size + carry.size).toLong, snap,
        removeFiles,
        upgraded.collect { case ((d, n), (lst, _)) if lst.nonEmpty => s"$d/$n" -> lst }.toMap,
        upgraded.collect { case ((d, n), (_, sst)) if sst.nonEmpty => s"$d/$n" -> sst }.toMap,
        carryDirs = true, stagedBlooms = stagedBlooms)
    }
  }

  private def plan[K](spark: SparkSession, dir: String, keys: Array[K],
                      ko: Keyed[K], keyCol: String, removeNull: Boolean): Plan = {
    val snap = TxTable.snapshot(dir)
    lazy val conf = spark.sessionState.newHadoopConf()
    // ONE directory enumeration pairing long and string bounds per file
    // (two listings zipped positionally could misalign under a
    // concurrent vacuum — a file tested against another's bounds).
    val files = TxTable.dataFilesAll(dir, snap)
    // Per-dir BLOOM refinement of the key set: a key the dir's filter
    // rejects has no row in ANY of that dir's files (no false
    // negatives), so a range overlap with it cannot be a real hit —
    // this is what saves interleaved-but-absent keys (fresh natural
    // keys landing inside existing ranges) from rewriting files for
    // nothing. Partial coverage composes: dirs without a filter keep
    // the full key set. Driver-cheap — |keys| probes per covered dir,
    // and keys are driver-bounded by the operator's contract.
    val dirKeys: Map[String, Array[K]] = snap.dirs.flatMap { d =>
      TxTable.dirBloom(dir, snap, d, keyCol).map { bf =>
        d -> keys.filter(k => ko.mightContain(bf, k)) // stays sorted
      }
    }.toMap
    // Per file: manifest stats, the key range that decided the hit test
    // (manifest first, footer as the pre-stats fallback — a fallback
    // read is kept and remapped below, upgrading pre-stats files into
    // the manifest for free), and the hit verdict.
    val annotated = files.map { case (f, lst, sst) =>
      val fKeys = dirKeys.getOrElse(f.getParent.getFileName.toString, keys)
      val keyRange = ko.manifestRange(lst, sst).orElse(ko.footerRange(f))
      val isHit = fKeys.nonEmpty && (keyRange match {
        case Some((lo, hi)) =>
          // any removed key in [lo, hi]? (keys sorted — binary search)
          val from = TxTable.lowerBound(fKeys, lo, ko.ord)
          from < fKeys.length && ko.ord.lteq(fKeys(from), hi)
        case None => true // no usable stats → conservative rewrite
      }) || (removeNull && !TxTable.provenNullFree(conf, snap, f, keyCol))
      (f, lst, sst, keyRange, isHit)
    }
    Plan(snap, StructType.fromDDL(snap.schemaDdl),
      annotated.filter(_._5).map(_._1),
      annotated.filterNot(_._5).map(a => (a._1, ko.remap(a._2, a._3, a._4))))
  }

  /** Bytes per rewritten file: a replace writes its hit files' bytes
    * into ceil(bytes / this) files — at least one, at most one more
    * than it removes — so the same compaction bin as
    * `EventStore.compactFacts`. */
  private[sources] val TargetFileBytes: Long = 128L * 1024 * 1024

  private def stageImpl[K: scala.reflect.ClassTag](
      spark: SparkSession, dir: String, keyCol: String,
      removeKeys: Array[K], ko: Keyed[K], removeNull: Boolean = false)
     (upsertsFor: DataFrame => DataFrame): Staged = {
    val keys = removeKeys.distinct.sorted(ko.ord)
    val p = plan(spark, dir, keys, ko, keyCol, removeNull)
    import p.{hit, schema, snap}
    // Tombstone mask on the hit rows: without it a derive-from-old
    // upsert (mergeSummary's arithmetic) would fold a LOGICALLY DELETED
    // row's values back into its key — resurrection through the merge.
    // Applying it here also physically drops masked rows from every
    // file this replace rewrites anyway (a free partial fold; the
    // commit still carries `dkeys` for the files it didn't touch, and
    // re-masking absent rows is a no-op).
    val hitRows =
      if (hit.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else TxTable.applyDeletes(
        spark.read.schema(schema).parquet(hit.map(_.toString): _*), snap)
    val rewritten0 =
      if (hit.isEmpty) upsertsFor(hitRows)
      else hitRows.join(broadcast(ko.keysDf(keys.toSeq)), Seq(keyCol), "left_anti")
        .filter(if (removeNull) col(keyCol).isNotNull else lit(true))
        .unionByName(upsertsFor(hitRows))
    // File-count AND clustering stability: the rewrite REPLACES the hit
    // files, so write as many files as their bytes fill
    // ([[TargetFileBytes]]) — never more than hit.size + 1, so a
    // replace cannot grow the table's file count by more than the tail
    // file a pure insert needs, and an all-hit replace on a small table
    // keeps its count (sizing by hit.size + 1 alone grew it by one file
    // per call). Range-clustered on the key: without this the frame's
    // final-stage partitioning (union of scan splits + shuffle
    // partitions) writes O(spark.sql.shuffle.partitions) shards per
    // replace and a long append stream fragments the table linearly;
    // the range shuffle is delta-bounded by the operator's contract
    // (hit rows + upserts), keeps fresh files' ranges tight and
    // disjoint, and the within-partition sort gives their row groups
    // monotone stats.
    // Restore the table's declared column ORDER before staging: the
    // anti-join above moves keyCol to the first position, and the
    // staged frame's schema becomes the committed DDL — without this
    // select, every replace whose key isn't already first silently
    // reorders the table's columns (reads stay correct — parquet is
    // name-resolved — but the logical schema must not drift under
    // layout maintenance).
    val hitBytes = hit.map(TxTable.sizeOrZero).sum
    val parts = math.min(hit.size + 1L,
      math.max(1L, (hitBytes + TargetFileBytes - 1) / TargetFileBytes)).toInt
    val rewritten = rewritten0
      .select(schema.fieldNames.map(col(_)): _*)
      .repartitionByRange(parts, col(keyCol))
      .sortWithinPartitions(col(keyCol))
    // Stage ONLY the rewritten rows; untouched files never move — the
    // commit's manifest keeps their dirs and lists the hit files as
    // removed (carry by REFERENCE: O(rewritten) I/O per replace, where
    // a physical carry is an O(table) copy — at scale, the difference
    // between a merge and a migration). Footer-fallback ranges read
    // during planning for stats-less CARRIED files upgrade into the
    // manifest under their original keys.
    val u = TxTable.stage(dir, rewritten)
    // The fresh dir gets its own Bloom filters when the table registers
    // bloom columns — WITHOUT this, every replace would shrink bloom
    // coverage (carried dirs keep theirs, the new dir has none) and the
    // refinement above plus any all-dirs absence proof would decay to
    // conservative fallbacks after the first replace. One pass over the
    // rewritten rows only — delta-bounded, like the stage write itself.
    val stagedBlooms = {
      val cols = snap.bloomCols.filter(rewritten.schema.fieldNames.contains(_))
      if (cols.isEmpty) Map.empty[String, Seq[String]]
      else {
        val n = TxTable.stagedRowCount(dir, u) // footer counts: no count job
        if (n > TxTable.MaxBloomItems) Map.empty[String, Seq[String]]
        else {
          val df = spark.read.schema(rewritten.schema)
            .parquet(TxTable.stagedPath(dir, u))
          cols.foreach(c => TxTable.preBloom(dir, u, c, TxTable.columnBloom(dir, u, df, c, n)))
          Map(u -> cols)
        }
      }
    }
    p.staged(dir, u, rewritten.schema, stagedBlooms)
  }

  /** [[stageReplaceWith]] held on the DRIVER, for a replace whose hit
    * files hold at most `maxHitBytes` on disk — a micro-batch's summary
    * merge (its caller's bound is measured by
    * `graft.streaming.BatchCrossover`). The same plan (manifest stats, Bloom
    * refinement) picks the hit files; [[DriverScan]] reads them under
    * the tombstone mask with no Spark job; `upsertsFor` derives the
    * replacement rows from those rows as a frame over a local relation
    * (its projections fold on the driver with no job); and the
    * rewrite — hit rows minus the removed keys,
    * plus the upserts, sorted on the key — is one file written by one
    * job, its Bloom filters built from the same rows ([[TxTable.bloomOf]]).
    * One file is what [[TargetFileBytes]] sizes such a rewrite to.
    * `removeNull` is [[stageReplaceWith]]'s. `None` when the hit files
    * are larger than `maxHitBytes`: take [[stageReplaceWith]]. */
  def stageReplaceLocal(spark: SparkSession, dir: String, keyCol: String,
                        removeKeys: Array[Long], removeNull: Boolean, maxHitBytes: Long)
                       (upsertsFor: Seq[Row] => DataFrame): Option[Staged] = {
    val keys = removeKeys.distinct.sorted
    val p = plan(spark, dir, keys, longKeyed(spark, keyCol), keyCol, removeNull)
    val sized = p.hit.map(f => (f, Files.size(f)))
    if (sized.map(_._2).sum > maxHitBytes) return None
    val hitRows = TxTable.applyDeletes(
      DriverScan.read(spark, p.schema, sized), p.snap).collect().toSeq
    val schema = p.schema.toNullable
    val ki = schema.fieldIndex(keyCol)
    val removed = keys.toSet
    val upserts = upsertsFor(hitRows).select(schema.fieldNames.map(col(_)): _*).collect()
    val rows = (hitRows.filterNot(r => if (r.isNullAt(ki)) removeNull else removed(r.getLong(ki)))
      ++ upserts)
      .sortBy(r => if (r.isNullAt(ki)) None else Some(r.getLong(ki))) // NULLs first, as Spark sorts
    val u = TxTable.stage(dir, spark.createDataFrame(rows.asJava, schema).coalesce(1))
    val cols = p.snap.bloomCols.filter(schema.fieldNames.contains(_))
    cols.foreach { c =>
      val i = schema.fieldIndex(c)
      TxTable.preBloom(dir, u, c, TxTable.bloomOf(rows.map(_.get(i))))
    }
    Some(p.staged(dir, u, schema, if (cols.isEmpty) Map.empty else Map(u -> cols)))
  }
}
