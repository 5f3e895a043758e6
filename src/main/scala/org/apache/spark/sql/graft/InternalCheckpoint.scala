package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession, Dataset => ClassicDataset}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** InternalRow-level pin / lineage cut — the `private[sql]` doorway
  * `Dataset.localCheckpoint` uses internally, exposed with the RDD
  * handle kept in OUR hands (the public Dataset variant hides the
  * persisted RDD inside a LogicalRDD with no release path — the trap
  * Stages.scala documents).
  *
  * Why not `df.rdd.localCheckpoint()` (the previous idiom everywhere):
  * `df.rdd` deserializes every UnsafeRow into an external `Row` —
  * a per-field `CatalystTypeConverters` walk, ruinous for array columns
  * like shingle sets — and every DOWNSTREAM read of the checkpoint pays
  * the inverse conversion back to InternalRow through
  * `spark.createDataFrame(rdd, schema)`'s row encoder. Checkpointing
  * `queryExecution.toRdd` stores the UnsafeRows themselves (one compact
  * byte buffer per row) and serves them back zero-copy; only the
  * defensive `copy()` remains (operators reuse row buffers, so rows
  * must be copied before being stored).
  */
object InternalCheckpoint {

  private def exec(df: DataFrame) =
    df.asInstanceOf[ClassicDataset[Row]].queryExecution

  /** Pin ONE evaluation of `df` as a local checkpoint at the internal
    * row level. Returns the frame serving the pinned rows plus the RDD
    * handle that owns the blocks (unpersist it when done). Lazy like
    * `rdd.localCheckpoint()`: blocks materialize at the first action. */
  def pin(spark: SparkSession, df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val rdd = exec(df).toRdd.map(_.copy()).localCheckpoint()
    (spark.asInstanceOf[ClassicSparkSession].internalCreateDataFrame(rdd, df.schema),
      rdd)
  }

  /** [[pin]] with a RELIABLE checkpoint — the escape hatch for
    * preemptible/lossy executor fleets (ADR: `pin`'s localCheckpoint
    * stores blocks UNREPLICATED on the executors that computed them
    * with lineage truncated, so one executor death mid-job kills the
    * query instead of recomputing; that is the right trade on local[*]
    * and on stable fleets, where the pin exists to kill Row↔InternalRow
    * conversion and analyzer re-walks, not for durability. On a fleet
    * where executors are preemptible, flip the affected pin sites to
    * this variant: rows are persisted AND written once to the
    * checkpoint directory — a shared filesystem in production — so a
    * lost block re-reads the checkpoint file instead of failing the
    * job).
    *
    * Same contract as [[pin]]: internal rows, zero-copy serves, the
    * returned RDD handle is caller-owned (unpersist it when done; the
    * checkpoint FILES are reclaimed by the ContextCleaner when the RDD
    * is garbage-collected if `spark.cleaner.referenceTracking
    * .cleanCheckpoints` is set, or at application exit with the
    * checkpoint dir). The persist below is deliberate: `checkpoint()`
    * re-runs the RDD's lineage in a second job otherwise — persist
    * makes the checkpoint write read the just-computed blocks.
    *
    * `checkpointDir`: used only when the context has none set yet
    * (first call wins, Spark keeps one per context). With neither, a
    * local master gets a fresh temp dir and any other master fails
    * ([[checkpointDirToSet]]). */
  def pinReliable(spark: SparkSession, df: DataFrame,
                  checkpointDir: Option[String] = None)
      : (DataFrame, RDD[InternalRow]) = {
    val sc = spark.sparkContext
    checkpointDirToSet(sc.master, sc.getCheckpointDir, checkpointDir)
      .foreach(sc.setCheckpointDir)
    val rdd = exec(df).toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.checkpoint()
    (spark.asInstanceOf[ClassicSparkSession].internalCreateDataFrame(rdd, df.schema),
      rdd)
  }

  /** The checkpoint dir [[pinReliable]] sets: none when the context
    * already has one, else the caller's, else — on a `local*` master
    * only, where driver and executors share one filesystem — a fresh
    * driver-local temp dir. Any other master fails: a block lost on one
    * executor could not be re-read from another machine's local dir,
    * which would silently defeat the reliable pin. */
  def checkpointDirToSet(master: String, current: Option[String],
                         given: Option[String]): Option[String] =
    if (current.isDefined) None
    else given.orElse {
      require(master.startsWith("local"),
        s"pinReliable on master $master needs a checkpoint dir on a filesystem " +
          "every executor shares: pass checkpointDir or call " +
          "SparkContext.setCheckpointDir first")
      Some(java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    }

  /** Lineage cut WITHOUT a checkpoint: wrap `df`'s physical RDD as a
    * LogicalRDD so later actions re-analyze one leaf instead of the
    * whole upstream plan. Data still flows from whatever backs `df`
    * (typically its persisted cache) — the caller keeps that cache
    * alive and releases it; nothing new is stored here. */
  def wrap(spark: SparkSession, df: DataFrame): DataFrame =
    spark.asInstanceOf[ClassicSparkSession].internalCreateDataFrame(
      exec(df).toRdd.map(_.copy()), df.schema)
}
