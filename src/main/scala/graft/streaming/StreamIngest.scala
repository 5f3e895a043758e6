package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Micro-batch ingest — the Spark twin of the reference's Kafka consumer
  * loop (SURVEY.md §2.9; reference streaming/consumer.py:128-179): one
  * event stream fans into fact appends, dimension upserts, a time
  * dimension extended on demand, and an incrementally maintained summary.
  *
  * All four stores are [[graft.sources.TxTable]]s kept by [[EventStore]]'s
  * MERGE emulations (at deploy scale these map 1:1 onto Delta `MERGE`
  * in `foreachBatch`; the update arithmetic is identical). Idempotence
  * under at-least-once delivery (ST2) comes from primary-key dedup
  * against the stored facts — the reference's `INSERT IGNORE` — so
  * replays and in-batch duplicates are no-ops.
  *
  * Per-batch job budget: a batch of at most [[EventStore.MaxProbeKeys]]
  * rows is collected once (no job when it is a local relation) and
  * applied from that copy. Spark then runs one job per table the batch
  * writes — the facts and the summary always, `dim_user` and `dim_time`
  * only when they gain rows — plus one for the event-id probe when the
  * replayed ids' fact files are over the driver-read bound: at most 5,
  * and 3 for a steady-state batch. A dimension's level-0 fold, summary
  * hit files over [[EventStore.HeldMergeBytes]], or a NULL key the
  * manifest cannot prove absent from a dimension add their own jobs. A
  * larger batch takes the distributed path, 25–28 jobs.
  */
object StreamIngest {

  /** Raw event-file schema (`ts` is the INT64 nanos the driver writes). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("ts", LongType),
    StructField("props", StringType)))

  /** Normalize raw long-nanos events to a typed stream (exact ns→µs). */
  def normalize(raw: DataFrame): DataFrame =
    raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))

  /** Start the ingest on a (streaming) event DataFrame. */
  def start(events: DataFrame, store: EventStore, checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => applyBatch(batch, store) }
      .start()

  /** One micro-batch, applied to all stores (ST1). Separable from the
    * streaming query so batch backfills reuse the same code path. A
    * batch of at most [[EventStore.MaxProbeKeys]] rows is collected once
    * and applied from that copy ([[applyHeld]]); a larger one is applied
    * as distributed frames ([[applyDistributed]]). Both commit facts,
    * then the dimensions, then the summary, with the same results.
    */
  def applyBatch(batch: DataFrame, store: EventStore): Unit = {
    val rows = batch.limit(EventStore.MaxProbeKeys + 1).collect()
    if (rows.length > EventStore.MaxProbeKeys) applyDistributed(batch, store)
    else applyHeld(batch.sparkSession, batch.schema, rows.toSeq, store)
  }

  /** [[applyBatch]] from a driver-held copy of the batch (`rows` of
    * `schema`). Every probe is a point lookup through the Bloom sidecars
    * and a driver read of small files; grouping and the summary's key
    * match are Scala maps; each cast, date and merge expression is the
    * distributed path's Catalyst expression, folded over a local
    * relation with no job. Spark runs only the writes, one job and one
    * file per table that changes. */
  private[streaming] def applyHeld(spark: SparkSession, schema: StructType,
                                   rows: Seq[Row], store: EventStore): Unit = {
    // ST2: in-batch dedup as dropDuplicates("event_id") — the first row
    // per id, NULL ids one group — then only the ids absent from the
    // store (the reference's INSERT IGNORE).
    val idIdx = schema.fieldIndex("event_id")
    val fresh = store.absentRows(spark, "fact_events", schema,
      rows.distinctBy(r => Option(r.get(idIdx))), "event_id")
    if (fresh.isEmpty) return
    val events = spark.createDataFrame(fresh.asJava, schema)
    // S3: append the new facts.
    store.appendFactRows(spark, schema, fresh)
    // Per row: user, time, and the value as the summary sums it.
    val perUser = events.select(col("user_id"), col("ts"),
        col("value").cast("decimal(18,2)")).collect().toSeq
      .groupBy(r => Option(r.get(0)))
    val byTime: Ordering[Any] = (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    def ts(rs: Seq[Row]) = rs.map(_.get(1)).filter(_ != null)
    // ST6: dimension upsert, first-writer-wins (INSERT IGNORE twin).
    val userSchema = StructType(Seq(schema("user_id"),
      StructField("first_seen", schema("ts").dataType)))
    store.insertRowsIfAbsent(spark, "dim_user", userSchema, perUser.map { case (u, rs) =>
      Row(u.orNull, ts(rs).minOption(byTime).orNull)
    }.toSeq, "user_id")
    // ST4: extend the time dimension with unseen dates.
    val dates = timeDim(events.select(to_date(col("ts")).as("date_actual")))
    store.insertRowsIfAbsent(spark, "dim_time", dates.schema,
      dates.collect().toSeq.distinct, "date_actual")
    // ST5/A21: the per-user delta merged into the running totals.
    val deltaSchema = StructType(Seq(schema("user_id"),
      StructField("event_cnt", LongType, nullable = false),
      StructField("total_value", DecimalType(28, 2)), // sum over decimal(18,2)
      StructField("last_ts", schema("ts").dataType)))
    store.mergeSummaryRows(spark, deltaSchema, perUser.map { case (u, rs) =>
      val values = rs.map(_.getAs[java.math.BigDecimal](2)).filter(_ != null)
      Row(u.orNull, rs.size.toLong,
        values.reduceOption(_ add _).orNull, ts(rs).maxOption(byTime).orNull)
    }.toSeq)
    store.vacuum(keepLast = VacuumKeepVersions)
  }

  /** The time dimension's attributes of each `date_actual`, derived from
    * the event's own timestamp (reference streaming/consumer.py:363-397). */
  private def timeDim(dates: DataFrame): DataFrame =
    dates.select(col("date_actual"),
      year(col("date_actual")).as("year_actual"),
      quarter(col("date_actual")).as("quarter_actual"),
      month(col("date_actual")).as("month_actual"),
      dayofweek(col("date_actual")).as("dow_actual"))

  /** [[applyBatch]] as distributed frames, for a batch over
    * [[EventStore.MaxProbeKeys]]. */
  private[streaming] def applyDistributed(batch: DataFrame, store: EventStore): Unit = {
    val spark = batch.sparkSession
    // ST2: idempotence — drop in-batch duplicates, then keep only ids
    // absent from the store (the reference's INSERT IGNORE). The
    // absence probe is manifest-planned (EventStore.absentOnly:
    // per-dir event_id Blooms + stats pruning), so a typical all-new
    // batch proves itself fresh without reading any stored fact file —
    // the old shape anti-scanned the whole fact history every trigger.
    // localCheckpoint (eager) snapshots the deduped batch BEFORE any
    // store mutation: the probe reads the fact directory, and the
    // subsequent append would otherwise invalidate/recache that plan —
    // a lazily-evaluated `fresh` would then see its own rows in the
    // store and silently empty the summary delta (read-modify-write
    // hazard; plain persist() does NOT protect against path recache).
    val fresh = store.absentOnly("fact_events",
        batch.dropDuplicates("event_id"), "event_id")
      .localCheckpoint()
    try {
      if (fresh.isEmpty) return
      // S3: append new facts (partition-batched by Spark).
      store.appendFacts(fresh)
      // ST6: dimension upsert, first-writer-wins (INSERT IGNORE twin).
      store.insertIfAbsent("dim_user", fresh
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_seen")), "user_id")
      // ST4: extend the time dimension with unseen dates.
      store.insertIfAbsent("dim_time", timeDim(fresh
        .select(to_date(col("ts")).as("date_actual")).distinct()), "date_actual")
      // ST5/A21: incremental summary — arithmetic merge of this batch's
      // per-user delta into the running totals. Exact math (sums/counts
      // compose associatively; no running-average drift — divergence from
      // the reference's seeded average documented in SURVEY.md §7.4.3).
      // The PRUNED merge is the default here: this foreachBatch loop is
      // the table's single writer (the pruned plan's contract), a
      // micro-batch's key set is delta-bounded, and each replace
      // rewrites only the files the batch's users touch while carrying
      // the rest by reference — O(delta) I/O per trigger where the
      // full-rewrite merge pays O(table). On a lost race it falls back
      // to the contention-safe retrying merge itself.
      store.mergeSummaryPruned(fresh.groupBy(col("user_id")).agg(
        count(lit(1)).as("event_cnt"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"),
        max(col("ts")).as("last_ts")))
      // Retention: every derived-table merge above committed a new
      // version whose predecessor is now superseded — without cleanup a
      // week of 10-second batches holds every historical summary on
      // disk. Vacuum with a multi-version window (concurrent readers
      // resolve at most a few commits behind this single writer) and
      // the default orphan retention (never reclaims a possibly
      // in-flight commit's data). Manifest listings are tiny; this is
      // the bounded, per-batch cost Delta pays in its log checkpoint.
      store.vacuum(keepLast = VacuumKeepVersions)
    } finally fresh.unpersist()
  }

  /** Versions retained per table at each batch vacuum: a pinned reader
    * older than this many commits behind the stream breaks on its next
    * scan (the documented Delta-style time-travel limit). */
  val VacuumKeepVersions = 8
}
