package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.QueryService
import graft.sources.TxTable
import graft.streaming.{EventStore, StreamIngest}

/** The stream part of `maintenance`: one `StreamIngest.applyBatch` of a
  * generated fixed-size batch into an EventStore, then read-your-write
  * reads of that batch, as a micro-batch consumer does before it pulls
  * the next batch; `EventStore.compactFacts` after every
  * [[CompactEvery]]-th batch.
  *
  * The store starts from the first tenth (by time) of `events`. Each batch holds new
  * events in its own one-minute window after all stored data, with
  * Zipf-skewed users, plus a seeded share of re-delivered (replayed)
  * events that the ingest must drop.
  */
final class StreamBatches(ctx: Ctx) {
  import ctx.{dir, rec, spark, tables}
  import StreamBatches._

  private val rng = ctx.rngFor("stream")

  private val store = new EventStore(dir("store"))
  private val summaryDir = dir("store/summary_user")
  private val events = tables.events.select(schema.fieldNames.map(col).toSeq: _*)
  private val (lo, hi) = {
    val r = events.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    (r.getLong(0), r.getLong(1))
  }
  private val base = events.filter(unix_micros(col("ts")) < lo + (hi - lo) / 10)
  StreamIngest.applyBatch(base, store)

  // Driver-side model: every applied row (the replay source) and each
  // user's running event count and value total.
  private val applied = mutable.ArrayBuffer.empty[Row]
  private val cnt = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  private val total = mutable.Map.empty[Long, BigDecimal].withDefaultValue(BigDecimal(0))
  private def model(r: Row): Unit = {
    applied += r
    cnt(r.getLong(1)) += 1
    total(r.getLong(1)) += BigDecimal(r.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
  }
  base.collect().foreach(model)

  private val users =
    rng.shuffle(events.select("user_id").distinct().collect().map(_.getLong(0)).toVector.sorted)
  private val zipf = new Zipf(users.size, ZipfS)
  private val types = events.select("event_type").distinct().collect().map(_.getString(0)).sorted
  private var nextId = 1000000000L
  private var windowStart = hi + WindowMicros
  private var replaysSent = 0L
  private var sent = 0L
  var userBytes = 0.0

  /** Batch `i`, with `compactFacts` after every [[CompactEvery]]-th (and
    * after the warm-up, `i` < 0), and the read-your-write reads. Returns
    * (events applied, checks passed). */
  def batch(i: Int): (Long, Boolean) = {
    val replays = (BatchSize * ReplayShare).toInt
    val fresh = Vector.fill(BatchSize - replays) {
      nextId += 1
      Row(nextId, users(zipf.sample(rng)), types(rng.nextInt(types.length)),
        rng.nextInt(100000) / 100.0, ts(windowStart + rng.nextLong(WindowMicros)),
        s"""{"k": ${rng.nextInt(100)}}""")
    }
    val replayed = Vector.fill(replays)(applied(rng.nextInt(applied.size)))
    val df = spark.createDataFrame(rng.shuffle(fresh ++ replayed).asJava, schema)
    val (from, to) = (windowStart, windowStart + WindowMicros - 1)
    val readers = rng.shuffle(fresh.map(_.getLong(1)).distinct).take(Reads)

    rec.span("streaming.apply_batch") { StreamIngest.applyBatch(df, store) }
    if (i < 0 || i % CompactEvery == CompactEvery - 1)
      rec.span("streaming.compact") { store.compactFacts(spark) }
    fresh.foreach(model)
    sent += BatchSize; replaysSent += replays
    userBytes += fresh.map(r => 40.0 + r.getString(2).length + r.getString(5).length).sum
    windowStart += WindowMicros

    // Read-your-write, as several users of the batch would: each read is
    // the user's summary row and the batch's window of facts.
    val ok = readers.map { user =>
      val (row, inWindow) = rec.read(rec.span("streaming.read") {
        val snap = rec.span("sources.snapshot") { TxTable.snapshot(summaryDir) }
        val served = rec.span("sources.lookup") {
          TxTable.lookupKeys(spark, summaryDir, "user_id", Seq(user), Some(snap))
        }
        val row = rec.span("api.lookup") {
          QueryService.lookupWithFallback(served, "user_id", user) {
            store.facts(spark).groupBy(col("user_id")).agg(
              count(lit(1)).as("event_cnt"),
              sum(col("value").cast("decimal(18,2)")).as("total_value"),
              max(col("ts")).as("last_ts"))
          }
        }
        (row, store.factsInRange(spark, from, to)._1.count())
      })
      val rowOk = row.exists(r => r.getAs[Long]("event_cnt") == cnt(user) &&
        BigDecimal(r.getAs[java.math.BigDecimal]("total_value")) == total(user)) ||
        rec.fail(s"summary for user $user after batch $i: got $row, want " +
          s"${cnt(user)} events, ${total(user)} total")
      rowOk && (inWindow == fresh.size ||
        rec.fail(s"factsInRange over batch $i's window: $inWindow rows, want ${fresh.size}"))
    }.forall(identity)
    (fresh.size.toLong, ok)
  }

  // Warm-up, untimed: one batch with its reads, so that the measured
  // reads do not pay for compiling their plans.
  batch(-1)
  private val facts0 = store.facts(spark).count()
  sent = 0; replaysSent = 0; userBytes = 0

  /** The facts must hold each event id once, so every replay was dropped;
    * the summary must equal a recompute from the facts. */
  def check(): Unit = {
    val facts = store.facts(spark)
    val r = facts.agg(count(lit(1)), countDistinct(col("event_id"))).head()
    val (n, distinct) = (r.getLong(0), r.getLong(1))
    if (n != distinct) rec.fail(s"fact_events holds ${n - distinct} duplicate event ids")
    rec.values("dup_drop_frac") = (sent - (n - facts0)).toDouble / math.max(1L, replaysSent)
    val recompute = facts.groupBy(col("user_id")).agg(
      count(lit(1)).as("event_cnt"),
      sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("total_value"),
      max(col("ts")).as("last_ts"))
    val summary = store.table(spark, "summary_user")
      .select("user_id", "event_cnt", "total_value", "last_ts")
    val diff = recompute.exceptAll(summary).count() + summary.exceptAll(recompute).count()
    if (diff != 0) rec.fail(s"summary_user differs from a recompute over fact_events in $diff rows")
  }
}

/** Batch shape and cadence. Batch size, replay share and user skew are
  * assumptions of the benchmark, not taken from measured traffic. */
object StreamBatches {
  val BatchSize = 400
  val ReplayShare = 0.1
  val ZipfS = 1.1
  val WindowMicros = 60L * 1000 * 1000
  /** Read-your-write reads per batch, each by a different user of it. */
  val Reads = 6
  val CompactEvery = 2

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("ts", TimestampType), StructField("props", StringType)))

  private def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000).toInt)
    t
  }
}
