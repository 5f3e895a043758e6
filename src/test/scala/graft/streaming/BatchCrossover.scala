package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.sources.TxTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Times the driver-held paths of stream ingest against their
  * distributed twins, in three modes (the first argument; the optional
  * second is the number of timed reps per path, after 2 warm-up reps;
  * each rep runs both paths on the same input, alternating which goes
  * first). Each line printed gives the median milliseconds of each path
  * and the Spark jobs of its last call.
  *
  * {{{
  * SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.streaming.BatchCrossover batch 5"
  * }}}
  *
  * `batch`: `StreamIngest.applyHeld` (the batch collected once) against
  * `applyDistributed`, on batches of growing size. Each size gets two
  * stores seeded with the same 10,000-event base load; every rep
  * applies one fresh batch (2,000 users, 10 % replays, its own
  * one-minute window) to both, so both stores grow alike. Measured on a
  * 4-vCPU VM, local[4], 5 reps (median ms; jobs in brackets):
  * {{{
  * rows       held          distributed
  * 400        785 (3)       2,092 (28)
  * 4,000      826 (3)       1,944 (25)
  * 10,000     1,080 (3)     2,138 (25)
  * 40,000     2,543 (3)     3,697 (25)
  * 100,000    6,417 (3)     7,392 (27)
  * }}}
  * The held path wins at every size measured, so the bound of
  * `applyBatch` is [[EventStore.MaxProbeKeys]], the driver bound the
  * INSERT IGNORE probe already collects keys under.
  *
  * `over`: `applyBatch` on a batch one row over that bound, read from a
  * parquet file as a file source hands it over (it collects the bound's
  * rows, finds one more, and applies the batch as distributed frames),
  * against `applyDistributed` called directly — the price of the
  * collect an over-bound batch wastes. Same VM, 5 reps: 7,984 ms (31
  * jobs) against 7,827 ms (29 jobs), 2 % more. (From a local relation,
  * 3 reps, the collect starts no job: 7,429 ms against 7,266 ms.)
  *
  * `merge`: the summary merge of a 350-user delta held on the driver
  * (`EventStore.mergeSummaryRows` with no byte bound) against the
  * distributed `mergeSummaryPruned`, on one-file summaries of growing
  * size. Every file is hit, so the summary's bytes are the bytes the
  * held merge reads on the driver. Same VM, 5 reps:
  * {{{
  * users      summary bytes    held        distributed
  * 5,000      64,928           262 (1)     768 (9)
  * 10,000     109,163          238 (1)     698 (9)
  * 20,000     193,739          342 (1)     662 (9)
  * 30,000     275,938          387 (1)     565 (9)
  * 40,000     357,626          460 (1)     572 (9)
  * 50,000     438,588          592 (1)     617 (9)
  * 60,000     519,712          692 (1)     647 (9)
  * 75,000     640,839          828 (1)     613 (9)
  * 100,000    842,705          1,110 (1)   682 (9)
  * 200,000    1,648,059        2,511 (1)   888 (9)
  * }}}
  * The paths cross between 440 KB and 520 KB of hit files, so
  * [[EventStore.HeldMergeBytes]] is 384 KiB, the last measured point
  * where the held merge still wins clearly (358 KB).
  */
object BatchCrossover {

  private val Sizes = Seq(400, 4000, 10000, 40000, 100000)
  private val SummaryUsers =
    Seq(5000, 10000, 20000, 30000, 40000, 50000, 60000, 75000, 100000, 200000)

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("ts", TimestampType), StructField("props", StringType)))

  /** The per-user delta `applyHeld` hands to the summary merge. */
  private val deltaSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_cnt", LongType, nullable = false),
    StructField("total_value", DecimalType(28, 2)), StructField("last_ts", TimestampType)))

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("batch")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = GraftSession.builder(master = "local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    /** Milliseconds and Spark jobs of one call. */
    def timed(body: => Unit): (Double, Int) = {
      org.apache.spark.graftspec.Listeners.drain(spark.sparkContext)
      val j0 = jobs.get
      val t0 = System.nanoTime()
      body
      val ms = (System.nanoTime() - t0) / 1e6
      org.apache.spark.graftspec.Listeners.drain(spark.sparkContext)
      (ms, jobs.get - j0)
    }
    /** `reps` timed pairs (after 2 warm-up pairs) of `a` and `b` on the
      * same input, alternating which goes first. */
    def paired[T](input: () => T)(a: T => Unit, b: T => Unit): (Double, Int, Double, Int) = {
      val runs = (0 until reps + 2).map { i =>
        val in = input()
        if (i % 2 == 0) { val x = timed(a(in)); (x, timed(b(in))) }
        else { val y = timed(b(in)); (timed(a(in)), y) }
      }.drop(2)
      (median(runs.map(_._1._1)), runs.last._1._2, median(runs.map(_._2._1)), runs.last._2._2)
    }
    val rng = new scala.util.Random(17)
    var nextId = 0L
    var window = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli * 1000
    val sent = scala.collection.mutable.ArrayBuffer.empty[Row]
    def batch(n: Int): Seq[Row] = {
      val replays = if (sent.isEmpty) 0 else n / 10
      val fresh = Vector.fill(n - replays) {
        nextId += 1
        val t = new Timestamp((window + rng.nextInt(60000000)) / 1000)
        Row(nextId, rng.nextInt(2000).toLong, if (rng.nextBoolean()) "click" else "view",
          rng.nextInt(100000) / 100.0, t, s"""{"k": ${rng.nextInt(100)}}""")
      }
      window += 60000000L
      val again = Vector.fill(replays)(sent(rng.nextInt(sent.size)))
      sent ++= fresh
      rng.shuffle(fresh ++ again)
    }
    def seeded(): (EventStore, EventStore) = {
      val held = new EventStore(Files.createTempDirectory("graft_batch_held").toString)
      val dist = new EventStore(Files.createTempDirectory("graft_batch_dist").toString)
      val base = spark.createDataFrame(batch(10000).asJava, schema)
      StreamIngest.applyDistributed(base, held)
      StreamIngest.applyDistributed(base, dist)
      (held, dist)
    }
    def frame(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, schema)
    mode match {
      case "batch" =>
        for (n <- Sizes) {
          val (held, dist) = seeded()
          val (h, hj, d, dj) = paired(() => batch(n))(
            // The held path's cost includes collecting the batch.
            rows => StreamIngest.applyHeld(spark, schema, frame(rows).collect().toSeq, held),
            rows => StreamIngest.applyDistributed(frame(rows), dist))
          println(f"batch rows=$n%d held_ms=$h%.0f distributed_ms=$d%.0f " +
            s"held_jobs=$hj distributed_jobs=$dj")
        }
      case "over" =>
        // Each batch is read from a parquet file, as a file source hands
        // it to foreachBatch: the wasted collect is a job reading it.
        val (a, b) = seeded()
        val (o, oj, d, dj) = paired { () =>
          val path = Files.createTempDirectory("graft_over_batch").resolve("b").toString
          frame(batch(EventStore.MaxProbeKeys + 1)).write.parquet(path)
          path
        }(path => StreamIngest.applyBatch(spark.read.parquet(path), a),
          path => StreamIngest.applyDistributed(spark.read.parquet(path), b))
        println(f"over rows=${EventStore.MaxProbeKeys + 1}%d apply_batch_ms=$o%.0f " +
          f"distributed_ms=$d%.0f apply_batch_jobs=$oj distributed_jobs=$dj")
      case "merge" =>
        for (u <- SummaryUsers) {
          val roots = Seq("held", "dist").map(n => Files.createTempDirectory(s"graft_merge_$n").toString)
          val stores = roots.map { r =>
            val st = new EventStore(r)
            st.mergeSummary(spark.createDataFrame((0 until u).map { i =>
              Row(i.toLong * 2, 1L, java.math.BigDecimal.valueOf(i.toLong, 2), new Timestamp(window / 1000))
            }.asJava, deltaSchema))
            st.clusterSummary(spark, 1)
            st
          }
          def delta(): Seq[Row] = (0 until 350).map(_ => rng.nextInt(2 * u + 200).toLong)
            .distinct.map { k =>
              Row(k, 1L + rng.nextInt(3), java.math.BigDecimal.valueOf(rng.nextInt(100000).toLong, 2),
                new Timestamp(window / 1000 + rng.nextInt(1000)))
            }
          val (h, hj, d, dj) = paired(() => delta())(
            rows => stores(0).mergeSummaryRows(spark, deltaSchema, rows, maxHitBytes = Long.MaxValue),
            rows => stores(1).mergeSummaryPruned(spark.createDataFrame(rows.asJava, deltaSchema)))
          val sd = s"${roots(0)}/summary_user"
          val bytes = TxTable.dataFiles(sd, TxTable.snapshot(sd)).map(f => Files.size(f._1)).sum
          println(f"merge users=$u%d summary_bytes=$bytes%d held_ms=$h%.0f " +
            f"distributed_ms=$d%.0f held_jobs=$hj distributed_jobs=$dj")
        }
    }
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
