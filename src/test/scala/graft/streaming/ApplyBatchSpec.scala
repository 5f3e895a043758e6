package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sources.TxTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `StreamIngest.applyBatch` over a seeded batch sequence: replays,
  * in-batch duplicates, NULL keys, an all-replay batch, new users and
  * dates, a deferred-erased user who comes back, and one batch over the
  * driver bound. Every store is checked against a recompute from the
  * visible facts, and a steady-state batch against its job budget.
  */
class ApplyBatchSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("ts", TimestampType), StructField("props", StringType)))

  private val day = 24L * 3600 * 1000 * 1000
  private val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli * 1000

  private def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000).toInt)
    t
  }

  private def df(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)

  /** A seeded stream: each batch lies in its own window after the last,
    * so a user's first_seen is the least ts of their facts. */
  private final class Gen(seed: Long) {
    val rng = new scala.util.Random(seed)
    var nextId = 1L
    var window = t0
    val sent = scala.collection.mutable.ArrayBuffer.empty[Row]
    def batch(n: Int, users: Seq[Long], replays: Int = 0, span: Long = 60L * 1000 * 1000): Seq[Row] = {
      val fresh = Vector.fill(n) {
        nextId += 1
        Row(nextId, users(rng.nextInt(users.size)), if (rng.nextBoolean()) "click" else "view",
          rng.nextInt(100000) / 100.0, ts(window + (rng.nextLong() & Long.MaxValue) % span), "{}")
      }
      window += span
      val again = Vector.fill(replays)(sent(rng.nextInt(sent.size)))
      sent ++= fresh
      rng.shuffle(fresh ++ again)
    }
  }

  private def sorted(d: DataFrame): Seq[String] = d.collect().map(_.mkString("|")).sorted.toSeq

  /** Each derived store equals its recompute from the visible facts. */
  private def assertConsistent(store: EventStore): Unit = {
    val facts = store.facts(spark)
    val ids = facts.filter(col("event_id").isNotNull)
    assert(ids.count() == ids.select("event_id").distinct().count(), "duplicate event ids")
    assert(sorted(store.table(spark, "summary_user")) == sorted(facts.groupBy("user_id").agg(
      count(lit(1)).as("event_cnt"),
      sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("total_value"),
      max(col("ts")).as("last_ts"))), "summary_user differs from the recompute")
    assert(sorted(store.table(spark, "dim_user")) ==
      sorted(facts.groupBy("user_id").agg(min(col("ts")).as("first_seen"))),
      "dim_user differs from the recompute")
    assert(sorted(store.table(spark, "dim_time").select("date_actual", "year_actual",
        "quarter_actual", "month_actual", "dow_actual")) ==
      sorted(facts.select(to_date(col("ts")).as("d")).distinct().select(col("d"),
        year(col("d")), quarter(col("d")), month(col("d")), dayofweek(col("d")))),
      "dim_time differs from the recompute")
  }

  private def versions(root: String): Seq[Long] =
    Seq("fact_events", "dim_user", "dim_time", "summary_user")
      .map(t => TxTable.snapshot(s"$root/$t").version)

  test("a seeded batch sequence lands every store as its recompute") {
    val root = Files.createTempDirectory("graft_apply").toString
    val store = new EventStore(root)
    val g = new Gen(11)
    val users = (1L to 60L)
    // Base load, then steady batches with replays and in-batch duplicates.
    StreamIngest.applyBatch(df(g.batch(1500, users)), store)
    for (_ <- 1 to 3) {
      val b = g.batch(360, users, replays = 40)
      StreamIngest.applyBatch(df(b ++ b.take(5)), store)
    }
    assertConsistent(store)

    // NULL event_id: the group of NULL ids keeps one row, as
    // dropDuplicates keeps it, and it is never a replay.
    val nullFacts = () => store.facts(spark).filter(col("event_id").isNull).count()
    val before = nullFacts()
    StreamIngest.applyBatch(df(g.batch(20, users) ++ Seq(
      Row(null, 3L, "view", 1.0, ts(g.window - 1), "{}"),
      Row(null, 3L, "view", 1.0, ts(g.window - 1), "{}"))), store)
    assert(nullFacts() == before + 1)
    StreamIngest.applyBatch(df(Seq(Row(null, 4L, "view", 2.0, ts(g.window - 1), "{}"))), store)
    assert(nullFacts() == before + 2)

    // NULL user_id (and NULL ts) once the summary exists: a NULL user is
    // one user and a NULL date one date, so every batch carrying them
    // merges into the one NULL-keyed row of each store, as the
    // recompute's GROUP BY groups them.
    def nullCounts(): Seq[Long] = store.table(spark, "summary_user")
      .filter(col("user_id").isNull).collect().map(_.getAs[Long]("event_cnt")).toSeq
    StreamIngest.applyBatch(df(g.batch(20, users) ++ Seq(
      Row(900001L, null, "view", 5.0, ts(g.window + 1), "{}"),
      Row(900002L, null, "click", 6.0, ts(g.window + 2), "{}"),
      Row(900003L, 8L, "click", 7.0, null, "{}"))), store)
    assert(nullCounts() == Seq(2L))
    StreamIngest.applyBatch(df(g.batch(20, users) ++ Seq(
      Row(900004L, null, "view", 8.0, ts(g.window + 3), "{}"),
      Row(900005L, 9L, "view", 9.0, null, "{}"))), store)
    assert(nullCounts() == Seq(3L))
    for ((t, k) <- Seq("dim_user" -> "user_id", "dim_time" -> "date_actual"))
      assert(store.table(spark, t).filter(col(k).isNull).count() == 1, s"$t: one NULL key")

    // An all-replay batch commits nothing.
    val v = versions(root)
    StreamIngest.applyBatch(df(g.rng.shuffle(g.sent.take(200).toSeq)), store)
    assert(versions(root) == v, "an all-replay batch committed")

    // A new user on a new date.
    val dates = store.table(spark, "dim_time").count()
    g.window += 3 * day
    StreamIngest.applyBatch(df(g.batch(30, users) ++ g.batch(3, Seq(777L))), store)
    val firstSeen = g.sent.filter(_.get(1) == 777L).map(_.getAs[Timestamp](4))
    assert(store.table(spark, "dim_user").filter(col("user_id") === 777L)
      .collect().map(_.getAs[Timestamp]("first_seen")).toSeq == Seq(firstSeen.minBy(_.getTime)))
    assert(store.table(spark, "dim_time").count() == dates + 1)

    // A user erased by tombstone who sends new events stays erased in
    // every user-keyed store; the rest keep matching their recompute.
    store.eraseUsersDeferred(Seq(5L))
    StreamIngest.applyBatch(df(g.batch(200, Seq(5L, 6L, 7L))), store)
    for (t <- Seq("summary_user", "dim_user"))
      assert(store.table(spark, t).filter(col("user_id") === 5L).isEmpty, s"user 5 back in $t")
    assert(store.facts(spark).filter(col("user_id") === 5L).isEmpty)
    assertConsistent(store)
  }

  test("a steady-state 400-event batch starts at most 6 Spark jobs") {
    val root = Files.createTempDirectory("graft_apply_jobs").toString
    val store = new EventStore(root)
    val g = new Gen(3)
    val users = (1L to 300L)
    StreamIngest.applyBatch(df(g.batch(4000, users)), store)
    StreamIngest.applyBatch(df(g.batch(360, users, replays = 40)), store)
    val batch = df(g.batch(360, users, replays = 40))
    val (_, jobs) = jobsDuring(StreamIngest.applyBatch(batch, store))
    assert(jobs <= 6, s"a 400-event batch started $jobs Spark jobs")
    assertConsistent(store)
  }

  test("a batch over the driver bound lands what its in-bound halves land") {
    val g = new Gen(5)
    val users = (1L to 500L)
    // NULL users in both, so the distributed path's NULL-safe insert
    // and merge meet a stored NULL key.
    def nullUsers(ids: Seq[Long]) = ids.map(i =>
      Row(i, null, "view", 1.5, ts(g.window + i % 1000), "{}"))
    val base = g.batch(2000, users) ++ nullUsers(Seq(800001L, 800002L))
    val big = g.batch(EventStore.MaxProbeKeys + 1, users, replays = 0,
      span = 3 * day) ++ base.take(50) ++ nullUsers(Seq(800003L, 800004L))
    val (over, split) = (Files.createTempDirectory("graft_over").toString,
      Files.createTempDirectory("graft_split").toString)
    val (a, b) = (new EventStore(over), new EventStore(split))
    StreamIngest.applyBatch(df(base), a)
    StreamIngest.applyBatch(df(base), b)
    StreamIngest.applyBatch(df(big), a)
    // In time order, so each user's first batch holds their first event.
    big.sortBy(_.getAs[Timestamp](4).getTime).grouped(big.size / 2 + 1)
      .foreach(h => StreamIngest.applyBatch(df(h), b))
    for (t <- Seq("fact_events", "dim_user", "dim_time", "summary_user"))
      assert(sorted(a.table(spark, t)) == sorted(b.table(spark, t)), s"$t differs")
    assertConsistent(a)
  }
}
