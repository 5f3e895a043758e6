package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Times the two read paths of a point lookup on one pruned file of
  * growing size: the driver read ([[DriverScan]]) against the
  * distributed parquet scan, each under the same key filter and
  * tombstone mask, with the manifest planning in both. Two caller
  * shapes: `serve` (one key, `filter(...).limit(1).collect()`, as
  * `QueryService.lookupWithFallback`) and `probe` (100 keys,
  * `select(key).count()`, as the dupe probes). The file has the shape
  * of a serving summary (custkey, name, count, total). Prints one line
  * per size and shape: bytes on disk, median milliseconds of each path
  * and the Spark jobs one call starts. [[TxTable.DriverLookupBytes]] is
  * set from this output.
  *
  * {{{
  * SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.sources.LookupCrossover 15"
  * }}}
  * The optional argument is the number of timed reps per path (after 3
  * warm-up reps); driver and scan alternate within every rep. */
object LookupCrossover {

  private val Rows = Seq(2000L, 8000L, 12000L, 16000L, 24000L, 32000L, 64000L, 256000L)

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(15)
    val spark = GraftSession.builder(master = "local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.graftspec.Listeners.drain(spark.sparkContext)
      val before = jobs.get
      body
      org.apache.spark.graftspec.Listeners.drain(spark.sparkContext)
      jobs.get - before
    }
    for (n <- Rows) {
      val dir = table(spark, n)
      val snap = TxTable.snapshot(dir)
      val schema = StructType.fromDDL(snap.schemaDdl)
      val bytes = TxTable.dataFiles(dir, snap).map(f => Files.size(f._1)).sum
      def lookup(driver: Boolean, keys: Seq[Long]): DataFrame = {
        val files = TxTable.lookupFiles(dir, snap, "c_custkey", keys)
        val rows =
          if (driver) DriverScan.read(spark, schema, files.map(p => (p, Files.size(p))))
          else spark.read.schema(schema).parquet(files.map(_.toString): _*)
        TxTable.applyDeletes(rows.filter(col("c_custkey").isInCollection(keys)), snap)
      }
      val shapes: Seq[(String, Boolean => Unit)] = Seq(
        "serve" -> { d =>
          val k = n / 2
          val r = lookup(d, Seq(k)).filter(col("c_custkey") === k).limit(1).collect()
          require(r.length == 1) },
        "probe" -> { d =>
          val ks = (0L until 100L).map(i => i * (n / 100))
          require(lookup(d, ks).select("c_custkey").count() == 100L) })
      for ((shape, run) <- shapes) {
        def timed(d: Boolean): Double = {
          val t0 = System.nanoTime(); run(d); (System.nanoTime() - t0) / 1e6
        }
        for (_ <- 0 until 3) { timed(true); timed(false) }
        val (drv, scan) = (0 until reps).map { i =>
          if (i % 2 == 0) { val a = timed(true); (a, timed(false)) }
          else { val b = timed(false); (timed(true), b) }
        }.unzip
        println(f"crossover rows=$n%d bytes=$bytes%d shape=$shape " +
          f"driver_ms=${median(drv)}%.1f scan_ms=${median(scan)}%.1f " +
          s"driver_jobs=${jobsOf(run(true))} scan_jobs=${jobsOf(run(false))}")
      }
    }
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** One data file of `n` summary rows keyed 0 until n, Bloom on the key. */
  private def table(spark: SparkSession, n: Long): String = {
    val dir = Files.createTempDirectory("graft_lookup_crossover").toString
    TxTable.init(spark, dir, StructType.fromDDL(
      "c_custkey BIGINT, c_name STRING, order_cnt BIGINT, total_spent DOUBLE"),
      bloomCols = Seq("c_custkey"))
    TxTable.append(spark, dir, spark.range(0L, n).repartition(1).selectExpr(
      "id AS c_custkey",
      "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
      "CAST(rand(7) * 40 AS BIGINT) AS order_cnt",
      "round(rand(11) * 100000, 2) AS total_spent"))
    dir
  }
}
