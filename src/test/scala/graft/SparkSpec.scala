package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (Spark startup dominates
  * test wall-clock otherwise). Extensions are active, so specs can use
  * the registered graft_* SQL functions.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // Fresh warehouse per JVM: saveAsTable locations must not survive
      // across test runs (the in-memory catalog forgets them; the
      // directory wouldn't).
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  import org.apache.spark.sql.DataFrame
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Runs `body` with SQL conf `key` set to `value`, restoring the
    * prior setting afterwards (the session is shared across suites). */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body`'s result and the number of Spark jobs it started: `body` runs
    * under a unique job group on the calling thread, and the thread's
    * prior group is restored afterwards. Jobs a helper thread starts in
    * its own group are not counted. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val props = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    val prior = props.map(k => k -> sc.getLocalProperty(k))
    val group = s"jobsDuring-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "jobsDuring")
    val result = try body finally prior.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    org.apache.spark.graftspec.Listeners.drain(sc)
    (result, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
