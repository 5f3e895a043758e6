package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.sources.{Tables, TxTable}

/** What every workload gets: the session, the tables, its seed, a scratch
  * directory and the recorder. */
final case class Ctx(spark: SparkSession, tables: Tables, seed: Long,
                     seconds: Double, work: Path, rec: Recorder) {
  val rng = new scala.util.Random(seed)
  /** An independent generator for one part of a workload, so parts set
    * up on separate threads draw the same values on every run. */
  def rngFor(part: String) = new scala.util.Random(seed * 1000003L + part.hashCode)

  /** Closed loop, one client: run `op(i)` back to back for at least
    * `seconds`, then on to the end of the current cycle of `cycle` ops,
    * so that every run holds whole cycles (the same mix of light ops and
    * the periodic heavy ones). A safety stop, no new op after
    * [[Main.SafetyStopS]] of JVM uptime, keeps a pathological run inside
    * a run's time limit (run.py's RUN_LIMIT_S). */
  def loop(cycle: Int)(op: Int => Unit): Unit = {
    rec.measureStart = rec.now()
    val budgetMs = seconds * 1000
    var i = 0
    def elapsed = rec.now() - rec.measureStart
    def uptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    while ((elapsed < budgetMs || i % cycle != 0) && uptimeS < Main.SafetyStopS) {
      op(i)
      i += 1
    }
    rec.measureEnd = rec.now()
  }

  /** The workload's own tables live under `data`; anything else it
    * writes (a correctness check's rebuild) goes elsewhere, so that
    * stored bytes and commit counts cover exactly the served state. */
  val data: Path = work.resolve("data")
  def dir(name: String): String = data.resolve(name).toString
}

/** Entry point: `Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  * <workDir> <outFile>`. Writes the recorder's JSON to `outFile`; run.py
  * computes the metrics from it. */
object Main {

  val SafetyStopS = 120

  def main(args: Array[String]): Unit =
    if (args.head == "oracle-sql") writeOracleSql(args(1)) else run(args)

  /** The DuckDB oracle SQL of every dashboard deck query, as a JSON
    * object (oracle.py turns it into stored result digests). */
  def writeOracleSql(out: String): Unit = {
    val esc = (s: String) => s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString
    }
    val sql = SparkEntry.oracleSql
    val body = Dashboard.Deck.map(n => s""""$n":"${esc(sql(n))}"""").mkString("{", ",", "}")
    Files.write(Paths.get(out), body.getBytes("UTF-8"))
  }

  def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, out) = args
    val rec = new Recorder(traceS == "1")
    val work = Paths.get(workDir)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(master = s"local[$cpus]", appName = "perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.attach(spark)
    rec.values("slots") = cpus
    // JVM start to a ready session: the part of setup every workload pays.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    rec.values("session_s") = (System.currentTimeMillis() - jvmStart) / 1e3
    val ctx = Ctx(spark, Tables(spark, dataDir), seedS.toLong, secondsS.toDouble, work, rec)
    Files.createDirectories(ctx.data)
    try {
      val run: Ctx => Unit = workload match {
        case "dashboard" => Dashboard.run
        case "maintenance" => Maintenance.run
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run(ctx)
      rec.drain()
      rec.values("stored_bytes") = txDirs(ctx.data).map(dirBytes).sum.toDouble
      rec.values("peak_rss_mb") = peakRssMb()
      rec.values("heap_live_mb") = heapLiveMb()
    } catch { case e: Exception =>
      rec.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
      e.printStackTrace()
    } finally {
      Files.write(Paths.get(out), rec.toJson.getBytes("UTF-8"))
      spark.stop()
    }
  }

  /** Evaluate `a` on a helper thread and `b` on this one; wait for both. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val fa = scala.concurrent.Future(a)(scala.concurrent.ExecutionContext.global)
    val rb = b
    (scala.concurrent.Await.result(fa, scala.concurrent.duration.Duration.Inf), rb)
  }

  /** Setup time: JVM + session start plus the workload's own setup. */
  def setupDone(ctx: Ctx, t0: Double): Unit =
    ctx.rec.values("setup_s") = ctx.rec.values("session_s") + (ctx.rec.now() - t0) / 1e3

  /** Every TxTable under `root` (a directory holding a `_log`). */
  def txDirs(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => p.getFileName.toString == "_log" && Files.isDirectory(p))
      .map(_.getParent).toVector
    finally s.close()
  }

  def dirBytes(d: Path): Long = {
    val s = Files.walk(d)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Commits made so far, summed over tables (latest version of each). */
  def commits(dirs: Seq[Path]): Long =
    dirs.map(d => TxTable.versions(d.toString).lastOption.getOrElse(0L)).sum

  /** Live data files over tables, from each latest snapshot. */
  def liveFiles(dirs: Seq[Path]): Long =
    dirs.map(d => TxTable.dataFiles(d.toString, TxTable.snapshot(d.toString)).size.toLong).sum

  /** VmHWM: the JVM's peak resident set, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Heap in use after full collections, in MB: what the run retains.
    * Spark's ContextCleaner frees the blocks of collected broadcasts and
    * shuffles on its own thread after a collection, so this collects a
    * few times, pausing in between, and keeps the least reading. */
  def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ => System.gc(); Thread.sleep(250); mem.getHeapMemoryUsage.getUsed }.min / 1048576.0
  }

  /** Record commit and file counts of the workload's tables around the
    * measured loop (read outside any op, so they cost no op time). */
  def countTables(ctx: Ctx, before: Long): Unit = {
    val dirs = txDirs(ctx.data)
    ctx.rec.values("commits") = (commits(dirs) - before).toDouble
    ctx.rec.values("live_files") = liveFiles(dirs).toDouble
  }
}
