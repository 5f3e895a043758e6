package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType

/** Point lookups whose pruned files hold at most
  * `TxTable.DriverLookupBytes` are read on the driver. The result cases
  * compare that path with the distributed scan (`TxTable.scanKeys` on
  * the files the lookup plans) on the same snapshot and keys, and check
  * that the driver path starts no Spark job. */
class DriverLookupSpec extends SparkSpec {

  import spark.implicits._

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** (driver rows, scan rows, jobs the driver lookup and its collect
    * started), after checking both frames have one schema and the
    * driver frame optimizes to a local relation. */
  private def bothPaths(lookup: => DataFrame, scan: => DataFrame)
      : (Seq[String], Seq[String], Int) = {
    val ((local, localRows), jobs) = jobsDuring {
      val df = lookup
      (df, sorted(df))
    }
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"not read on the driver:\n${local.queryExecution.optimizedPlan}")
    val s = scan
    assert(local.schema == s.schema)
    (localRows, sorted(s), jobs)
  }

  private def longPaths(dir: String, keys: Seq[Long]) = {
    val snap = TxTable.snapshot(dir)
    bothPaths(TxTable.lookupKeys(spark, dir, "k", keys, Some(snap)),
      TxTable.scanKeys(spark, snap, "k", keys, TxTable.lookupFiles(dir, snap, "k", keys)))
  }

  /** A BIGINT-keyed table over three data dirs with NULL keys, a Bloom
    * on `k`, and keys 5 and 205 tombstoned. */
  private def longTable(): String = {
    val dir = Files.createTempDirectory("graft_driver_lookup").toString
    TxTable.init(spark, dir, StructType.fromDDL("k BIGINT, v STRING"), bloomCols = Seq("k"))
    for (base <- Seq(0L, 100L, 200L))
      TxTable.append(spark, dir,
        ((base until base + 20L).map(k => (Option(k), s"v$k")) :+ ((None, s"null$base")))
          .toDF("k", "v").repartition(2))
    TxTable.deleteKeysDeferred(dir, "k", Seq(5L, 205L))
    dir
  }

  test("long keys: driver rows equal the scan's across dirs, NULLs, tombstones and absent keys") {
    val dir = longTable()
    assert(TxTable.snapshot(dir).dirs.size == 3)
    val keys = Seq(3L, 5L, 103L, 119L, 205L, 210L, 50L, -1L, 999L, 3L)
    val (local, scan, jobs) = longPaths(dir, keys)
    assert(local == scan)
    assert(local == Seq("[103,v103]", "[119,v119]", "[210,v210]", "[3,v3]"))
    assert(jobs == 0, s"driver lookup started $jobs Spark jobs")
  }

  test("string keys: driver rows equal the scan's across dirs, NULLs, tombstones and absent keys") {
    val dir = Files.createTempDirectory("graft_driver_lookup_s").toString
    TxTable.init(spark, dir, StructType.fromDDL("name STRING, v BIGINT"),
      bloomCols = Seq("name"))
    for (c <- Seq("a", "m", "x"))
      TxTable.append(spark, dir,
        ((1L to 10L).map(i => (Option(s"$c$i"), i)) :+ ((None, -1L)))
          .toDF("name", "v").repartition(2))
    TxTable.deleteStringKeysDeferred(dir, "name", Seq("m3"))
    val keys = Seq("a1", "m3", "m10", "x7", "b1", "zzz", "")
    val snap = TxTable.snapshot(dir)
    val (local, scan, jobs) = bothPaths(
      TxTable.lookupStringKeys(spark, dir, "name", keys, Some(snap)),
      TxTable.scanKeys(spark, snap, "name", keys,
        TxTable.lookupStringFiles(dir, snap, "name", keys)))
    assert(local == scan)
    assert(local == Seq("[a1,1]", "[m10,10]", "[x7,7]"))
    assert(jobs == 0, s"driver lookup started $jobs Spark jobs")
  }

  test("a Bloom-proved empty answer is an empty local relation") {
    val dir = longTable()
    val keys = Seq(50L, 150L)
    assert(TxTable.lookupFiles(dir, TxTable.snapshot(dir), "k", keys).isEmpty)
    val (local, scan, jobs) = longPaths(dir, keys)
    assert(local.isEmpty && scan.isEmpty && jobs == 0)
  }

  test("a pruned set above DriverLookupBytes keeps the distributed scan") {
    val dir = Files.createTempDirectory("graft_driver_lookup_big").toString
    TxTable.init(spark, dir, StructType.fromDDL("k BIGINT, pad STRING"), bloomCols = Seq("k"))
    // One file of incompressible 64-char hex strings, well over the bound.
    TxTable.append(spark, dir, spark.range(0L, 8000L).repartition(1)
      .selectExpr("id AS k", "sha2(CAST(id AS STRING), 256) AS pad"))
    val snap = TxTable.snapshot(dir)
    val files = TxTable.lookupFiles(dir, snap, "k", Seq(3L, 4001L))
    assert(files.size == 1 && Files.size(files.head) > TxTable.DriverLookupBytes)
    val (rows, jobs) = jobsDuring {
      val df = TxTable.lookupKeys(spark, dir, "k", Seq(3L, 4001L, -5L), Some(snap))
      assert(df.queryExecution.executedPlan.toString.contains("PushedFilters: [In(k"))
      df.select("k").as[Long].collect().sorted.toSeq
    }
    assert(rows == Seq(3L, 4001L))
    assert(jobs > 0)
  }

  test("a manifest-listed data dir missing on disk fails on both paths") {
    val dir = longTable()
    val s = TxTable.snapshot(dir)
    val victim = TxTable.dataFiles(dir, s).head._1.getParent
    Files.list(victim).forEach(p => Files.delete(p))
    Files.delete(victim)
    val keys = Seq(3L, 103L, 203L)
    intercept[IllegalStateException](TxTable.lookupKeys(spark, dir, "k", keys))
    intercept[IllegalStateException](
      TxTable.scanKeys(spark, s, "k", keys, TxTable.lookupFiles(dir, s, "k", keys)))
  }

  test("the driver reader is reused per session and schema, and rebuilt on a conf change") {
    val schema = StructType.fromDDL("k BIGINT, v STRING")
    val first = DriverScan.reader(spark, schema)
    assert(DriverScan.reader(spark, schema) eq first)
    assert(DriverScan.reader(spark, StructType.fromDDL("k BIGINT")) ne first)
    assert(DriverScan.reader(spark.newSession(), schema) ne first)
    withConf("spark.sql.parquet.enableVectorizedReader", "false") {
      assert(DriverScan.reader(spark, schema) ne first)
      // The row-based reader serves the same answer.
      val (local, scan, _) = longPaths(longTable(), Seq(3L, 205L))
      assert(local == scan && local == Seq("[3,v3]"))
    }
    val again = DriverScan.reader(spark, schema)
    assert(DriverScan.reader(spark, schema) eq again)
  }
}
