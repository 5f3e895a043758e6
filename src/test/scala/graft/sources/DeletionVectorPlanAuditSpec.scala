package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.types.StructType

/** Plan-shape audit of the tombstone mask: the deferred-delete filter
  * must be a SCAN-LEVEL predicate — pushed into the parquet reader and
  * evaluated inside whole-stage codegen — never a join, an exchange,
  * or a post-shuffle filter. That is the entire 100 TB case for key
  * tombstones over positional deletion vectors: the mask costs one
  * pushed predicate per scan, not a sidecar lookup per file.
  * Plan-audit group: AQE off, deterministic shapes.
  */
class DeletionVectorPlanAuditSpec extends SparkSpec {

  override lazy val spark: org.apache.spark.sql.SparkSession = {
    val s = SparkSpec.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  import spark.implicits._

  test("the mask is a pushed scan predicate inside one codegen stage") {
    val dir = Files.createTempDirectory("graft_dv_plan").toString
    TxTable.init(spark, dir, StructType.fromDDL("k BIGINT, v BIGINT"))
    TxTable.append(spark, dir,
      spark.range(0L, 1000L).toDF("k")
        .withColumn("v", org.apache.spark.sql.functions.col("k") * 2L))
    TxTable.deleteKeysDeferred(dir, "k", Seq(7L, 8L, 9L))

    val masked = TxTable.read(spark, dir)
    val plan = masked.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // No join/exchange shape: the mask is a filter, nothing more.
    assert(!plan.contains("Exchange"), s"mask introduced a shuffle:\n$plan")
    assert(!plan.contains("Join"), s"mask introduced a join:\n$plan")
    // Pushed to the reader: the scan's PushedFilters carries the
    // negated membership (NULL-safe disjunction splits into IsNull OR
    // Not(In) — the Or must reach the scan for row-group skipping).
    val pushed = plan.linesIterator.find(_.contains("PushedFilters"))
      .getOrElse(fail(s"no PushedFilters line in:\n$plan"))
    assert(pushed.contains("Not(In(k") || pushed.contains("Not(In(`k`"),
      s"tombstone membership not pushed to the scan: $pushed")
    // And evaluated inside whole-stage codegen (InSet probe, no
    // interpreted filter in the hot path) — formatted explain marks
    // codegen operators with `*` and a codegen-id detail line.
    assert(plan.contains("* Filter") && plan.contains("[codegen id :"),
      s"masked scan's filter fell out of codegen:\n$plan")
    // The filter is exact at row level regardless of pushdown.
    assert(masked.count() == 997L)
  }

  test("a point lookup on a masked table keeps its IN pushdown alongside the mask") {
    val dir = Files.createTempDirectory("graft_dv_plan2").toString
    TxTable.init(spark, dir, StructType.fromDDL("k BIGINT, v BIGINT"))
    TxTable.append(spark, dir,
      spark.range(0L, 1000L).toDF("k")
        .withColumn("v", org.apache.spark.sql.functions.col("k") * 2L))
    TxTable.deleteKeysDeferred(dir, "k", Seq(5L))
    // The lookup's scan path (TxTable.scanKeys; a pruned set this small
    // is otherwise read on the driver, with no scan to audit), on the
    // files the lookup plans.
    val snap = TxTable.snapshot(dir)
    val keys = Seq(4L, 5L, 6L)
    val hit = TxTable.scanKeys(spark, snap, "k", keys, TxTable.lookupFiles(dir, snap, "k", keys))
    val plan = hit.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    val pushed = plan.linesIterator.find(_.contains("PushedFilters"))
      .getOrElse(fail(s"no PushedFilters line in:\n$plan"))
    assert(pushed.contains("In(k") || pushed.contains("In(`k`"),
      s"lookup IN predicate lost from the scan: $pushed")
    assert(hit.select("k").as[Long].collect().sorted.toSeq == Seq(4L, 6L),
      "mask or lookup filter wrong at row level")
    assert(TxTable.lookupKeys(spark, dir, "k", keys).select("k").as[Long]
      .collect().sorted.toSeq == Seq(4L, 6L), "driver read disagrees with the scan")
  }
}
