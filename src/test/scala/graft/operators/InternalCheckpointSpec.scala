package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.graft.InternalCheckpoint

/** The reliable-pin escape hatch (ADR in the source): same rows and
  * caller-owned handle as `pin`, but the rows survive the loss of the
  * in-memory blocks — the property that matters when executors are
  * preemptible and `localCheckpoint`'s unreplicated blocks would kill
  * the query instead of recomputing. */
class InternalCheckpointSpec extends SparkSpec {

  test("pinReliable serves the same rows as the source plan") {
    val src = spark.range(1000).selectExpr("id", "id * 2 AS v")
    val (pinned, rdd) = InternalCheckpoint.pinReliable(spark, src)
    try {
      assert(pinned.selectExpr("sum(v)").collect()(0).getLong(0) == 999000L)
      assert(pinned.count() == 1000L)
    } finally rdd.unpersist(blocking = true)
  }

  test("pinReliable rows survive losing the in-memory blocks") {
    val src = spark.range(500).selectExpr("id", "CAST(id AS STRING) AS s")
    val (pinned, rdd) = InternalCheckpoint.pinReliable(spark, src)
    pinned.count() // materialize: persist fills, checkpoint job writes
    assert(rdd.isCheckpointed, "checkpoint must have been written")
    // Drop the persisted blocks: with a LOCAL checkpoint this read
    // would fail (lineage truncated, blocks gone); the reliable pin
    // re-reads the checkpoint files.
    rdd.unpersist(blocking = true)
    assert(pinned.count() == 500L)
    assert(pinned.selectExpr("max(id)").collect()(0).getLong(0) == 499L)
  }

  test("pinReliable sets a checkpoint dir only when none exists") {
    val before = spark.sparkContext.getCheckpointDir
    val (pinned, rdd) = InternalCheckpoint.pinReliable(spark,
      spark.range(10).toDF("id"))
    try {
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      // A second call must not replace the established dir.
      val established = spark.sparkContext.getCheckpointDir
      val (p2, r2) = InternalCheckpoint.pinReliable(spark,
        spark.range(5).toDF("id"),
        checkpointDir = Some("/tmp/graft-ckpt-ignored"))
      try {
        assert(spark.sparkContext.getCheckpointDir == established)
        assert(p2.count() == 5L)
      } finally r2.unpersist(blocking = true)
      assert(pinned.count() == 10L)
      // An existing dir is never replaced, not even by the first call.
      if (before.isDefined) assert(established == before)
    } finally rdd.unpersist(blocking = true)
  }

  test("pinReliable needs a shared checkpoint dir off a local master") {
    val cluster = "spark://master:7077"
    val err = intercept[IllegalArgumentException](
      InternalCheckpoint.checkpointDirToSet(cluster, None, None))
    assert(err.getMessage.contains("checkpoint dir"))
    assert(InternalCheckpoint.checkpointDirToSet(cluster, None, Some("/shared/ckpt"))
      .contains("/shared/ckpt"))
    assert(InternalCheckpoint.checkpointDirToSet(cluster, Some("/set"), None).isEmpty)
    assert(InternalCheckpoint.checkpointDirToSet("local[4]", None, None)
      .exists(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d))))
  }
}
