package graft.operators

import graft.SparkSpec
import graft.sources.{Tables, TxTable}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col

/** The serving IVF-PQ queries' plans: probing prunes the codes scan by
  * per-file manifest bounds, every codes file a query reads is a live
  * file of the index's snapshot, and no cross join appears. Runs in the
  * isolated plan-audit JVM (build.sbt groups *PlanAuditSpec), AQE off.
  */
class PQIndexPlanAuditSpec extends SparkSpec {

  override lazy val spark: org.apache.spark.sql.SparkSession = {
    val s = SparkSpec.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Plan `name` and check its serving shape: no cross join, and every
    * codes file it reads is a live data file of the index's current
    * snapshot. Returns the codes table dir, its live file count and the
    * files the query reads. */
  private def auditServing(name: String): (String, Int, Set[String]) = {
    spark.sharedState.cacheManager.clearCache()
    val df = graft.SparkEntry.queries(name)(spark, SparkSpec.Sf0001)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct"),
      s"$name: serving search regressed to a cross join:\n$plan")
    val codeFiles = df.inputFiles.filter(_.contains("/codes/data/"))
      .map(f => java.nio.file.Paths.get(new java.net.URI(f)).toString).toSet
    assert(codeFiles.nonEmpty, s"$name: no codes files in the serving scan")
    val cd = codeFiles.head.replaceAll("/data/[^/]+/[^/]+$", "")
    val live = TxTable.dataFiles(cd, TxTable.snapshot(cd))
      .map(_._1.toAbsolutePath.toString).toSet
    val stray = codeFiles -- live
    assert(stray.isEmpty, s"$name read codes files outside the snapshot: $stray")
    (cd, live.size, codeFiles)
  }

  test("q_embed_ivfpq_index_search: the SERVING plan scans pruned cells, no cross join") {
    auditServing("q_embed_ivfpq_index_search")
  }

  test("q_embed_ivfpq_tx_search: manifest-backed serving reads only planned codes files") {
    // Probing prunes by per-file manifest bounds. 5 queries × 2 probes
    // can legitimately cover every cell, so the registered query's scan
    // may read all files; per-QUERY pruning is the claim: a single
    // query's 2 probed cells must plan a strict file subset on the same
    // stored index.
    val (cd, all, _) = auditServing("q_embed_ivfpq_tx_search")
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = t.embeddings
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e")
    val one = PQIndexTx.searchIVF(spark, cd.stripSuffix("/codes"),
      vecs.filter(col("vec_id") === 0), rerankVecs = vecs,
      dsub = 8, nprobe = 2, shortlist = 40, topK = 5)
    val oneFiles = one.inputFiles.filter(_.contains("/codes/data/")).toSet
    assert(oneFiles.nonEmpty && oneFiles.size < all,
      s"single-query probe did not prune: ${oneFiles.size} of $all files")
  }
}
