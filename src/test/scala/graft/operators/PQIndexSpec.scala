package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Build-once/search-many PQ index: the stored index must answer
  * exactly what the self-contained pipeline (oracle-gated
  * q_embed_pq_topk) computes with identical parameters.
  */
class PQIndexSpec extends SparkSpec {

  test("stored-index search equals the self-contained PQ query") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqi").toString
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = t.embeddings
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e")
      .persist()
    PQIndex.build(spark, vecs, dir, m = 8, dsub = 8, ksub = 8, iters = 2, nq = 5)

    val queries = vecs.filter(col("vec_id") < 5)
    val got = PQIndex.search(spark, dir, queries,
        rerankVecs = vecs, dsub = 8, shortlist = 40, topK = 5)
      .collect().toSeq.map(_.toSeq)
    val want = graft.queries.PQQueries.defs
      .find(_.name == "q_embed_pq_topk").get.build(t)
      .collect().toSeq.map(_.toSeq)
    assert(got === want,
      "index-backed search diverged from the inline train+search pipeline")
  }

  test("cell-partitioned IVF index search equals the oracle-gated IVF-PQ query") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqivf").toString
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = t.embeddings
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e")
      .persist()
    PQIndex.buildIVF(spark, vecs, dir, m = 8, dsub = 8, ksub = 8, iters = 2,
      nq = 5, coarseK = 8, coarseIters = 3)
    val got = PQIndex.searchIVF(spark, dir, vecs.filter(col("vec_id") < 5),
        rerankVecs = vecs, dsub = 8, nprobe = 2, shortlist = 40, topK = 5)
      .collect().toSeq.map(_.toSeq)
    val want = graft.queries.PQQueries.defs
      .find(_.name == "q_embed_ivfpq_search").get.build(t)
      .collect().toSeq.map(_.toSeq)
    assert(got === want,
      "cell-partitioned index search diverged from the inline IVF-PQ pipeline")
  }

  test("codebooks survive the parquet round-trip bit-exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqi2").toString
    val t = Tables(spark, SparkSpec.Sf0001)
    val vecs = t.embeddings
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e")
      .persist()
    val trained = PQ.fit(vecs, 4, 16, 8, 2)
    PQIndex.build(spark, vecs, dir, m = 4, dsub = 16, ksub = 8, iters = 2, nq = 5)
    val loaded = PQIndex.loadCodebooks(spark, dir)
    assert(loaded === trained)
  }
}
