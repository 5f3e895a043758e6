package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Product quantizer: structural invariants + retrieval quality. The
  * value-level gate is the q_embed_pq_topk oracle (the DuckDB twin
  * replays training, encoding, ADC and rerank hash-exactly).
  */
class PQSpec extends SparkSpec {

  private val (m, dsub, ksub, iters) = (8, 8, 8, 2)

  private lazy val vecs = {
    val t = Tables(spark, SparkSpec.Sf0001)
    t.embeddings.selectExpr("vec_id", "CAST(embedding AS array<double>) AS e")
      .persist()
  }
  private lazy val cbs = PQ.fit(vecs, m, dsub, ksub, iters)

  test("batched joint training equals the sequential per-subspace fitL2") {
    val sequential = (0 until m).map { s =>
      val sub = vecs
        .selectExpr("vec_id", s"${PQ.subExpr("e", s, dsub)} AS e")
        .selectExpr("vec_id", "e", s"${VectorOps.normSq("e")} AS nsq")
      PQ.renumber(KMeans.fitL2(sub, ksub, iters))
    }
    assert(cbs == sequential,
      "single-pass-per-iteration trainer diverged from per-subspace Lloyd")
  }

  test("seeds are the k smallest vec_ids present, not the ids below k") {
    // Ids offset by 10,000: no id is below k, yet the seeds are the same
    // vectors, so the fitted codebooks are too.
    val shifted = vecs.selectExpr("vec_id + 10000 AS vec_id", "e")
    assert(PQ.fit(shifted, m, dsub, ksub, iters) == cbs)
    def sub(v: org.apache.spark.sql.DataFrame) = v
      .selectExpr("vec_id", s"${PQ.subExpr("e", 0, dsub)} AS e")
      .selectExpr("vec_id", "e", s"${VectorOps.normSq("e")} AS nsq")
    assert(PQ.renumber(KMeans.fitL2(sub(shifted), ksub, iters)) ==
      PQ.renumber(KMeans.fitL2(sub(vecs), ksub, iters)))
  }

  test("codebooks: m subspaces, ≤ ksub centroids each, codes renumbered 0..k-1") {
    assert(cbs.size == m)
    cbs.foreach { cb =>
      assert(cb.nonEmpty && cb.size <= ksub)
      assert(cb.map(_.cl) == cb.indices.map(_.toLong),
        "codes must be dense ranks 0..k-1")
      cb.foreach(c => assert(c.c.size == dsub))
    }
  }

  test("encoding is deterministic and in-range across repartitioning") {
    val enc = vecs.selectExpr("vec_id", s"${PQ.encodeExpr(cbs, "e", dsub)} AS codes")
    val a = enc.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = vecs.repartition(7).selectExpr("vec_id", s"${PQ.encodeExpr(cbs, "e", dsub)} AS codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a == b)
    a.values.foreach { codes =>
      assert(codes.size == m)
      codes.zipWithIndex.foreach { case (c, s) =>
        assert(c >= 0 && c < cbs(s).size, s"code $c out of range for subspace $s")
      }
    }
  }

  test("ADC retrieval recalls most of the exact top-5") {
    val out = graft.queries.PQQueries.defs.head.build(Tables(spark, SparkSpec.Sf0001))
      .select(col("q_id"), col("cand_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // Exact brute-force top-5 (same tie-break: cosine desc, cand_id).
    val n = vecs.selectExpr("vec_id", "e", s"${VectorOps.normSq("e")} AS nsq").cache()
    val q = n.filter(col("vec_id") < 5).selectExpr("vec_id AS q_id", "e AS qe", "nsq AS qnsq")
    val c = n.filter(col("vec_id") >= 5).selectExpr("vec_id AS cand_id", "e AS ce", "nsq AS cnsq")
    val exact = c.crossJoin(broadcast(q))
      .selectExpr("q_id", "cand_id",
        s"round(${VectorOps.cosine(VectorOps.dot("qe", "ce"), "qnsq", "cnsq")}, 6) AS cos")
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rk") <= 5)
      .collect().groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    assert(out.keySet == exact.keySet)
    val recall = out.keys.toSeq.map(k => (out(k) & exact(k)).size.toDouble / 5).sum / out.size
    // Measured 0.76 at these settings on sf0.001 (synthetic vectors —
    // real corpora cluster better). The bound is deliberately loose: a
    // quality regression guard, not a benchmark.
    assert(recall >= 0.6, s"PQ recall vs exact top-5 collapsed: $recall")
  }
}
