package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent product-quantization index: train ONCE, encode ONCE,
  * store codebooks + codes as parquet tables, serve many searches from
  * the stored index — the deployment shape of [[PQ]] at 100 TB (FAISS
  * writes the trained index to disk for the same reason; retraining per
  * query, as the self-contained q_embed_pq_topk does for its oracle, is
  * a correctness harness, not a serving plan).
  *
  * Layout under `dir`:
  *   - `codebooks`: (s, code, c array<double>, cnsq) — m·ksub tiny rows.
  *   - `codes`:     (vec_id, nsq, codes array<bigint>) — m codes per
  *     corpus vector; the only per-vector state a search scans.
  */
object PQIndex {

  /** Train on `vecs` (vec_id, e) and persist codebooks + encoded corpus
    * (vec_id ≥ nq are corpus rows; the first nq ids are the query ids
    * by the family's convention and are not encoded). */
  def build(spark: SparkSession, vecs: DataFrame, dir: String,
            m: Int, dsub: Int, ksub: Int, iters: Int, nq: Int): Unit = {
    val v = vecs.select(col("vec_id"), col("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cbs = PQ.fit(v, m, dsub, ksub, iters)
    val cbRows = cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.map(ct => (s, ct.cl, ct.c, ct.cnsq))
    }
    import spark.implicits._
    cbRows.toDF("s", "code", "c", "cnsq")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    v.filter(col("vec_id") >= nq)
      .selectExpr("vec_id", s"${VectorOps.normSq("e")} AS nsq",
        s"${PQ.encodeExpr(cbs, "e", dsub)} AS codes")
      .write.mode("overwrite").parquet(s"$dir/codes")
    v.unpersist()
  }

  /** IVF-PQ variant: codes are PARTITIONED BY the coarse-quantizer cell,
    * so probing nprobe cells at query time is literal partition pruning
    * on the codes table — the scan never opens the other cells' files
    * (asserted in the plan audit). Stores the fitted coarse centroids
    * alongside the codebooks. ([[PQIndexTx]] is the same index with the
    * codes table on the engine's own manifest-log format.) */
  def buildIVF(spark: SparkSession, vecs: DataFrame, dir: String,
               m: Int, dsub: Int, ksub: Int, iters: Int, nq: Int,
               coarseK: Int, coarseIters: Int): Unit = {
    val v = vecs.select(col("vec_id"), col("e"))
      .selectExpr("vec_id", "e", s"${VectorOps.normSq("e")} AS nsq")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (coarse, cbs) = trainIVF(spark, v, dir, m, dsub, ksub, iters,
      coarseK, coarseIters)
    encodedIVF(v, coarse, cbs, dsub, nq)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    v.unpersist()
  }

  /** Fit the coarse quantizer + PQ codebooks on `v` (vec_id, e, nsq)
    * and persist both under `dir` — the training half both IVF layouts
    * share; codes storage is the variant's own concern. */
  private[operators] def trainIVF(spark: SparkSession, v: DataFrame, dir: String,
                                  m: Int, dsub: Int, ksub: Int, iters: Int,
                                  coarseK: Int, coarseIters: Int)
      : (Seq[KMeans.Cent], Seq[Seq[KMeans.Cent]]) =
    trainIVFAt(spark, v, s"$dir/coarse", s"$dir/codebooks",
      m, dsub, ksub, iters, coarseK, coarseIters)

  /** [[trainIVF]] with EXPLICIT quantizer paths — what lets
    * [[PQIndexTx.optimizeIndex]] stage a retrained epoch's quantizers
    * in fresh directories and install them atomically with the
    * re-encoded codes, instead of overwriting the serving pair in
    * place under concurrent searches. */
  private[operators] def trainIVFAt(spark: SparkSession, v: DataFrame,
                                    coarsePath: String, cbsPath: String,
                                    m: Int, dsub: Int, ksub: Int, iters: Int,
                                    coarseK: Int, coarseIters: Int)
      : (Seq[KMeans.Cent], Seq[Seq[KMeans.Cent]]) = {
    // The coarse quantizer and the PQ codebooks are INDEPENDENT fits
    // over the same cached rows — overlap them (Par.par2): each fit is
    // a chain of small Lloyd jobs that leaves most of the cluster idle,
    // and the second chain back-fills those slots. Results unchanged —
    // the fits share no state.
    val (coarse, cbs) = Par.par2(KMeans.fit(v, coarseK, coarseIters))(
      PQ.fit(v.select(col("vec_id"), col("e")), m, dsub, ksub, iters))
    import spark.implicits._
    coarse.map(ct => (ct.cl, ct.c, ct.cnsq)).toDF("cl", "c", "cnsq")
      .coalesce(1).write.mode("overwrite").parquet(coarsePath)
    cbs.zipWithIndex.flatMap { case (cb, s) => cb.map(ct => (s, ct.cl, ct.c, ct.cnsq)) }
      .toDF("s", "code", "c", "cnsq")
      .coalesce(1).write.mode("overwrite").parquet(cbsPath)
    (coarse, cbs)
  }

  /** Corpus rows of `v` (vec_id, e, nsq; vec_id ≥ nq) encoded against
    * fitted quantizers: (vec_id, nsq, cell, codes) — the storage row
    * of every IVF codes layout. */
  private[operators] def encodedIVF(v: DataFrame, coarse: Seq[KMeans.Cent],
                                    cbs: Seq[Seq[KMeans.Cent]],
                                    dsub: Int, nq: Int): DataFrame =
    v.filter(col("vec_id") >= nq)
      .selectExpr("vec_id", "nsq",
        s"${VectorOps.nearestCentroid(KMeans.literal(coarse), "e", "nsq")}.cl AS cell",
        s"${PQ.encodeExpr(cbs, "e", dsub)} AS codes")

  private[operators] def loadCoarse(spark: SparkSession, dir: String): Seq[KMeans.Cent] =
    loadCoarseAt(spark, s"$dir/coarse")

  /** Stored coarse centroids from an EXPLICIT path (epoch-suffixed
    * quantizer dirs — see [[PQIndexTx.optimizeIndex]]). */
  private[operators] def loadCoarseAt(spark: SparkSession, path: String): Seq[KMeans.Cent] =
    spark.read.parquet(path).select(col("cl"), col("c"), col("cnsq"))
      .collect()
      .map(r => KMeans.Cent(r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_.cl).toSeq

  /** ADC search against the cell-partitioned index: per-query probed
    * cells come from the stored coarse centroids, the codes scan is
    * filtered to the UNION of probed cells (partition pruning), and the
    * per-query cell gate keeps each query's ADC to its own cells. */
  def searchIVF(spark: SparkSession, dir: String, queries: DataFrame,
                rerankVecs: DataFrame, dsub: Int, nprobe: Int,
                shortlist: Int, topK: Int): DataFrame =
    ivfSearchImpl(spark, queries, rerankVecs, dsub, nprobe,
      shortlist, topK, loadCoarse(spark, dir), loadCodebooks(spark, dir)) { allCells =>
      spark.read.parquet(s"$dir/codes")
        .filter(col("cell").isin(allCells: _*)) // → PartitionFilters on the scan
    }

  /** The IVF-ADC search plan shared by both codes layouts: probe cells
    * from the GIVEN coarse centroids, score the cell-pruned codes scan
    * (provided by `codesForCells` — partition-dir pruning for the Hive
    * layout, manifest stats pruning for [[PQIndexTx]]), shortlist,
    * exact rerank. The per-query cell gate stays in the expression, so
    * a scan that over-delivers cells (coarser pruning) changes cost,
    * never results. Quantizers are PARAMETERS (not loaded here) so a
    * caller serving a transactional layout can resolve them and the
    * codes scan from ONE snapshot — no window in which a concurrent
    * retrain ([[PQIndexTx.optimizeIndex]]) mixes new codebooks with old
    * codes. */
  private[operators] def ivfSearchImpl(spark: SparkSession,
                                       queries: DataFrame, rerankVecs: DataFrame,
                                       dsub: Int, nprobe: Int,
                                       shortlist: Int, topK: Int,
                                       coarse: Seq[KMeans.Cent],
                                       cbs: Seq[Seq[KMeans.Cent]])
                                      (codesForCells: Seq[Long] => DataFrame)
      : DataFrame = {
    val m = cbs.size
    val q = queries.selectExpr("vec_id AS q_id", "e AS qe",
      s"${VectorOps.normSq("e")} AS qnsq")
    val probes: Map[Long, Seq[Long]] = q
      .selectExpr("q_id",
        s"${VectorOps.probeCells(KMeans.literal(coarse), "qe", "qnsq", nprobe)} AS cells")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val lutRows = PQ.lutFrame(q, cbs, dsub).collect()
    val luts = lutRows.groupBy(_.getLong(0)).map { case (k, rows) =>
      k -> (0 until m).map { s =>
        rows.filter(_.getLong(1) == s).sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq
      }
    }
    val qnsq = q.select(col("q_id"), col("qnsq"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val allCells = probes.values.flatten.toSeq.distinct.sorted
    val perQuery = luts.keys.toSeq.sorted.map { qq =>
      val adc = PQ.adcDotExpr(PQ.lutLiteral(luts(qq)), "codes", m)
      val cellsIn = probes(qq).mkString("(", ", ", ")")
      s"""CASE WHEN cell IN $cellsIn THEN named_struct('q_id', CAST($qq AS BIGINT),
         |  'adc', round(($adc) / (sqrt(CAST('${qnsq(qq)}' AS DOUBLE)) * sqrt(nsq)), 6))
         |ELSE NULL END""".stripMargin
    }.mkString("array(", ", ", ")")
    val scored = codesForCells(allCells)
      .selectExpr("vec_id AS cand_id", s"explode(filter($perQuery, x -> x IS NOT NULL)) AS qa")
      .select(col("qa.q_id").as("q_id"), col("cand_id"), col("qa.adc").as("adc"))
    rerank(scored, q, rerankVecs, shortlist, topK)
  }

  /** Probed-cell-pruned codes scan (exposed for the plan audit). */
  def prunedCodesScan(spark: SparkSession, dir: String, cells: Seq[Long]): DataFrame =
    spark.read.parquet(s"$dir/codes").filter(col("cell").isin(cells: _*))

  /** Stored codebooks back as the driver-resident structure every
    * search needs (m·ksub rows — bounded by construction). */
  def loadCodebooks(spark: SparkSession, dir: String): Seq[Seq[KMeans.Cent]] =
    loadCodebooksAt(spark, s"$dir/codebooks")

  /** Stored PQ codebooks from an EXPLICIT path (epoch-suffixed
    * quantizer dirs — see [[PQIndexTx.optimizeIndex]]). */
  private[operators] def loadCodebooksAt(spark: SparkSession, path: String): Seq[Seq[KMeans.Cent]] = {
    val rows = spark.read.parquet(path)
      .select(col("s"), col("code"), col("c"), col("cnsq")).collect()
    val m = rows.map(_.getInt(0)).max + 1
    (0 until m).map(s => rows.filter(_.getInt(0) == s)
      .map(r => KMeans.Cent(r.getLong(1), r.getSeq[Double](2), r.getDouble(3)))
      .sortBy(_.cl).toSeq)
  }

  /** ADC search against the STORED index: LUT from the loaded
    * codebooks, one scan of the codes table, narrow shortlist window,
    * exact rerank against `rerankVecs` (vec_id, e, nsq — the vector
    * source; a stored refine table or the original corpus). */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             rerankVecs: DataFrame, dsub: Int,
             shortlist: Int, topK: Int): DataFrame = {
    val cbs = loadCodebooks(spark, dir)
    val m = cbs.size
    val q = queries.selectExpr("vec_id AS q_id", "e AS qe",
      s"${VectorOps.normSq("e")} AS qnsq")
    val lutRows = PQ.lutFrame(q, cbs, dsub).collect()
    val luts = lutRows.groupBy(_.getLong(0)).map { case (k, rows) =>
      k -> (0 until m).map { s =>
        rows.filter(_.getLong(1) == s).sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq
      }
    }
    val qnsq = q.select(col("q_id"), col("qnsq"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val perQuery = luts.keys.toSeq.sorted.map { qq =>
      val adc = PQ.adcDotExpr(PQ.lutLiteral(luts(qq)), "codes", m)
      s"""named_struct('q_id', CAST($qq AS BIGINT),
         |  'adc', round(($adc) / (sqrt(CAST('${qnsq(qq)}' AS DOUBLE)) * sqrt(nsq)), 6))""".stripMargin
    }.mkString("array(", ", ", ")")
    val scored = spark.read.parquet(s"$dir/codes")
      .selectExpr("vec_id AS cand_id", s"explode($perQuery) AS qa")
      .select(col("qa.q_id").as("q_id"), col("cand_id"), col("qa.adc").as("adc"))
    rerank(scored, q, rerankVecs, shortlist, topK)
  }

  /** Narrow shortlist window + exact rerank, shared by both search
    * shapes (wide arrays join back by id only for the rerank). */
  private def rerank(scored: DataFrame, q: DataFrame, rerankVecs: DataFrame,
                     shortlist: Int, topK: Int): DataFrame = {
    val sl = scored
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("cand_id"))))
      .filter(col("srk") <= shortlist)
      .drop("srk")
    val qv = q.select(col("q_id"), col("qe"), col("qnsq"))
    val cv = rerankVecs.selectExpr("vec_id AS cand_id", "e AS ce",
      s"${VectorOps.normSq("e")} AS cnsq")
    // Broadcast the ≤ |Q|·shortlist shortlist rows into the corpus-side
    // join — the rerank must never shuffle the corpus vectors.
    cv.join(broadcast(sl.join(broadcast(qv), Seq("q_id"))), Seq("cand_id"))
      .selectExpr("q_id", "cand_id", "adc",
        s"round(${VectorOps.cosine(VectorOps.dot("qe", "ce"), "qnsq", "cnsq")}, 6) AS cosine")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("cand_id"))).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("cand_id"), col("adc"), col("cosine"))
      .orderBy(col("q_id"), col("rk"))
  }
}
