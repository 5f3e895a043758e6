package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011): compress each vector into
  * `m` small codes — one per disjoint subspace — so similarity search
  * scans bytes instead of floats (beyond-reference; completes the ANN
  * family: exact KNN → IVF cells → LSH bands → PQ codes).
  *
  * Training: an independent squared-L2 k-means per subspace, `ksub`
  * centroids each, deterministic seeding — so the whole fit replays
  * relationally in the DuckDB oracle, like the IVF quantizer. [[fit]]
  * trains all m sub-problems in ONE pass per Lloyd iteration
  * (PQSpec asserts it equals the sequential [[KMeans.fitL2]] per
  * subspace). Codebooks are renumbered 0..ksub-1 in centroid-id order
  * (seed ids are arbitrary vec_ids; stable ranks make codes and LUT
  * indices line up across engines).
  *
  * Search (ADC — asymmetric distance computation): the query stays
  * exact; per query a LUT of `m × ksub` query-subvector·centroid dot
  * products is computed ONCE, and each corpus vector's approximate dot
  * is `Σ_s LUT[s][code_s]` — m array lookups per vector instead of a
  * dim-wide multiply. At 100 TB this is the point of PQ: the scan reads
  * `m` bytes of codes per vector (not `dim` floats) and the LUT lives
  * in RAM beside the scan, exactly FAISS's IVF-ADC inner loop. Here the
  * LUT rides the plan as a literal (built from a bounded |Q|·m·ksub
  * collect of SPARK-computed decimals, so both engines see identical
  * doubles), making the corpus pass pure map-side: scan → fold → top-k.
  */
object PQ {

  /** Subvector s (0-based) of column `e`: dims [s·dsub+1, (s+1)·dsub]. */
  def subExpr(e: String, s: Int, dsub: Int): String =
    s"slice($e, ${s * dsub + 1}, $dsub)"

  /** All m sub-quantizer centroid sets as ONE literal
    * `array<struct<s, cl, c, cnsq>>` (each subspace's block sorted by
    * cl, blocks in subspace order). */
  private def jointLiteral(cbs: Seq[Seq[KMeans.Cent]]): String =
    cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.sortBy(_.cl).map { ct =>
        val arr = ct.c.map(d => s"CAST('$d' AS DOUBLE)")
          .mkString("array(", ", ", ")")
        s"named_struct('s', $s, 'cl', CAST(${ct.cl} AS BIGINT), 'c', $arr, 'cnsq', CAST('${ct.cnsq}' AS DOUBLE))"
      }
    }.mkString("array(", ", ", ")")

  /** Train one codebook per subspace on `vecs` (must carry `vec_id`,
    * `e: array<double>`; persist it). Returns codebooks with cl
    * renumbered 0..ksub-1.
    *
    * All m sub-problems train TOGETHER — the corpus explodes to
    * (vec_id, s, e_sub) once, each Lloyd iteration is ONE assignment
    * pass (per-row argmin against the row's own subspace block of the
    * joint centroid literal) plus ONE (s, cl, i) mean shuffle — m× fewer
    * jobs than training subspaces sequentially, and the single-scan
    * shape a 100 TB corpus demands (FAISS trains its m sub-quantizers
    * in one pass for the same reason). */
  def fit(vecs: DataFrame, m: Int, dsub: Int, ksub: Int, iters: Int): Seq[Seq[KMeans.Cent]] = {
    val subRows = (0 until m).map(s =>
      s"named_struct('s', $s, 'e', ${subExpr("e", s, dsub)})")
      .mkString("array(", ", ", ")")
    val sub = vecs
      .selectExpr("vec_id", s"explode($subRows) AS se")
      .selectExpr("vec_id", "se.s AS s", "se.e AS e")
    // Seeds: the k smallest vec_ids per subspace (same rule as
    // KMeans.seed, one collect for all m blocks): every vec_id has one
    // row per subspace, so they are the ksub·m smallest (vec_id, s).
    var cbs: Seq[Seq[KMeans.Cent]] = {
      val rows = sub.orderBy(col("vec_id"), col("s")).limit(ksub * m)
        .selectExpr("s", "vec_id AS cl", "e AS c", s"${VectorOps.normSq("e")} AS cnsq")
        .collect()
      (0 until m).map(s => rows.filter(_.getInt(0) == s)
        .map(r => KMeans.Cent(r.getLong(1), r.getSeq[Double](2), r.getDouble(3))).toSeq)
    }
    for (_ <- 1 to iters) {
      val assign =
        s"${VectorOps.nearestCentroidL2(s"filter(${jointLiteral(cbs)}, ct -> ct.s = s)", "e")}.cl"
      // ONE shuffle per iteration (the KMeans.stepWith shape): the dsub
      // per-coordinate decimal sums ride the (s, cl) grouping as
      // aggregate columns — no posexplode row amplification, no second
      // re-assembly shuffle. Same exact-decimal arithmetic, so the
      // trajectory stays bit-identical to the sequential per-subspace
      // fit (PQSpec asserts it).
      val aggs = (1 to dsub).map(i =>
        sum(expr(s"CAST(element_at(e, $i) AS DECIMAL(30,15))")).as(s"s$i")) :+
        count(lit(1)).as("n")
      val rows = sub
        .selectExpr("s", "e", s"$assign AS cl")
        .groupBy(col("s"), col("cl"))
        .agg(aggs.head, aggs.tail: _*)
        .selectExpr("s", "cl",
          (1 to dsub).map(i => s"CAST(s$i AS DOUBLE) / n")
            .mkString("array(", ", ", ") AS c"))
        .selectExpr("s", "cl", "c", s"${VectorOps.normSq("c")} AS cnsq")
        .collect()
      cbs = (0 until m).map(s => rows.filter(_.getInt(0) == s)
        .map(r => KMeans.Cent(r.getLong(1), r.getSeq[Double](2), r.getDouble(3))).toSeq)
    }
    cbs.map(renumber)
  }

  /** Stable code ids: rank in centroid-id order (matches the oracle's
    * `row_number() OVER (ORDER BY cl) - 1`). */
  def renumber(cents: Seq[KMeans.Cent]): Seq[KMeans.Cent] =
    cents.sortBy(_.cl).zipWithIndex.map { case (c, i) => c.copy(cl = i.toLong) }

  /** Encode `e` to its `array<bigint>` of m codes — a map-side fold per
    * subspace over the codebook literals (no join, no shuffle). */
  def encodeExpr(cbs: Seq[Seq[KMeans.Cent]], e: String, dsub: Int): String =
    cbs.zipWithIndex.map { case (cb, s) =>
      s"${VectorOps.nearestCentroidL2(KMeans.literal(cb), subExpr(e, s, dsub))}.cl"
    }.mkString("array(", ", ", ")")

  /** One query's ADC LUT as a literal `array<array<double>>`:
    * lut(s)(code) = dot(q_s, c_{s,code}). Values must come from the
    * engine's own decimal arithmetic (collect of a Spark-computed
    * frame) so the literal round-trips bit-exactly via Double.toString.
    */
  def lutLiteral(lut: Seq[Seq[Double]]): String =
    lut.map(row => row.map(d => s"CAST('$d' AS DOUBLE)")
        .mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")

  /** ADC approximate dot for a corpus row carrying `codes`
    * (array<bigint>, 0-based code per subspace): Σ_s lut[s][code_s] —
    * m literal-array lookups, summed left-to-right (fixed order, so the
    * double sum is deterministic and the oracle can mirror it). */
  def adcDotExpr(lutLit: String, codes: String, m: Int): String =
    (0 until m).map { s =>
      s"element_at(element_at($lutLit, ${s + 1}), CAST(element_at($codes, ${s + 1}) + 1 AS INT))"
    }.mkString("(", " + ", ")")

  /** The Spark frame whose collect feeds [[lutLiteral]]: one row per
    * (subspace, code) with the exact-decimal dot against each query
    * subvector — computed in-engine so the doubles are the engine's. */
  def lutFrame(queries: DataFrame, cbs: Seq[Seq[KMeans.Cent]], dsub: Int): DataFrame = {
    val perSub = cbs.zipWithIndex.map { case (cb, s) =>
      s"""transform(${KMeans.literal(cb)}, ct -> named_struct(
         |  's', CAST($s AS BIGINT), 'code', ct.cl,
         |  'd', ${VectorOps.dot(subExpr("qe", s, dsub), "ct.c")}))""".stripMargin
    }.mkString("flatten(array(", ", ", "))")
    queries.selectExpr("q_id", s"explode($perSub) AS lc")
      .select(col("q_id"), col("lc.s").as("s"), col("lc.code").as("code"), col("lc.d").as("d"))
  }

  /** The IVF-ADC search plan every PQ search runs: probe cells from the
    * GIVEN coarse centroids, score the codes frame `codesForCells`
    * returns for the union of probed cells — (vec_id, nsq, cell, codes)
    * rows; [[PQIndexTx.searchIVF]] gives the manifest-pruned codes scan,
    * the self-contained queries an in-plan encode — then shortlist and
    * exact rerank against `rerankVecs` (vec_id, e). The per-query cell
    * gate stays in the expression, so a frame that over-delivers cells
    * (coarser pruning) changes cost, never results. Flat PQ is the
    * one-cell case (FAISS's nlist = 1): every code sits in the cell
    * every query probes. Quantizers are PARAMETERS (not loaded here) so
    * a caller serving a transactional layout can resolve them and the
    * codes scan from ONE snapshot. */
  private[graft] def ivfSearchImpl(queries: DataFrame, rerankVecs: DataFrame,
                                   dsub: Int, nprobe: Int,
                                   shortlist: Int, topK: Int,
                                   coarse: Seq[KMeans.Cent],
                                   cbs: Seq[Seq[KMeans.Cent]])
                                  (codesForCells: Seq[Long] => DataFrame)
      : DataFrame = {
    val m = cbs.size
    val q = queries.selectExpr("vec_id AS q_id", "e AS qe",
      s"${VectorOps.normSq("e")} AS qnsq")
    // Bounded driver state — |Q|·nprobe probes, |Q|·m·ksub LUT rows,
    // |Q| norms: the ADC LUT is query-time state, exactly FAISS's
    // in-RAM table; values are Spark-computed so the literal is
    // engine-exact.
    val probes: Map[Long, Seq[Long]] = q
      .selectExpr("q_id",
        s"${VectorOps.probeCells(KMeans.literal(coarse), "qe", "qnsq", nprobe)} AS cells")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val lutRows = lutFrame(q, cbs, dsub).collect()
    val luts = lutRows.groupBy(_.getLong(0)).map { case (k, rows) =>
      k -> (0 until m).map { s =>
        rows.filter(_.getLong(1) == s).sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq
      }
    }
    val qnsq = q.select(col("q_id"), col("qnsq"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val allCells = probes.values.flatten.toSeq.distinct.sorted
    val perQuery = luts.keys.toSeq.sorted.map { qq =>
      val adc = adcDotExpr(lutLiteral(luts(qq)), "codes", m)
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

  /** Narrow shortlist window on (q_id, cand_id, adc) + exact rerank —
    * the wide arrays join back by id only for the rerank. */
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
