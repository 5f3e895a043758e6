package graft.queries


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.operators.{KMeans, PQ, PQIndexTx, VectorOps}
import graft.sources.Tables

/** Product-quantization ANN (operators/PQ): train → encode → ADC scan →
  * exact rerank, end-to-end, with the DuckDB oracle replaying the ENTIRE
  * pipeline — per-subspace L2 k-means trajectories, code assignment,
  * the query LUTs, the fixed-order ADC sums, shortlist and rerank — so
  * every stage is hash-checked, not just the final ids.
  *
  * Scale shape: after training (k·m tiny driver-resident codebooks),
  * every query here scores through ONE plan, [[PQ.ivfSearchImpl]]:
  * codes → per-query LUT lookups → narrow (q_id, cand_id, adc)
  * shortlist window → id-join rerank. The wide arrays never ride the
  * window; the ADC scan reads m code lookups per vector — FAISS's
  * IVF-ADC inner loop as a relational plan. The self-contained queries
  * feed it an in-plan encode of the corpus, the index queries the
  * stored codes of [[PQIndexTx]].
  */
object PQQueries {

  // m=8 subspaces × 8 codes with a 40-candidate shortlist lands recall
  // 0.76/0.84 vs exact top-5 on the sf0.001/sf0.01 fixtures (measured;
  // m=4 halves that). Real embedding corpora cluster far better than
  // these synthetic vectors, so these are conservative settings.
  private val Dim = 64
  private val M = 8        // subspaces
  private val Dsub = Dim / M
  private val Ksub = 8     // codes per subspace
  private val Iters = 2    // Lloyd iterations per subspace
  private val NQ = 5       // query set: vec_id < NQ
  private val Shortlist = 40
  private val TopK = 5

  private def norms(t: Tables): DataFrame =
    t.embeddings.selectExpr(
      "vec_id",
      "CAST(embedding AS array<double>) AS e")
      .selectExpr("vec_id", "e", s"${VectorOps.normSq("e")} AS nsq")

  /** The shared search plan over `vecs` (vec_id, e, nsq): queries are
    * vec_id < NQ, the rerank reads every vector. */
  private def search(vecs: DataFrame, coarse: Seq[KMeans.Cent],
                     cbs: Seq[Seq[KMeans.Cent]])
                    (codesForCells: Seq[Long] => DataFrame): DataFrame =
    PQ.ivfSearchImpl(vecs.filter(col("vec_id") < NQ), vecs, Dsub, NProbe,
      Shortlist, TopK, coarse, cbs)(codesForCells)

  /** Search the stored index at `idxDir` with the same queries. */
  private def serve(t: Tables, idxDir: String): DataFrame = {
    val vecs = norms(t).select(col("vec_id"), col("e"))
    PQIndexTx.searchIVF(t.spark, idxDir, vecs.filter(col("vec_id") < NQ), vecs,
      Dsub, NProbe, Shortlist, TopK)
  }

  // ---- DuckDB oracle generation ----

  private val duckVecs =
    "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"
  private def duckNorms =
    s"(SELECT vec_id, e, ${VectorOps.duckNormSq("e", Dim)} AS nsq FROM $duckVecs v)"

  /** One squared-L2 Lloyd iteration for subspace `s` (dsub dims, CTEs
    * suffixed `_$s`) — the twin of KMeans.stepL2 on the sliced frame. */
  private def duckL2Iter(s: Int, it: Int): String = {
    val rank = s"round(c.cnsq - 2 * ${VectorOps.duckDot("v.e", "c.c", Dsub)}, 6)"
    s"""a${it}_$s AS (SELECT vec_id, cl FROM (
       |    SELECT v.vec_id, c.cl, row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY $rank ASC, c.cl) rk
       |    FROM n_$s v CROSS JOIN c${it - 1}_$s c) y${it}_$s WHERE rk = 1),
       |m${it}_$s AS (SELECT a.cl, el.i, CAST(SUM(CAST(el.v AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) m
       |    FROM el_$s el JOIN a${it}_$s a USING (vec_id) GROUP BY a.cl, el.i),
       |c${it}_$s AS (SELECT cl, c, ${VectorOps.duckNormSq("c", Dsub)} AS cnsq
       |    FROM (SELECT cl, list(m ORDER BY i) c FROM m${it}_$s GROUP BY cl) x${it}_$s)""".stripMargin
  }

  /** Subspace `s`'s full training block: sliced frame, elements, seed,
    * iterations, and the renumbered codebook `cb_$s`. */
  private def duckSubspace(s: Int): String = {
    val lo = s * Dsub + 1
    val hi = (s + 1) * Dsub
    s"""n_$s AS (SELECT vec_id, e[$lo:$hi] AS e FROM n),
       |el_$s AS (SELECT vec_id, unnest(generate_series(1, $Dsub)) i, unnest(e) v FROM n_$s),
       |c0_$s AS (SELECT vec_id AS cl, e AS c, ${VectorOps.duckNormSq("e", Dsub)} AS cnsq
       |    FROM n_$s WHERE vec_id < $Ksub),
       |${(1 to Iters).map(duckL2Iter(s, _)).mkString(",\n")},
       |cb_$s AS (SELECT row_number() OVER (ORDER BY cl) - 1 AS code, c, cnsq FROM c${Iters}_$s)""".stripMargin
  }

  /** Corpus code assignment for subspace `s` (renumbered codes). */
  private def duckEncode(s: Int): String = {
    val rank = s"round(c.cnsq - 2 * ${VectorOps.duckDot("v.e", "c.c", Dsub)}, 6)"
    s"""SELECT vec_id, $s AS s, code FROM (
       |    SELECT v.vec_id, c.code, row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY $rank ASC, c.code) rk
       |    FROM n_$s v CROSS JOIN cb_$s c
       |    WHERE v.vec_id >= $NQ) z_$s WHERE rk = 1""".stripMargin
  }

  /** Query LUT rows for subspace `s`: dot of each query subvector with
    * each codebook centroid. */
  private def duckLut(s: Int): String =
    s"""SELECT q.vec_id AS q_id, $s AS s, c.code,
       |  ${VectorOps.duckDot("q.e", "c.c", Dsub)} AS d
       |FROM n_$s q CROSS JOIN cb_$s c WHERE q.vec_id < $NQ""".stripMargin

  private def oracleSql: String = {
    // Fixed-order ADC sum: (((d0 + d1) + d2) + d3), matching the Spark
    // expression's left-to-right double adds.
    val adcSum = (0 until M)
      .map(s => s"MAX(CASE WHEN l.s = $s THEN l.d END)")
      .mkString("(", " + ", ")")
    s"""
    WITH n AS (SELECT * FROM $duckNorms z),
    ${(0 until M).map(duckSubspace).mkString(",\n    ")},
    enc AS (
      ${(0 until M).map(duckEncode).mkString("\n      UNION ALL ")}),
    lut AS (
      ${(0 until M).map(duckLut).mkString("\n      UNION ALL ")}),
    adc AS (
      SELECT l.q_id, e.vec_id AS cand_id, $adcSum AS adot
      FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
      GROUP BY l.q_id, e.vec_id),
    adcc AS (
      SELECT a.q_id, a.cand_id,
        round(a.adot / (sqrt(q.nsq) * sqrt(c.nsq)), 6) AS adc
      FROM adc a JOIN n q ON q.vec_id = a.q_id JOIN n c ON c.vec_id = a.cand_id),
    sl AS (
      SELECT q_id, cand_id, adc FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, cand_id) srk
        FROM adcc) w WHERE srk <= $Shortlist),
    rr AS (
      SELECT s.q_id, s.cand_id, s.adc,
        round(${VectorOps.duckDot("q.e", "c.e", Dim)} / (sqrt(q.nsq) * sqrt(c.nsq)), 6) AS cosine
      FROM sl s JOIN n q ON q.vec_id = s.q_id JOIN n c ON c.vec_id = s.cand_id)
    SELECT q_id, rk, cand_id, adc, cosine FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS BIGINT) rk
      FROM rr) f
    WHERE rk <= $TopK
    ORDER BY q_id, rk"""
  }

  // ---- IVF-PQ: coarse quantizer for cell probing + ADC in-cell ----

  private val CoarseK = 8
  private val CoarseIters = 3 // must equal EmbeddingQueries.KmIters (shared iter SQL)
  private val NProbe = 2
  // Build/append boundary of the Tx-lifecycle query: vec_id in
  // [NQ, TxSplit) arrives by append, the rest at build. Below the
  // smallest fixture's corpus size so both paths run at every SF.
  private val TxSplit = 300
  // Ids removed by the delete-lifecycle query — inside the smallest
  // fixture's corpus (≥ NQ, < TxSplit) so the delete bites at every SF.
  // (Declared before `defs`, which captures it at object init.)
  private val TxDeleteIds: Seq[Long] = Seq(10L, 11L, 42L, 137L, 256L)
  // Ids erased BEFORE the retrain-lifecycle query's deep OPTIMIZE —
  // inside the build slice (≥ TxSplit, < the smallest fixture's 500-row
  // corpus) and disjoint from the appended [NQ, TxSplit) slice, so the
  // erasure bites at every SF and the re-add path stays untouched.
  private val RetrainEraseIds: Seq[Long] = Seq(310L, 333L, 421L, 444L, 498L)

  /** The combined oracle: coarse cosine k-means replay (c0..c3, reusing
    * EmbeddingQueries.duckKmeansIter — same `n`/`el` CTE contract),
    * corpus cell assignment + per-query probe against the FITTED
    * centroids, then the PQ blocks with ADC restricted to probed cells.
    * `excludeIds` replays an index DELETE: removed vectors never score
    * (exactly the physical effect of [[graft.operators.PQIndexTx
    * .deleteIds]] — their code rows are gone from the table).
    * `liveEraseIds` replays a RETRAIN after erasure instead: the ids
    * leave the `n` CTE itself (query rows stay), so BOTH trainings,
    * assignment, probing, ADC and rerank re-run over the live corpus —
    * exactly [[PQIndexTx.optimizeIndex]]'s fixed point
    * (a from-scratch build of the live corpus), not just a scoring
    * filter. */
  private def ivfpqOracleSql: String = ivfpqOracleSql(Nil)

  private def ivfpqOracleSql(excludeIds: Seq[Long],
                             liveEraseIds: Seq[Long] = Nil): String = {
    val adcSum = (0 until M)
      .map(s => s"MAX(CASE WHEN l.s = $s THEN l.d END)")
      .mkString("(", " + ", ")")
    val cos = s"round(${VectorOps.duckDot("v.e", "c.c", Dim)} / (sqrt(v.nsq) * sqrt(c.cnsq)), 6)"
    val nSrc =
      if (liveEraseIds.isEmpty) s"SELECT * FROM $duckNorms z"
      else s"SELECT * FROM $duckNorms z WHERE vec_id < $NQ " +
        s"OR vec_id NOT IN (${liveEraseIds.mkString(", ")})"
    s"""
    WITH n AS ($nSrc),
    el AS (SELECT vec_id, unnest(generate_series(1, $Dim)) i, unnest(e) v FROM n),
    c0 AS (SELECT vec_id AS cl, e AS c, nsq AS cnsq FROM n WHERE vec_id < $CoarseK),
    ${(1 to CoarseIters).map(EmbeddingQueries.duckKmeansIter).mkString(",\n    ")},
    cellasg AS (
      SELECT vec_id, cl AS cell FROM (
        SELECT v.vec_id, c.cl, row_number() OVER (PARTITION BY v.vec_id
          ORDER BY $cos DESC, c.cl) rk
        FROM n v CROSS JOIN c$CoarseIters c WHERE v.vec_id >= $NQ) zc WHERE rk = 1),
    probe AS (
      SELECT vec_id AS q_id, cl AS cell FROM (
        SELECT v.vec_id, c.cl, row_number() OVER (PARTITION BY v.vec_id
          ORDER BY $cos DESC, c.cl) rk
        FROM n v CROSS JOIN c$CoarseIters c WHERE v.vec_id < $NQ) zp WHERE rk <= $NProbe),
    ${(0 until M).map(duckSubspace).mkString(",\n    ")},
    enc AS (
      ${(0 until M).map(duckEncode).mkString("\n      UNION ALL ")}),
    lut AS (
      ${(0 until M).map(duckLut).mkString("\n      UNION ALL ")}),
    adc AS (
      SELECT l.q_id, e.vec_id AS cand_id, $adcSum AS adot
      FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
      ${if (excludeIds.isEmpty) ""
        else s"WHERE e.vec_id NOT IN (${excludeIds.mkString(", ")})"}
      GROUP BY l.q_id, e.vec_id),
    adcc AS (
      SELECT a.q_id, a.cand_id,
        round(a.adot / (sqrt(q.nsq) * sqrt(c.nsq)), 6) AS adc
      FROM adc a
      JOIN cellasg ca ON ca.vec_id = a.cand_id
      JOIN probe p ON p.q_id = a.q_id AND p.cell = ca.cell
      JOIN n q ON q.vec_id = a.q_id JOIN n c ON c.vec_id = a.cand_id),
    sl AS (
      SELECT q_id, cand_id, adc FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, cand_id) srk
        FROM adcc) w WHERE srk <= $Shortlist),
    rr AS (
      SELECT s.q_id, s.cand_id, s.adc,
        round(${VectorOps.duckDot("q.e", "c.e", Dim)} / (sqrt(q.nsq) * sqrt(c.nsq)), 6) AS cosine
      FROM sl s JOIN n q ON q.vec_id = s.q_id JOIN n c ON c.vec_id = s.cand_id)
    SELECT q_id, rk, cand_id, adc, cosine FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS BIGINT) rk
      FROM rr) f
    WHERE rk <= $TopK
    ORDER BY q_id, rk"""
  }

  val defs: Seq[QueryDef] = Seq(
    // Flat PQ through the IVF plan with ONE cell (FAISS's nlist = 1):
    // every code sits in cell 0, the one cell every query probes, so the
    // plan's cell gate passes every row.
    QueryDef(
      "q_embed_pq_topk",
      t => {
        val vecs = norms(t)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cbs = PQ.fit(vecs.select(col("vec_id"), col("e")), M, Dsub, Ksub, Iters)
        val oneCell = Seq(KMeans.Cent(0L, Seq.fill(Dim)(1.0), Dim.toDouble))
        val res = search(vecs, oneCell, cbs) { _ =>
          vecs.filter(col("vec_id") >= NQ)
            .selectExpr("vec_id", "nsq", "CAST(0 AS BIGINT) AS cell",
              s"${PQ.encodeExpr(cbs, "e", Dsub)} AS codes")
        }
        graft.CacheJanitor.afterTerminalAction(res, Seq(vecs))
      },
      Some(oracleSql)),

    // IVF-PQ: the full FAISS index shape — a LEARNED coarse quantizer
    // gates each query to nprobe probed cells, PQ-ADC scores only those
    // cells' codes, exact rerank finishes. The stored index
    // (q_embed_ivfpq_index_search) turns the gate into manifest pruning
    // of the codes scan. The oracle replays BOTH trainings (coarse
    // cosine Lloyd + 8 subspace L2 Lloyds), assignment, probing, ADC
    // and rerank.
    QueryDef(
      "q_embed_ivfpq_search",
      t => {
        val vecs = norms(t)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // Independent fits over the same cached rows — overlapped
        // (Par.par2, §2.6); identical results, the fits share no state.
        val (coarse, cbs) =
          graft.operators.Par.par2(KMeans.fit(vecs, CoarseK, CoarseIters))(
            PQ.fit(vecs.select(col("vec_id"), col("e")), M, Dsub, Ksub, Iters))
        val res = search(vecs, coarse, cbs) { _ =>
          PQIndexTx.encodedIVF(vecs, coarse, cbs, Dsub, NQ)
        }
        graft.CacheJanitor.afterTerminalAction(res, Seq(vecs))
      },
      Some(ivfpqOracleSql)),

    // The SERVING path of the same IVF-PQ search: build the stored
    // index ONCE per (session, dataset) via PQIndexTx.buildIVF (the
    // q_embed_ivfpq_search twin above retrains everything inside the
    // query so the oracle can replay the whole trajectory — a
    // correctness-harness cost), then answer from the stored quantizers
    // and a manifest-pruned codes scan of the probed cells. Both
    // trainings are deterministic relational plans over the same input,
    // so the search result — and therefore the ORACLE — is identical to
    // the self-contained twin; what changes is what the bench measures:
    // search-only latency, the number a 100 TB deployment actually
    // serves (index build amortizes across queries, like FAISS writing
    // its index to disk).
    QueryDef(
      "q_embed_ivfpq_index_search",
      t => {
        val idxDir = graft.operators.Stages.tempDir(
          t.spark, s"ivfpq_idx:${t.dir}") { d =>
            PQIndexTx.buildIVF(t.spark, norms(t), d,
              M, Dsub, Ksub, Iters, NQ, CoarseK, CoarseIters)
          }
        serve(t, idxDir)
      },
      Some(ivfpqOracleSql)),

    // The WHOLE index lifecycle on the manifest-backed layout
    // (operators/PQIndexTx): train on the full corpus but encode only
    // vec_id ≥ TxSplit at build, then append the 5..TxSplit slice with
    // the STORED quantizers as one ATOMIC delta commit whose
    // double-append guard reads O(hit files) from Bloom sidecars +
    // manifest stats (an all-new delta proves itself fresh with zero
    // stored-file reads), then serve the search from a probed-cell scan
    // pruned by per-file manifest bounds. Training sees the full corpus
    // either way and append encodes with the stored quantizers, so the
    // result — and the ORACLE — is identical to the all-at-once twins
    // above; what the gate adds is build→append→search equivalence.
    QueryDef(
      "q_embed_ivfpq_tx_search",
      t => {
        val idxDir = graft.operators.Stages.tempDir(
          t.spark, s"ivfpq_tx_idx:${t.dir}") { d =>
            PQIndexTx.buildIVF(t.spark, norms(t), d,
              M, Dsub, Ksub, Iters, TxSplit, CoarseK, CoarseIters)
            PQIndexTx.appendIVF(t.spark,
              norms(t).filter(col("vec_id") < TxSplit), d, Dsub, NQ)
          }
        serve(t, idxDir)
      },
      Some(ivfpqOracleSql)),

    // Index DELETE, oracle-gated: build the manifest-backed index, then
    // PQIndexTx.deleteIds removes a fixed id set as ONE carry-by-
    // reference keyed replace (only Bloom/stats hit files rewrite —
    // FAISS's remove_ids at lake scale), and the search runs against
    // the shrunk index. The oracle replays the delete as a NOT IN on
    // the scored codes — exactly the physical effect, so shortlist,
    // rerank and ranks re-arrange identically on both engines.
    QueryDef(
      "q_embed_ivfpq_tx_delete",
      t => {
        val idxDir = graft.operators.Stages.tempDir(
          t.spark, s"ivfpq_txdel_idx:${t.dir}") { d =>
            PQIndexTx.buildIVF(t.spark, norms(t), d,
              M, Dsub, Ksub, Iters, NQ, CoarseK, CoarseIters)
            PQIndexTx.deleteIds(t.spark, d, TxDeleteIds)
            ()
          }
        serve(t, idxDir)
      },
      Some(ivfpqOracleSql(TxDeleteIds))),

    // DEFERRED delete on the serving index — the same remove_ids
    // semantics as q_embed_ivfpq_tx_delete but as ONE metadata commit
    // (key tombstone): zero code files rewritten, the probed-cell scan
    // masks the ids at read time, and the SAME oracle must hold — the
    // gate asserts the scan-level mask is exactly content-equivalent
    // to the physical rewrite, shortlist/rerank/ranks included.
    QueryDef(
      "q_embed_ivfpq_tx_delete_dv",
      t => {
        val idxDir = graft.operators.Stages.tempDir(
          t.spark, s"ivfpq_txdeldv_idx:${t.dir}") { d =>
            PQIndexTx.buildIVF(t.spark, norms(t), d,
              M, Dsub, Ksub, Iters, NQ, CoarseK, CoarseIters)
            PQIndexTx.deleteIdsDeferred(d, TxDeleteIds)
            ()
          }
        serve(t, idxDir)
      },
      Some(ivfpqOracleSql(TxDeleteIds))),

    // DEEP OPTIMIZE (PQIndexTx.optimizeIndex), oracle-gated — the ANN
    // twin of q_dedup_optimize_full: build encodes only vec_id ≥
    // TxSplit, a slice is GDPR-erased (deferred tombstone), the
    // [NQ, TxSplit) slice arrives by append with the STORED quantizers
    // (the index now serves drifted quantizers trained on a corpus
    // that no longer exists: erased mass still shapes the centroids,
    // appended mass never did), THEN the scheduled retrain tier folds
    // the masks, retrains coarse + PQ codebooks from the LIVE vectors,
    // and re-encodes — one atomic commit installing codes and the
    // quantizer-epoch pointer together. The oracle is the PLAIN
    // retrained pipeline over the live corpus with NO adjustment (not
    // the scoring-filter model of the delete queries): both Lloyd
    // trainings, assignment, probing, ADC and rerank replay over
    // exactly the live vectors — the convergence claim itself. Each
    // run replays the whole lifecycle against a manifest-only restored
    // base (markBase/restoreBase), so the bench number measures the
    // erase→append→retrain path, not a memoized index.
    QueryDef(
      "q_embed_ivfpq_retrain",
      t => {
        val idxDir = graft.operators.Stages.tempDir(
          t.spark, s"ivfpq_retrain_idx:${t.dir}") { d =>
          PQIndexTx.buildIVF(t.spark, norms(t), d,
            M, Dsub, Ksub, Iters, TxSplit, CoarseK, CoarseIters)
          PQIndexTx.markBase(d)
        }
        PQIndexTx.restoreBase(t.spark, idxDir)
        PQIndexTx.deleteIdsDeferred(idxDir, RetrainEraseIds)
        PQIndexTx.appendIVF(t.spark,
          norms(t).filter(col("vec_id") < TxSplit), idxDir, Dsub, NQ)
        PQIndexTx.optimizeIndex(t.spark, norms(t), idxDir,
          M, Dsub, Ksub, Iters, NQ, CoarseK, CoarseIters)
        serve(t, idxDir)
      },
      Some(ivfpqOracleSql(Nil, RetrainEraseIds))),
  )
}
