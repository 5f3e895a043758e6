package graft.queries

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.QueryDef
import graft.operators.TextOps
import graft.sources.Tables

/** Deduplication operators over `documents` — exact, n-gram Jaccard,
  * MinHash+LSH, and SimHash near-dup detection (builder-prompt
  * first-class family; the reference's only dedup is primary-key
  * `INSERT IGNORE`, init/mysql_loader.py:435-439 — S4).
  *
  * Scale design: per-document signatures (shingles, minhash, simhash)
  * are computed map-side with higher-order functions — no explode, no
  * shuffle. Candidate generation then joins on compact keys (LSH band
  * hashes / simhash chunks), so the shuffle volume is O(docs × bands),
  * not O(docs × shingles), and the quadratic all-pairs comparison never
  * materializes. The exact-Jaccard verify step touches only candidate
  * pairs. This is the standard web-scale near-dup pipeline shape
  * (MinHashLSH as in Spark MLlib, re-expressed in pure SQL ops so it
  * stays engine-portable and oracle-checkable).
  */
object DedupQueries {

  private val toks = TextOps.tokens("text")
  private val shs = TextOps.shingles(toks)

  /** Document-frequency cap on the shingle inverted index: a shingle
    * shared by k docs makes a k²/2-pair bucket in the candidate
    * self-join, so one piece of boilerplate repeated across a real web
    * corpus turns the join quadratic AND lands it all on one shuffle
    * key. Shingles with DF > τ carry no near-dup signal (they're
    * corpus-common by definition), so dropping them from the INDEX
    * bounds every bucket at τ²/2 pairs while the verify step still
    * computes exact Jaccard on the FULL shingle sets. τ = 128 keeps
    * recall: a true near-dup pair (Jaccard ≥ 0.5) shares many shingles,
    * and for all of them to be corpus-boilerplate the pair would have to
    * be boilerplate-only documents. */
  private val ShingleDfCap = 128

  /** Distinct candidate pairs (a < b) sharing ≥1 shingle whose document
    * frequency is ≤ [[ShingleDfCap]]. The DF gate runs BEFORE pair
    * generation, so every bucket is bounded at τ²/2 pairs no matter how
    * skewed the corpus.
    *
    * Shape: (1) count DFs — map-side partial aggregation means the
    * shuffle carries ≈ one row per distinct shingle per partition, and
    * only the HOT tail (df > τ) survives the filter: a tiny frame on a
    * Zipfian corpus, so the anti-join against it broadcasts under AQE
    * (no shuffle of the index). (2) ONE shuffle groups the surviving
    * index by shingle; groups are ≤ τ docs by construction, so the
    * a<b pair expansion is a bounded map-side array op — the quadratic
    * self-join (which also evaluated the whole index subtree twice, one
    * per join side) never happens.
    */
  private[graft] def cappedShinglePairs(inv: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    pairCounts(cappedGroups(inv)).select(col("a"), col("b"))

  /** The DF-capped index in ONE shuffle: `graft_collect_capped` (native
    * TypedImperativeAggregate, functions/CollectCappedExpr.scala) groups
    * each shingle's sorted doc ids with aggregation state bounded at
    * τ+1 entries — a hot shingle collapses to NULL inside the aggregate,
    * so there is no separate DF-count pass, no anti-join, and no
    * unbounded collect_set buffer for a boilerplate shingle shared by
    * millions of docs. */
  private def cappedGroups(inv: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    inv.groupBy(col("sh"))
      .agg(expr(s"graft_collect_capped(doc_id, $ShingleDfCap)").as("ids"))

  /** Candidate pairs (a < b) with `c_rare` = how many capped-index
    * shingles the pair shares — the count falls out of pair expansion
    * for free and feeds the Jaccard upper-bound prefilter below.
    * Groups are ≤ τ ids by construction, so expansion is a bounded
    * map-side array op (shared with the incremental index —
    * operators/DedupIndex.scala mines the identical shape). */
  private def pairCounts(grouped: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.operators.DedupIndex.pairCounts(grouped)

  /** Verified near-dup pairs (a, b, jaccard ≥ 0.5) over the whole
    * pipeline: DF-capped candidate generation, then a COUNT-based
    * Jaccard upper bound kills almost every candidate BEFORE the
    * array_intersect verify — the candidate set is quadratic-ish in
    * bucket sizes (≈1.1M pairs on the sf0.1 corpus) while true matches
    * are rare (≈250), so the verify join must never run on raw
    * candidates. The bound is exact-safe: a pair's true intersection c
    * satisfies c ≤ c_rare + min(hot_a, hot_b) =: c_ub (it can only beat
    * the counted rare-shingle overlap via hot shingles BOTH docs carry),
    * and J = c/(|A|+|B|−c) is increasing in c, so J ≤ J(c_ub); pairs
    * with J(c_ub) < 0.5 − ε are dropped with zero recall loss and
    * survivors still pay the exact full-set verify that defines the
    * output. `docs` must carry (doc_id, shs) and be persisted by the
    * caller (it feeds the index, the size/hot metadata, and both verify
    * sides).
    */
  private def jaccardMatches(docs: DataFrame,
                             caches: ArrayBuffer[DataFrame]): DataFrame = {
    val inv = docs.selectExpr("doc_id", "explode(shs) AS sh")
    // Persisted: the capped groups feed BOTH the per-doc rare counts and
    // pair expansion — without it each consumer re-runs the explode +
    // aggregate. Size is O(index) with every group ≤ τ ids. The handle
    // goes into `caches` so the staging pass can unpersist it once the
    // verified pairs are materialized.
    val grouped = cappedGroups(inv)
      .persist(StorageLevel.MEMORY_AND_DISK)
    caches += grouped
    // Per-doc rare-shingle count (count of non-hot groups the doc is
    // in; docs whose shingles are ALL hot have no surviving group — the
    // bound's coalesce restores them). Prefilter + exact verify live in
    // DedupIndex.boundedVerify, shared with the incremental index.
    val rareCnt = grouped.filter(col("ids").isNotNull)
      .select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("kc"))
    graft.operators.DedupIndex.boundedVerify(pairCounts(grouped), docs, rareCnt)
  }

  /** The full candidate→verify pipeline as ONE lazy plan — exposed
    * (package-private) for the plan audit; [[verifiedPairs]] stages
    * exactly this. Persist handles land in `caches`. */
  private[graft] def jaccardPipeline(t: Tables,
                                     caches: ArrayBuffer[DataFrame]): DataFrame = {
    // Persisted: the shingle arrays feed the inverted index, the
    // size/hot metadata, and both sides of the verify join — caching
    // the per-doc computation beats recomputing split+slice+distinct.
    val docs = t.documents.selectExpr("doc_id", s"$shs AS shs")
      .persist(StorageLevel.MEMORY_AND_DISK)
    caches += docs
    jaccardMatches(docs, caches)
  }

  private[graft] def jaccardPipeline(t: Tables): DataFrame =
    jaccardPipeline(t, ArrayBuffer.empty[DataFrame])

  /** Verified near-dup pairs (a, b, jaccard), STAGED once per
    * (session, dataset): `q_dedup_ngram_jaccard` reports them and
    * `q_dedup_components` clusters them — the production near-dup
    * pipeline runs verification ONCE and feeds both consumers from the
    * staged result, it never re-mines candidates per downstream query
    * (round-3 task #5 / round-5 Next #3). The stage is an eager
    * lineage-cut frame that survives `catalog.clearCache` exactly like
    * the parquet staging table (a TxTable, as PQIndexTx keeps its
    * codes) this becomes at 100 TB;
    * [[graft.operators.Stages]] owns its lifecycle (sessionUUID keys,
    * released by `Stages.drop`). */
  private[graft] def verifiedPairs(t: Tables): DataFrame =
    graft.operators.Stages.frame(t.spark, s"dedup_pairs:${t.dir}") { caches =>
      jaccardPipeline(t, caches)
    }

  /** Shared oracle for the verified near-dup pairs (the pipeline query
    * and its staged reader produce the identical frame). */
  private lazy val ngramJaccardOracle = s"""
        WITH sh AS $duckShingles,
        inv AS (SELECT doc_id, unnest(shs) sh FROM sh),
        df AS (SELECT sh, COUNT(*) n FROM inv GROUP BY sh),
        inv2 AS (SELECT i.doc_id, i.sh FROM inv i JOIN df USING (sh)
                 WHERE df.n <= $ShingleDfCap),
        cand AS (
          SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM inv2 x JOIN inv2 y ON x.sh = y.sh AND x.doc_id < y.doc_id)
        SELECT a, b,
          round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) AS jaccard
        FROM cand
        JOIN sh sa ON a = sa.doc_id
        JOIN sh sb ON b = sb.doc_id
        WHERE round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) >= 0.5
        ORDER BY a, b"""

  /** Full-corpus dedup-components oracle (recursive-CTE reachability
    * closure over the verified pair graph) — shared by the one-shot
    * clustering query and the incremental-index lifecycle query, whose
    * build+append result must equal from-scratch recompute exactly. */
  private lazy val componentsOracle = s"""
        WITH RECURSIVE sh AS $duckShingles,
        inv AS (SELECT doc_id, unnest(shs) sh FROM sh),
        df AS (SELECT sh, COUNT(*) n FROM inv GROUP BY sh),
        inv2 AS (SELECT i.doc_id, i.sh FROM inv i JOIN df USING (sh)
                 WHERE df.n <= $ShingleDfCap),
        cand AS (
          SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM inv2 x JOIN inv2 y ON x.sh = y.sh AND x.doc_id < y.doc_id),
        pairs AS (
          SELECT a, b FROM cand
          JOIN sh sa ON a = sa.doc_id JOIN sh sb ON b = sb.doc_id
          WHERE round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) >= 0.5),
        edges AS (SELECT a s, b d FROM pairs UNION ALL SELECT b, a FROM pairs),
        reach(node, lab) AS (
          SELECT DISTINCT s, s FROM edges
          UNION
          SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node)
        SELECT node AS doc_id, MIN(lab) AS component
        FROM reach GROUP BY node ORDER BY doc_id"""

  /** DuckDB twin: doc_id → distinct 3-gram shingle list. */
  private val duckShingles =
    """(SELECT doc_id,
      |    list_distinct([ s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |                    for i in range(1, greatest(len(s)-1, 1)) ]) shs
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') s
      |        FROM documents))""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup: hash-groupBy on normalized content (S4 at corpus
    // scale). One shuffle on the 16-byte digest, never on the text.
    QueryDef(
      "q_dedup_exact",
      t => t.documents
        .groupBy(expr("md5(lower(trim(text)))").as("content_fp"))
        .agg(count(lit(1)).as("copies"),
          min(col("doc_id")).as("canonical_id"))
        .orderBy(col("content_fp")),
      Some("""
        SELECT md5(lower(trim(text))) AS content_fp,
          COUNT(*) AS copies,
          MIN(doc_id) AS canonical_id
        FROM documents
        GROUP BY content_fp
        ORDER BY content_fp""")),

    // n-gram Jaccard near-dup via DF-capped inverted-index join:
    // candidates are pairs sharing ≥1 shingle with document frequency
    // ≤ τ (see ShingleDfCap — the cap is what keeps the self-join
    // linear on real corpora), then exact Jaccard ≥ 0.5 on the FULL
    // shingle sets of the candidate pairs.
    // The self-contained mining pipeline, benchmarked as its own query
    // so the candidate-generation + verify cost stays MEASURED — the
    // staged consumers below read the stage in milliseconds, and without
    // this entry the mining cost would only ever run inside untimed
    // warmup. Same oracle as q_dedup_ngram_jaccard (identical output by
    // construction: the stage materializes exactly this plan).
    QueryDef(
      "q_dedup_pairs_pipeline",
      t => {
        // Self-contained run of the staged plan: its persist handles
        // release after the caller's terminal action (CacheJanitor),
        // not into the session.
        val caches = ArrayBuffer.empty[DataFrame]
        graft.CacheJanitor.afterTerminalAction(
          jaccardPipeline(t, caches).orderBy(col("a"), col("b")), caches.toSeq)
      },
      Some(ngramJaccardOracle)),

    QueryDef(
      "q_dedup_ngram_jaccard",
      // Consumes the SHARED verified-pair stage (see verifiedPairs):
      // the pipeline plan itself is audited via jaccardPipeline and
      // benchmarked as q_dedup_pairs_pipeline.
      t => verifiedPairs(t).orderBy(col("a"), col("b")),
      Some(ngramJaccardOracle)),

    // MinHash + LSH: 12-hash signature, 4 bands × 3 rows (catch
    // probability ≈ 1-(1-j³)⁴ — >99.9% at the 0.9+ Jaccard of real
    // near-dups). Candidates = band-bucket collisions; verified with
    // exact Jaccard. The shuffle carries only (doc_id, band_key).
    QueryDef(
      "q_dedup_minhash_lsh",
      t => {
        // Persisted: the 12-hash signature (12 × |shingles| md5 calls per
        // doc) feeds banding plus both sides of the verify join — compute
        // it once. graft_minhash is the native codegen'd kernel
        // (bit-identical to TextOps.minhashSignature; spec-asserted).
        val sig = t.documents
          .selectExpr("doc_id", s"$shs AS shs")
          .selectExpr("doc_id", "shs", "graft_minhash(shs, 12) AS mh")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val bands = sig.selectExpr("doc_id", s"posexplode(${TextOps.bandKeys("mh")}) AS (b, bsig)")
        val cand = bands.as("x")
          .join(bands.as("y"),
            col("x.b") === col("y.b") && col("x.bsig") === col("y.bsig") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct()
        graft.CacheJanitor.afterTerminalAction(cand
          .join(sig.select(col("doc_id").as("a"), col("shs").as("sa")), "a")
          .join(sig.select(col("doc_id").as("b"), col("shs").as("sb")), "b")
          .withColumn("c", size(array_intersect(col("sa"), col("sb"))).cast("long"))
          .withColumn("jaccard",
            round(col("c") / (size(col("sa")) + size(col("sb")) - col("c")).cast("double"), 6))
          .filter(col("jaccard") >= 0.5)
          .select(col("a"), col("b"), col("jaccard"))
          .orderBy(col("a"), col("b")), Seq(sig))
      },
      Some(s"""
        WITH sh AS $duckShingles,
        sig AS (
          SELECT doc_id, shs,
            [ list_min([ md5(CAST(k AS VARCHAR) || '|' || x) for x in shs ])
              for k in generate_series(0, 11) ] mh
          FROM sh),
        bands AS (
          SELECT doc_id, b, md5(mh[b*3+1] || mh[b*3+2] || mh[b*3+3]) bsig
          FROM sig, (SELECT unnest(generate_series(0, 3)) b)),
        cand AS (
          SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM bands x JOIN bands y
            ON x.b = y.b AND x.bsig = y.bsig AND x.doc_id < y.doc_id)
        SELECT a, b,
          round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) AS jaccard
        FROM cand JOIN sig sa ON a = sa.doc_id JOIN sig sb ON b = sb.doc_id
        WHERE round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) >= 0.5
        ORDER BY a, b""")),

    // Near-dup pairs → dedup GROUPS: connected components over the
    // verified Jaccard≥0.5 pair graph (min-label propagation — see
    // GraphOps.connectedComponents), the step that turns pairwise
    // detections into per-cluster canonical/drop decisions at corpus
    // scale. Oracle: recursive-CTE reachability closure.
    QueryDef(
      "q_dedup_components",
      t => {
        // The edges are the SAME staged verified pairs the jaccard
        // query reports — clustering adds label propagation on top of
        // the stage instead of re-running candidate generation + verify.
        val pairs = verifiedPairs(t)
          .select(col("a").as("src"), col("b").as("dst"))
        // maxIter bounds worst-case CHAIN diameter, not typical cluster
        // size; convergence exits early (≈2 rounds on near-cliques), so
        // a generous cap costs nothing on normal data but keeps deep
        // chains agreeing with the oracle's unbounded closure.
        graft.operators.GraphOps.connectedComponents(t.spark, pairs, maxIter = 20)
          .select(col("node").as("doc_id"), col("component"))
          .orderBy(col("doc_id"))
      },
      Some(componentsOracle)),

    // INCREMENTAL index maintenance — the dedup-on-ingest lifecycle
    // (operators/DedupIndex.scala; reference semantics: `INSERT IGNORE`
    // keeps dedup current per inserted row, init/mysql_loader.py:435-439).
    // The query runs the WHOLE lifecycle each invocation so the bench
    // measures it: build the persistent index on ~80% of the corpus,
    // append the remaining ~20% as a delta batch (new×all candidate
    // mining only — never all×all — plus the rare→hot recheck and the
    // affected-components-only label fold), then report the folded
    // components. The oracle replays FULL-CORPUS semantics, so the gate
    // asserts build+append == from-scratch recompute exactly. The doc_id
    // % 5 split scatters the delta across dup clusters, so appends both
    // extend existing components and create new ones.
    QueryDef(
      "q_dedup_incremental",
      t => {
        import graft.operators.{DedupIndex, Stages}
        val dir = Stages.freshDir(t.spark, s"dedup_idx:${t.dir}")
        // The two doc_id filters PARTITION the corpus, and both push
        // below the shingle projection — each side shingles only its
        // own docs, so no work is duplicated between the stages.
        val all = t.documents.selectExpr("doc_id", s"$shs AS shs")
        DedupIndex.build(t.spark, all.filter(col("doc_id") % 5 =!= 0),
          dir, ShingleDfCap)
        DedupIndex.append(t.spark, all.filter(col("doc_id") % 5 === 0),
          dir, ShingleDfCap)
        DedupIndex.components(t.spark, dir).orderBy(col("doc_id"))
      },
      Some(componentsOracle)),

    // MARGINAL append cost over a PRE-BUILT index — the number a 100 TB
    // operator actually watches (the lifecycle query above times
    // build+append together, which drowns the per-slice ingest cost in
    // the one-time build). The base index is built once per session
    // (Stages.tempDir) and marked; every invocation then RESTOREs the
    // stage tables to the mark — a manifest-only commit, Delta RESTORE —
    // and appends the same delta, so the timed work is exactly one
    // delta ingest and the result (hence the oracle) is identical on
    // every rep. Same full-corpus closure oracle as the lifecycle.
    QueryDef(
      "q_dedup_index_append",
      t => {
        import graft.operators.{DedupIndex, Stages}
        val all = t.documents.selectExpr("doc_id", s"$shs AS shs")
        val dir = Stages.tempDir(t.spark, s"dedup_base:${t.dir}") { d =>
          DedupIndex.build(t.spark, all.filter(col("doc_id") % 5 =!= 0),
            d, ShingleDfCap)
          DedupIndex.markBase(d)
        }
        DedupIndex.restoreBase(t.spark, dir)
        DedupIndex.append(t.spark, all.filter(col("doc_id") % 5 === 0),
          dir, ShingleDfCap)
        DedupIndex.components(t.spark, dir).orderBy(col("doc_id"))
      },
      Some(componentsOracle)),

    // ERASURE WINDOW on the serving index, oracle-gated — GDPR-erase a
    // slice of the indexed corpus (one tombstone commit per serving
    // table, zero data I/O — DedupIndex.deleteDocsDeferred), then
    // ingest the next delta against the masked index. Precision is
    // exact by construction (the verify join reads docs through the
    // tombstone mask); recall sits in the DOCUMENTED window: served
    // pairs == a FULL-corpus mine restricted to live endpoints
    // (DedupErasureRecallSpec proves that characterization on
    // constructed and randomized corpora; this gate replays it against
    // DuckDB on the real one). The oracle is therefore the full-corpus
    // pair mine with erased endpoints filtered — NOT a live-corpus
    // rebuild: the difference is exactly the pairs whose every shared
    // shingle is live-rare but over-counted hot, which only a rebuild
    // recovers (by design — OPTIMIZE keeps the conservative df).
    // Base index shared with q_dedup_index_append (both RESTORE to the
    // mark before mutating), so the timed work is restore + erasure
    // commits + one delta ingest.
    QueryDef(
      "q_dedup_erase_append",
      t => {
        import graft.operators.{DedupIndex, Stages}
        val all = t.documents.selectExpr("doc_id", s"$shs AS shs")
        val dir = Stages.tempDir(t.spark, s"dedup_base:${t.dir}") { d =>
          DedupIndex.build(t.spark, all.filter(col("doc_id") % 5 =!= 0),
            d, ShingleDfCap)
          DedupIndex.markBase(d)
        }
        DedupIndex.restoreBase(t.spark, dir)
        val erased = all.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 3)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
        DedupIndex.deleteDocsDeferred(dir, erased)
        DedupIndex.append(t.spark, all.filter(col("doc_id") % 5 === 0),
          dir, ShingleDfCap)
        DedupIndex.pairs(t.spark, dir).orderBy(col("a"), col("b"))
      },
      Some(s"""
        WITH sh AS $duckShingles,
        inv AS (SELECT doc_id, unnest(shs) sh FROM sh),
        df AS (SELECT sh, COUNT(*) n FROM inv GROUP BY sh),
        inv2 AS (SELECT i.doc_id, i.sh FROM inv i JOIN df USING (sh)
                 WHERE df.n <= $ShingleDfCap),
        cand AS (
          SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM inv2 x JOIN inv2 y ON x.sh = y.sh AND x.doc_id < y.doc_id)
        SELECT a, b,
          round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) AS jaccard
        FROM cand
        JOIN sh sa ON a = sa.doc_id
        JOIN sh sb ON b = sb.doc_id
        WHERE round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) >= 0.5
          AND NOT (a % 5 <> 0 AND a % 7 = 3)
          AND NOT (b % 5 <> 0 AND b % 7 = 3)
        ORDER BY a, b""")),

    // RE-ADMISSION lifecycle, oracle-gated (round 15): GDPR-erase a
    // slice, then RE-ADD the same documents — the collision fold fires
    // inside the re-admission append (standing tombstones fold
    // physical; the residue strip keeps the mine's kc honest), then
    // ingest the next delta. Every document is live at the end, so the
    // oracle is the FULL-corpus mine with ONE exact adjustment: the
    // index's document frequencies carry the erased slice's residue
    // (groups keep erased ids' counts until OPTIMIZE — the documented
    // conservative df), so each shingle's candidacy threshold tests
    // df_full + df_slice ≤ cap. This is the same exact-model
    // discipline as q_dedup_erase_append's endpoint filter: the gate
    // asserts the lifecycle converges to a from-scratch mine under the
    // characterized df model, not "roughly recovers". Two boundary
    // notes, both pinned elsewhere: past DedupIndex.ResidueStripKeys
    // the re-admission escapes to the OPTIMIZE purge mid-append and
    // mines under the LIVE-reset df instead of this instance model
    // (DedupReadmitModelSpec's seam arm; q_dedup_readmit_optimized
    // oracles the same purge-first lifecycle at corpus scale), and
    // merged posting arrays dedupe (membership is a set — df alone
    // carries the residue count).
    QueryDef(
      "q_dedup_readmit",
      t => {
        import graft.operators.{DedupIndex, Stages}
        val all = t.documents.selectExpr("doc_id", s"$shs AS shs")
        val dir = Stages.tempDir(t.spark, s"dedup_base:${t.dir}") { d =>
          DedupIndex.build(t.spark, all.filter(col("doc_id") % 5 =!= 0),
            d, ShingleDfCap)
          DedupIndex.markBase(d)
        }
        DedupIndex.restoreBase(t.spark, dir)
        val slice = col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 3
        val erased = all.filter(slice)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
        DedupIndex.deleteDocsDeferred(dir, erased)
        // No explicit fold: the re-admission append IS the collision
        // path — it folds the standing masks itself before committing.
        DedupIndex.append(t.spark, all.filter(slice), dir, ShingleDfCap)
        DedupIndex.append(t.spark, all.filter(col("doc_id") % 5 === 0),
          dir, ShingleDfCap)
        DedupIndex.pairs(t.spark, dir).orderBy(col("a"), col("b"))
      },
      Some(s"""
        WITH sh AS $duckShingles,
        inv AS (SELECT doc_id, unnest(shs) sh FROM sh),
        df AS (SELECT sh, COUNT(*) n FROM inv GROUP BY sh),
        dfs AS (SELECT sh, COUNT(*) ns FROM inv
                WHERE doc_id % 5 <> 0 AND doc_id % 7 = 3 GROUP BY sh),
        inv2 AS (SELECT i.doc_id, i.sh FROM inv i JOIN df USING (sh)
                 LEFT JOIN dfs USING (sh)
                 WHERE df.n + COALESCE(dfs.ns, 0) <= $ShingleDfCap),
        cand AS (
          SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM inv2 x JOIN inv2 y ON x.sh = y.sh AND x.doc_id < y.doc_id)
        SELECT a, b,
          round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) AS jaccard
        FROM cand
        JOIN sh sa ON a = sa.doc_id
        JOIN sh sb ON b = sb.doc_id
        WHERE round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) >= 0.5
        ORDER BY a, b""")),

    // RE-ADMISSION ACROSS THE OPTIMIZE BOUNDARY, oracle-gated (round
    // 16 — the interleaving q_dedup_readmit's single pass never hits):
    // GDPR-erase a slice, run the scheduled groups OPTIMIZE
    // (compactGroups purges erased instances AND re-derives every rare
    // row's df from its live postings; fully-erased rows drop), THEN
    // re-add the same documents and ingest the next delta. The purge
    // resets every rare shingle's count to its live df, so the re-add
    // restores exactly the erased instances and the lifecycle
    // converges to the PLAIN full-corpus mine — candidacy tests
    // df_full ≤ cap with NO residue term: the oracle is q_dedup_readmit's
    // minus its df_slice adjustment, which is the convergence claim
    // itself (OPTIMIZE removes the documented-conservative over-count
    // for rare shingles; DedupReadmitModelSpec pins the same live-reset
    // model on constructed and randomized histories, including the
    // in-append escape path that runs this purge past the residue
    // bound).
    QueryDef(
      "q_dedup_readmit_optimized",
      t => {
        import graft.operators.{DedupIndex, Stages}
        val all = t.documents.selectExpr("doc_id", s"$shs AS shs")
        val dir = Stages.tempDir(t.spark, s"dedup_base:${t.dir}") { d =>
          DedupIndex.build(t.spark, all.filter(col("doc_id") % 5 =!= 0),
            d, ShingleDfCap)
          DedupIndex.markBase(d)
        }
        DedupIndex.restoreBase(t.spark, dir)
        val slice = col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 3
        val erased = all.filter(slice)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
        DedupIndex.deleteDocsDeferred(dir, erased)
        // The scheduled OPTIMIZE between erase and re-add — the purge
        // re-derives rare df live, so the re-add below mines under the
        // exact full-corpus df instead of the instance over-count.
        DedupIndex.compactGroups(t.spark, dir, ShingleDfCap)
        DedupIndex.append(t.spark, all.filter(slice), dir, ShingleDfCap)
        DedupIndex.append(t.spark, all.filter(col("doc_id") % 5 === 0),
          dir, ShingleDfCap)
        DedupIndex.pairs(t.spark, dir).orderBy(col("a"), col("b"))
      },
      Some(s"""
        WITH sh AS $duckShingles,
        inv AS (SELECT doc_id, unnest(shs) sh FROM sh),
        df AS (SELECT sh, COUNT(*) n FROM inv GROUP BY sh),
        inv2 AS (SELECT i.doc_id, i.sh FROM inv i JOIN df USING (sh)
                 WHERE df.n <= $ShingleDfCap),
        cand AS (
          SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM inv2 x JOIN inv2 y ON x.sh = y.sh AND x.doc_id < y.doc_id)
        SELECT a, b,
          round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) AS jaccard
        FROM cand
        JOIN sh sa ON a = sa.doc_id
        JOIN sh sb ON b = sb.doc_id
        WHERE round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) >= 0.5
        ORDER BY a, b""")),

    // DEEP OPTIMIZE (optimizeIndex), oracle-gated — the gap=0 claim at
    // corpus scale: erase a slice, ingest the next delta against the
    // masked index (the documented recall window is now OPEN: stored
    // pairs whose every shared shingle is live-rare but over-counted
    // hot are missing), then run the deep tier — fold masks physical,
    // re-derive groups from the docs ledger (hot-but-now-live-rare
    // shingles revive at live df), re-mine pairs, re-fold components.
    // The oracle is the PLAIN live-corpus mine with NO adjustment of
    // any kind: not the full-mine-filtered-to-live model of
    // q_dedup_erase_append (that is the window), but the from-scratch
    // rebuild the deep tier converges to in place. The delta lands
    // BEFORE the optimize so the re-mine must also recover old×old
    // pairs no append ever revisits (candidacy improved under erasure
    // — the invariant "df only grows" that makes per-append delta
    // mining sufficient breaks exactly here, which is why this tier
    // re-mines; see the README ADR).
    QueryDef(
      "q_dedup_optimize_full",
      t => {
        import graft.operators.{DedupIndex, Stages}
        val all = t.documents.selectExpr("doc_id", s"$shs AS shs")
        val dir = Stages.tempDir(t.spark, s"dedup_base:${t.dir}") { d =>
          DedupIndex.build(t.spark, all.filter(col("doc_id") % 5 =!= 0),
            d, ShingleDfCap)
          DedupIndex.markBase(d)
        }
        DedupIndex.restoreBase(t.spark, dir)
        val erased = all.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 3)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
        DedupIndex.deleteDocsDeferred(dir, erased)
        DedupIndex.append(t.spark, all.filter(col("doc_id") % 5 === 0),
          dir, ShingleDfCap)
        DedupIndex.optimizeIndex(t.spark, dir, ShingleDfCap)
        DedupIndex.pairs(t.spark, dir).orderBy(col("a"), col("b"))
      },
      Some(s"""
        WITH sh0 AS $duckShingles,
        sh AS (SELECT * FROM sh0 WHERE NOT (doc_id % 5 <> 0 AND doc_id % 7 = 3)),
        inv AS (SELECT doc_id, unnest(shs) sh FROM sh),
        df AS (SELECT sh, COUNT(*) n FROM inv GROUP BY sh),
        inv2 AS (SELECT i.doc_id, i.sh FROM inv i JOIN df USING (sh)
                 WHERE df.n <= $ShingleDfCap),
        cand AS (
          SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM inv2 x JOIN inv2 y ON x.sh = y.sh AND x.doc_id < y.doc_id)
        SELECT a, b,
          round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) AS jaccard
        FROM cand
        JOIN sh sa ON a = sa.doc_id
        JOIN sh sb ON b = sb.doc_id
        WHERE round(len(list_intersect(sa.shs, sb.shs)) /
            CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) >= 0.5
        ORDER BY a, b""")),

    // SimHash near-dup: 32-bit shingle simhash per doc (map-side fold),
    // pigeonhole banding on 4 byte-chunks (hamming ≤ 3 ⇒ ≥1 chunk
    // equal), exact hamming verify on candidates only.
    QueryDef(
      "q_dedup_simhash",
      t => {
        // graft_simhash32: native codegen'd kernel, bit-identical to the
        // portable TextOps.simhash32 HOF formulation (spec-asserted).
        val sim = t.documents.selectExpr("doc_id", s"graft_simhash32($shs) AS sh")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val chunks = sim.selectExpr("doc_id", s"posexplode(${TextOps.simhashChunks("sh")}) AS (c, cv)")
        val cand = chunks.as("x")
          .join(chunks.as("y"),
            col("x.c") === col("y.c") && col("x.cv") === col("y.cv") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct()
        graft.CacheJanitor.afterTerminalAction(cand
          .join(sim.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
          .join(sim.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
          .withColumn("hamming", expr("CAST(bit_count(sha ^ shb) AS BIGINT)"))
          .filter(col("hamming") <= 3)
          .select(col("a"), col("b"), col("hamming"))
          .orderBy(col("a"), col("b")), Seq(sim))
      },
      Some(s"""
        WITH sh AS $duckShingles,
        feat AS (SELECT doc_id, unnest(shs) f FROM sh),
        bitsum AS (
          SELECT doc_id, j.j,
            SUM(CASE WHEN strpos(CASE j.j % 4 WHEN 0 THEN '89abcdef' WHEN 1 THEN '4567cdef'
                                 WHEN 2 THEN '2367abef' ELSE '13579bdf' END,
                 substr(md5(f), 1 + j.j // 4, 1)) > 0 THEN 1 ELSE -1 END) s
          FROM feat, (SELECT unnest(generate_series(0, 31)) j) j
          GROUP BY doc_id, j.j),
        simhash AS (
          SELECT doc_id,
            CAST(SUM(CASE WHEN s > 0 THEN CAST(2 AS BIGINT) ** (31 - j) ELSE 0 END) AS BIGINT) sh
          FROM bitsum GROUP BY doc_id),
        chunks AS (
          -- integer-literal divisors: `**` yields DOUBLE and `x // DOUBLE`
          -- is plain division in DuckDB (no floor) — fractional chunk
          -- values would break the equality join.
          SELECT doc_id, sh, c,
            CASE c WHEN 0 THEN sh % 256 WHEN 1 THEN (sh // 256) % 256
                   WHEN 2 THEN (sh // 65536) % 256
                   ELSE (sh // 16777216) % 256 END cv
          FROM simhash, (SELECT unnest(generate_series(0, 3)) c)),
        cand AS (
          SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM chunks x JOIN chunks y
            ON x.c = y.c AND x.cv = y.cv AND x.doc_id < y.doc_id)
        SELECT a, b, CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
        FROM cand JOIN simhash sa ON a = sa.doc_id JOIN simhash sb ON b = sb.doc_id
        WHERE bit_count(xor(sa.sh, sb.sh)) <= 3
        ORDER BY a, b"""))
  )
}
