package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{DedupIndex, PQIndexTx, TextOps}

/** The index part of `maintenance`: a DedupIndex over a seeded subset
  * of the documents and a PQIndexTx over the embeddings, each built at
  * setup over a seeded 80 % of its corpus. A round erases a seeded slice
  * of live ids, re-admits a slice of earlier-erased (or never-indexed)
  * ids, and runs one ANN search; the deep tier optimizes both indexes and
  * searches again. Erasing one slice and re-admitting another keeps the
  * live size steady, so early and late rounds cost the same.
  */
final class IndexRounds(ctx: Ctx) {
  import ctx.{dir, rec, spark, tables, work}
  import IndexRounds._

  private val rng = ctx.rngFor("index")
  private val vecRng = ctx.rngFor("vectors")

  private val dedupDir = dir("dedup")
  private val pqDir = dir("ivfpq")
  // Live sets, and the FIFO of ids waiting to be (re-)admitted.
  private val liveDocs = mutable.LinkedHashSet.empty[Long]
  private val liveVecs = mutable.LinkedHashSet.empty[Long]
  private val docPool = mutable.Queue.empty[Long]
  private val vecPool = mutable.Queue.empty[Long]

  // Inputs come from the raw files once; each round's slice reaches the
  // engine as a small local frame of exactly the generated rows. The two
  // indexes load and build on separate threads.
  private def raw(name: String) = spark.read.parquet(s"${tables.dir}/$name.parquet")
  private val (docRows, vecRows) = Main.both(
    {
      val docs = raw("documents")
      val ids = rng.shuffle(docs.select("doc_id").collect().map(_.getLong(0)).toVector.sorted)
        .take(CorpusDocs)
      val rows = docs.filter(docs("doc_id").isInCollection(ids))
        .selectExpr("doc_id", s"${TextOps.shingles(TextOps.tokens("text"))} AS shs")
        .collect().map(r => r.getLong(0) -> r).toMap
      liveDocs ++= ids.take((ids.size * BaseShare).toInt)
      docPool ++= ids.drop(liveDocs.size)
      DedupIndex.build(spark, frame(rows, liveDocs), dedupDir, Cap)
      rows
    }, {
      val rows = raw("embeddings")
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e")
        .collect().map(r => r.getLong(0) -> r).toMap
      val ids = vecRng.shuffle(rows.keys.toVector.sorted)
      liveVecs ++= ids.take((ids.size * BaseShare).toInt)
      vecPool ++= ids.drop(liveVecs.size)
      PQIndexTx.buildIVF(spark, frame(rows, liveVecs), pqDir,
        M, Dsub, Ksub, Iters, 0, CoarseK, CoarseIters)
      rows
    })
  private val vecs = vecRows.map { case (id, r) => id -> r.getSeq[Double](1).toArray }
  private val vecIds = vecRows.keys.toVector.sorted
  private def docsOf(ids: Iterable[Long]) = frame(docRows, ids)
  private def vecsOf(ids: Iterable[Long]) = frame(vecRows, ids)
  private val vecsAll = vecsOf(vecIds).cache()

  private def frame(rows: Map[Long, Row], ids: Iterable[Long]): DataFrame =
    spark.createDataFrame(ids.map(rows).toList.asJava, rows.head._2.schema)

  private var recallSum = 0.0
  private var searches = 0
  var userBytes = 0.0

  /** One round: erase, re-admit, `compactIVF`, then a search. Returns
    * (records written, checks passed). */
  def round(): (Long, Boolean) = {
    val eraseDocs = rng.shuffle(liveDocs.toVector).take(DocSlice)
    val eraseVecs = rng.shuffle(liveVecs.toVector).take(VecSlice)
    val admitDocs = Seq.fill(DocSlice)(docPool.dequeue())
    val admitVecs = Seq.fill(VecSlice)(vecPool.dequeue())

    rec.span("operators.dedup_erase") { DedupIndex.deleteDocsDeferred(dedupDir, eraseDocs) }
    rec.span("operators.pq_delete") { PQIndexTx.deleteIdsDeferred(pqDir, eraseVecs) }
    liveDocs --= eraseDocs; liveVecs --= eraseVecs
    rec.span("operators.dedup_append") { DedupIndex.append(spark, docsOf(admitDocs), dedupDir, Cap) }
    rec.span("operators.pq_append") { PQIndexTx.appendIVF(spark, vecsOf(admitVecs), pqDir, Dsub) }
    liveDocs ++= admitDocs; liveVecs ++= admitVecs
    docPool ++= eraseDocs; vecPool ++= eraseVecs
    userBytes += admitDocs.size * 8.0 + admitVecs.size * 8.0 * 65
    rec.span("operators.pq_compact") { PQIndexTx.compactIVF(spark, pqDir) }
    ((admitDocs.size + admitVecs.size).toLong, search())
  }

  /** The deep tier: both deep OPTIMIZEs, then a search. */
  def deep(): (Long, Boolean) = {
    rec.span("operators.dedup_optimize") { DedupIndex.optimizeIndex(spark, dedupDir, Cap) }
    rec.span("operators.pq_optimize") {
      PQIndexTx.optimizeIndex(spark, vecsAll, pqDir, M, Dsub, Ksub, Iters, 0, CoarseK, CoarseIters)
    }
    (0L, search())
  }

  /** One `searchIVF` of seeded query vectors: no erased id may come back,
    * and its top 10 counts toward recall@10 against exact kNN over the
    * live vectors. */
  private def search(): Boolean = {
    val queryIds = rng.shuffle(vecIds).take(Queries)
    val hits = rec.span("operators.pq_search") {
      PQIndexTx.searchIVF(spark, pqDir, vecsOf(queryIds), vecsAll,
        Dsub, NProbe, Shortlist, TopK).select("q_id", "cand_id").collect()
    }
    val erased = hits.map(_.getLong(1)).filterNot(liveVecs)
    var ok = erased.isEmpty ||
      rec.fail(s"searchIVF returned erased ids ${erased.distinct.take(5).mkString(",")}")
    ok &= hits.length == Queries * TopK ||
      rec.fail(s"searchIVF returned ${hits.length} rows for $Queries queries, top $TopK")
    hits.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val exact = exactKnn(vecs(q), liveVecs, vecs)
      recallSum += rs.map(_.getLong(1)).count(exact.contains).toDouble / TopK
      searches += 1
    }
    ok
  }

  def recall: Double = recallSum / math.max(1, searches)

  /** The maintained components must equal a fresh build over the live
    * docs. Valid right after a deep OPTIMIZE, which closes the erasure
    * window; compared as partitions, since component labels are opaque. */
  def check(): Unit = {
    val fresh = work.resolve("check_dedup").toString
    DedupIndex.build(spark, docsOf(liveDocs), fresh, Cap)
    def groups(d: String) = DedupIndex.components(spark, d).collect()
      .groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)).toSet).toSet
    val (got, want) = (groups(dedupDir), groups(fresh))
    if (got != want)
      rec.fail(s"dedup components differ from a fresh build: ${(got diff want).size} " +
        s"maintained groups not in the fresh build, ${(want diff got).size} the other way")
  }
}

object IndexRounds {
  /** The dedup index's shingle document-frequency cap, as the engine's
    * own dedup queries use it. */
  val Cap = 128
  // The IVF-PQ shape of the engine's ANN queries, with top 10 for recall@10.
  val M = 8; val Dsub = 8; val Ksub = 8; val Iters = 2
  val CoarseK = 8; val CoarseIters = 3; val NProbe = 2
  val Shortlist = 40; val TopK = 10; val Queries = 5

  /** The dedup index covers a seeded subset of the documents (80 % of it
    * at set-up): over all of them, the dedup work of a window is too long
    * for the time a run may take. The ANN index covers all embeddings. */
  val CorpusDocs = 1000
  val BaseShare = 0.8
  val DocSlice = 20
  val VecSlice = 10

  /** Exact top-k by cosine, the similarity the index's rerank orders by. */
  def exactKnn(q: Array[Double], live: collection.Set[Long],
               vecs: Map[Long, Array[Double]]): Set[Long] = {
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var k = 0
      while (k < a.length) { s += a(k) * b(k); k += 1 }
      s
    }
    val qn = math.sqrt(dot(q, q))
    live.toSeq.map { id =>
      val v = vecs(id)
      (-dot(q, v) / (qn * math.sqrt(dot(v, v))), id)
    }.sorted.take(TopK).map(_._2).toSet
  }
}
