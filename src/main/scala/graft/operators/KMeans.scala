package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Bounded relational k-means training the IVF coarse quantizer — the
  * piece a real ANN pipeline needs when the corpus has no labels
  * (beyond-reference; completes the FAISS-style IVF story of
  * `q_embed_ivf`/`q_embed_ivf_search`, whose label-derived quantizer
  * stays as the fixture oracle).
  *
  * Spherical variant: assignment by rounded cosine (ties → smallest
  * cell id — deterministic and oracle-reproducible), centroids are the
  * per-cell arithmetic means (cosine ranking is scale-invariant, so
  * not renormalizing the mean changes nothing).
  *
  * Scale shape per Lloyd iteration:
  *   - ASSIGN is a map-side fold over the driver-resident centroid set
  *     re-emitted as a plan literal ([[VectorOps.nearestCentroid]]) —
  *     zero shuffle, no N×k row amplification. FAISS keeps the coarse
  *     quantizer in RAM for the same reason: k×dim doubles are tiny.
  *   - UPDATE shuffles only (cell, dim) partial sums — map-side partial
  *     aggregation means the exchange carries ≈ k×dim rows per
  *     partition, never vectors.
  *   - The driver-side `collect()` of k centroid rows is the
  *     per-iteration materialization action (iterative lazy chains
  *     recompute through lineage — see GraphOps.connectedComponents).
  *
  * Determinism across engines: means go through exact DECIMAL(30,15)
  * sums (order-independent), every double round-trips the plan literal
  * bit-exactly via `Double.toString` + string→double cast, and the
  * assignment compares cosines rounded to 6 decimals — so a DuckDB
  * oracle replaying the same iterations reproduces the clustering
  * hash-exactly.
  */
object KMeans {

  /** One coarse-quantizer centroid: cell id, mean vector, exact squared
    * norm. */
  final case class Cent(cl: Long, c: Seq[Double], cnsq: Double)

  /** The centroid set as a literal SQL `array<struct<cl,c,cnsq>>`
    * sorted by cl (the contract [[VectorOps.nearestCentroid]] expects).
    * `Double.toString` emits the shortest digits that round-trip, and
    * the string→double cast parses them back to the identical IEEE
    * value, so no precision is lost crossing the driver. */
  def literal(cs: Seq[Cent]): String =
    cs.sortBy(_.cl).map { ct =>
      val arr = ct.c.map(d => s"CAST('$d' AS DOUBLE)")
        .mkString("array(", ", ", ")")
      s"named_struct('cl', CAST(${ct.cl} AS BIGINT), 'c', $arr, 'cnsq', CAST('${ct.cnsq}' AS DOUBLE))"
    }.mkString("array(", ", ", ")")

  private def toCents(rows: Array[Row]): Seq[Cent] =
    rows.map(r => Cent(r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq

  /** Deterministic seeding: the k smallest vec_ids, each its own
    * centroid (k-means is init-sensitive, so a reproducible seed is
    * what makes the whole fit oracle-checkable; swap in k-means|| here
    * when determinism can be relaxed). `vecs` must carry
    * (vec_id, e: array<double>, nsq). */
  def seed(vecs: DataFrame, k: Int): Seq[Cent] =
    toCents(vecs.orderBy(col("vec_id")).limit(k)
      .selectExpr("vec_id AS cl", "e AS c", "nsq AS cnsq")
      .collect())

  /** One Lloyd iteration: assign (map-side fold) → per-(cell, dim)
    * exact-decimal means → reassemble k centroid arrays. A cell that
    * captures no vectors drops out (both engines GROUP BY, so the
    * oracle loses it identically). */
  def step(vecs: DataFrame, cents: Seq[Cent]): Seq[Cent] =
    stepWith(vecs,
      s"${VectorOps.nearestCentroid(literal(cents), "e", "nsq")}.cl",
      cents.head.c.size)

  /** [[step]] under squared-L2 assignment — the product-quantizer
    * metric ([[PQ]]); the UPDATE half (per-cell exact-decimal means) is
    * metric-independent. */
  def stepL2(vecs: DataFrame, cents: Seq[Cent]): Seq[Cent] =
    stepWith(vecs,
      s"${VectorOps.nearestCentroidL2(literal(cents), "e")}.cl",
      cents.head.c.size)

  /** The UPDATE half in ONE shuffle: per-cell decimal sums of each of
    * the `dim` coordinates ride a single groupBy(cl) as dim aggregate
    * columns (plus the cell count), instead of posexploding the corpus
    * dim-fold wider and paying a second (cl,i)→cl re-assembly shuffle.
    * Arithmetic is unchanged — each coordinate's mean is the exact
    * DECIMAL(30,15) sum cast to double over the same count, so the
    * fitted trajectory stays bit-identical to the two-shuffle form
    * (the DuckDB oracle replays it hash-exactly). */
  private def stepWith(vecs: DataFrame, assignExpr: String, dim: Int): Seq[Cent] = {
    val assigned = vecs.selectExpr("e", s"$assignExpr AS cl")
    val aggs = (1 to dim).map(i =>
      sum(expr(s"CAST(element_at(e, $i) AS DECIMAL(30,15))")).as(s"s$i")) :+
      count(lit(1)).as("n")
    toCents(assigned
      .groupBy(col("cl"))
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr("cl",
        (1 to dim).map(i => s"CAST(s$i AS DOUBLE) / n")
          .mkString("array(", ", ", ") AS c"))
      .selectExpr("cl", "c", s"${VectorOps.normSq("c")} AS cnsq")
      .collect())
  }

  /** `iters` bounded Lloyd iterations from the deterministic seed.
    * Caller should persist `vecs` — it feeds every iteration plus
    * whatever assignment the caller runs with the fitted centroids. */
  def fit(vecs: DataFrame, k: Int, iters: Int): Seq[Cent] =
    (1 to iters).foldLeft(seed(vecs, k))((cs, _) => step(vecs, cs))

  /** [[fit]] under squared-L2 assignment. */
  def fitL2(vecs: DataFrame, k: Int, iters: Int): Seq[Cent] =
    (1 to iters).foldLeft(seed(vecs, k))((cs, _) => stepL2(vecs, cs))
}
