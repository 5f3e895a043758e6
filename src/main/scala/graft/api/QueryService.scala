package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Thin typed façade mirroring the reference's HTTP query surface
  * (SURVEY.md §3.1): dynamic conjunctive predicates (P9), user-selected
  * sort keys (O2, an enum — never string-interpolated into the plan),
  * and LIMIT/OFFSET pagination with a total count (O3) wrapped in a
  * [[Page]] envelope.
  *
  * Pagination runs two actions on one cached plan (count + page fetch),
  * like the reference's two queries (webapp/mysql_routes.py:106-115) but
  * without re-running the filters.
  */
final case class Page[T](items: Seq[T], page: Int, limit: Int, total: Long, pages: Long)

object QueryService {

  /** O2: allowed sort keys — a closed enum, matching
    * webapp/mysql_routes.py:480-494's whitelist. */
  sealed abstract class DocSort(val column: Column)
  object DocSort {
    case object CharsDesc extends DocSort(col("n_chars").desc)
    case object CharsAsc extends DocSort(col("n_chars").asc)
    case object IdAsc extends DocSort(col("doc_id").asc)
  }

  /** P9: optional filters AND-folded; absent params add no predicate
    * (and no join) — the query-builder concern Catalyst cannot elide
    * itself (SURVEY.md §4). */
  def searchDocuments(t: Tables,
                      textContains: Option[String] = None,
                      lang: Option[String] = None,
                      source: Option[String] = None,
                      minChars: Option[Int] = None,
                      sort: DocSort = DocSort.IdAsc,
                      page: Int = 1, limit: Int = 10): Page[Row] = {
    val preds: Seq[Column] = Seq(
      textContains.map(q => lower(col("text")).contains(q.toLowerCase)),
      lang.map(col("lang") === _),
      source.map(col("source") === _),
      minChars.map(col("n_chars") >= _)).flatten
    val filtered = preds.foldLeft(t.documents)((df, p) => df.filter(p))
    paginate(filtered.select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      // doc_id tiebreak keeps pages disjoint and stable (total order).
      Seq(sort.column, col("doc_id").asc), page, limit)
  }

  /** Point lookup with summary fallback (the reference's
    * business_performance shape, webapp/mongodb_routes.py:371-385: serve
    * from the pre-aggregated summary collection, fall back to the base
    * collection when the summary row is absent, 404 when both miss).
    *
    * Both probes are point predicates on the key plus one collect of
    * ≤1 row at the API boundary, never a scan of the world. A summary
    * from `TxTable.lookupKeys` whose pruned files hold at most
    * `TxTable.DriverLookupBytes` (256 KiB) on disk is already a local
    * relation read on the driver, so a summary hit folds in Catalyst
    * and starts zero Spark jobs; a miss, or a bigger pruned set, runs
    * as jobs. The
    * fallback recomputes the summary columns for JUST that key, so a
    * stale/incomplete summary store degrades to correct-but-slower
    * instead of wrong.
    */
  def lookupWithFallback(summary: DataFrame, keyCol: String, key: Long)
                        (fallback: => DataFrame): Option[Row] = {
    val hit = summary.filter(col(keyCol) === key).limit(1).collect().headOption
    hit.orElse(fallback.filter(col(keyCol) === key).limit(1).collect().headOption)
  }

  /** Customer point lookup: summary row if materialized, else the
    * per-key on-the-fly aggregate in q_customer_summary's exact shape
    * (order_cnt/total_spent zero-filled for order-less customers). */
  def customerLookup(t: Tables, summary: DataFrame, custkey: Long): Option[Row] =
    lookupWithFallback(summary, "c_custkey", custkey) {
      val orderAgg = t.orders.filter(col("o_custkey") === custkey)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("order_cnt"),
          graft.functions.Exact.dsum(col("o_totalprice")).as("total_spent"))
      t.customer.filter(col("c_custkey") === custkey)
        .join(orderAgg, col("c_custkey") === orderAgg("custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("order_cnt"), lit(0L)).as("order_cnt"),
          coalesce(col("total_spent"), lit(0.0)).as("total_spent"))
    }

  /** O3: stable offset/limit pagination + total count on one plan. */
  def paginate(df: DataFrame, order: Seq[Column], page: Int, limit: Int): Page[Row] = {
    val cached = df.persist()
    try {
      val total = cached.count()
      val items = cached.orderBy(order: _*)
        .offset((page - 1) * limit).limit(limit).collect().toSeq
      Page(items, page, limit, total, (total + limit - 1) / limit)
    } finally cached.unpersist()
  }
}
