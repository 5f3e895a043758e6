package graft.api

import graft.{SparkSpec, SparkSpec => S}
import graft.sources.Tables

class QueryServiceSpec extends SparkSpec {

  private def t = Tables(spark, S.Sf0001)

  test("pagination partitions the ordered result exactly") {
    val limit = 7
    val p1 = QueryService.searchDocuments(t, sort = QueryService.DocSort.CharsDesc, page = 1, limit = limit)
    val total = p1.total
    val pages = (1L to p1.pages).map(p =>
      QueryService.searchDocuments(t, sort = QueryService.DocSort.CharsDesc, page = p.toInt, limit = limit))
    val allIds = pages.flatMap(_.items.map(_.getAs[Long]("doc_id")))
    assert(allIds.length == total)
    assert(allIds.distinct.length == total, "pages overlap or skip rows")
    // Ordered by n_chars desc overall.
    val chars = pages.flatMap(_.items.map(_.getAs[Long]("n_chars")))
    assert(chars == chars.sortBy(-_))
  }

  test("dynamic conjunction narrows results; absent filters add nothing") {
    val all = QueryService.searchDocuments(t, limit = 10000)
    val en = QueryService.searchDocuments(t, lang = Some("en"), limit = 10000)
    assert(en.total <= all.total)
    assert(en.items.forall(_.getAs[String]("lang") == "en"))
    val enLong = QueryService.searchDocuments(t, lang = Some("en"), minChars = Some(200), limit = 10000)
    assert(enLong.total <= en.total)
    assert(enLong.items.forall(_.getAs[Long]("n_chars") >= 200))
  }

  test("point lookup serves the summary row when present") {
    import org.apache.spark.sql.functions._
    // Summary with a sentinel value proves the summary path won: the
    // fallback recompute could never produce order_cnt = -1.
    val summary = t.customer.limit(0).sparkSession.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(1L, "from-summary", -1L, 0.0)),
      org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING, order_cnt BIGINT, total_spent DOUBLE"))
    val hit = QueryService.customerLookup(t, summary, 1L)
    assert(hit.exists(_.getAs[Long]("order_cnt") == -1L))
    assert(hit.exists(_.getAs[String]("c_name") == "from-summary"))
  }

  test("point lookup falls back to a per-key base aggregate on summary miss") {
    import org.apache.spark.sql.functions._
    val empty = t.customer
      .select(col("c_custkey"), col("c_name"))
      .withColumn("order_cnt", lit(0L))
      .withColumn("total_spent", lit(0.0))
      .limit(0)
    val k = t.orders.selectExpr("o_custkey").head().getLong(0)
    val viaFallback = QueryService.customerLookup(t, empty, k)
    val expected = t.orders.filter(col("o_custkey") === k).count()
    assert(viaFallback.exists(_.getAs[Long]("order_cnt") == expected))
    // (Every sf0.001 customer has orders, so the zero-fill coalesce arm
    // can't be probed here; its shape is the oracle-verified
    // q_customer_summary left-join+coalesce.)
    // Key in neither summary nor base: None (the reference's 404).
    assert(QueryService.customerLookup(t, empty, -999L).isEmpty)
  }

  test("a customerLookup hit on a TxTable summary starts no Spark job") {
    import graft.sources.TxTable
    import org.apache.spark.sql.types.StructType
    val dir = java.nio.file.Files.createTempDirectory("graft_qs_summary").toString
    TxTable.init(spark, dir, StructType.fromDDL(
      "c_custkey BIGINT, c_name STRING, order_cnt BIGINT, total_spent DOUBLE"),
      bloomCols = Seq("c_custkey"))
    TxTable.append(spark, dir, spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(1L, "from-summary", -1L, 0.0),
        org.apache.spark.sql.Row(2L, "other", 3L, 1.5)),
      StructType.fromDDL("c_custkey BIGINT, c_name STRING, order_cnt BIGINT, total_spent DOUBLE")))
    val (hit, jobs) = jobsDuring {
      QueryService.customerLookup(t, TxTable.lookupKeys(spark, dir, "c_custkey", Seq(1L)), 1L)
    }
    assert(hit.contains(org.apache.spark.sql.Row(1L, "from-summary", -1L, 0.0)))
    assert(jobs == 0, s"summary hit started $jobs Spark jobs")
  }

  test("sort key selection changes order, not membership") {
    val byChars = QueryService.searchDocuments(t, sort = QueryService.DocSort.CharsAsc, limit = 10000)
    val byId = QueryService.searchDocuments(t, sort = QueryService.DocSort.IdAsc, limit = 10000)
    assert(byChars.items.map(_.getAs[Long]("doc_id")).sorted ==
      byId.items.map(_.getAs[Long]("doc_id")).sorted)
    val chars = byChars.items.map(_.getAs[Long]("n_chars"))
    assert(chars == chars.sorted)
  }
}
