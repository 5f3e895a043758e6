package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.functions.Exact._

/** Relational query library — the SURVEY.md §2 operator inventory
  * re-expressed over the driver's TPC-H-ish star schema.
  *
  * Every query is a declarative DataFrame plan: Catalyst handles filter
  * pushdown, column pruning, join strategy (dims auto-broadcast under the
  * 64 MB threshold) and AQE handles runtime shuffle sizing. Scale notes
  * are on each query.
  *
  * Operator ids in comments refer to SURVEY.md §2 rows (reference sites
  * cited there).
  */
object Warehouse {

  val defs: Seq[QueryDef] = Seq(

    // A3/A4/A5 + scan w/ pushed-down filter (S1, P5). TPC-H Q1 shape:
    // map-side partial agg on (returnflag, linestatus) — 6 groups, no skew;
    // shuffle is O(groups), safe at any scale. Ref: webapp/mysql_routes.py:329-361.
    QueryDef(
      "q1_agg",
      t => t.lineitem
        .filter(to_date(col("l_shipdate")) <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some(s"""
        SELECT l_returnflag, l_linestatus,
          ${sqlSum("l_quantity")} AS sum_qty,
          ${sqlSum("l_extendedprice")} AS sum_base_price,
          ${sqlSum("l_extendedprice * (1.0 - l_discount)", 6)} AS sum_disc_price,
          ${sqlAvg("l_quantity")} AS avg_qty,
          ${sqlAvg("l_discount", 4)} AS avg_disc,
          COUNT(*) AS count_order
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // J1/J2 (dim chain join) + A4/A5 (multi-agg with conditional buckets).
    // customer⋈nation⋈region: both dims broadcast — zero shuffle for the
    // joins; one shuffle for the group-by. Ref: webapp/mysql_routes.py:93-97.
    QueryDef(
      "q_geo_customers",
      t => t.customer
        .join(t.nation, col("c_nationkey") === col("n_nationkey"))
        .join(t.region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("customer_cnt"),
          dsum(col("c_acctbal")).as("total_acctbal"),
          count(when(col("c_acctbal") < 0, lit(1))).as("negative_cnt"),
          countDistinct(col("c_mktsegment")).as("segment_cnt"))
        .orderBy(col("r_name"), col("n_name")),
      Some(s"""
        SELECT r_name, n_name,
          COUNT(*) AS customer_cnt,
          ${sqlSum("c_acctbal")} AS total_acctbal,
          COUNT(CASE WHEN c_acctbal < 0 THEN 1 END) AS negative_cnt,
          COUNT(DISTINCT c_mktsegment) AS segment_cnt
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name""")),

    // J5 (fact⋈fact⋈dim chain) + A7 (time-series group). lineitem⋈orders
    // is the one genuine big-big join: both sides shuffle on orderkey
    // (AQE may convert to broadcast at small SF); dims broadcast.
    // Ref: webapp/mysql_routes.py:1107-1125.
    QueryDef(
      "q_revenue_by_nation_year",
      t => t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(t.nation, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
          count(lit(1)).as("lineitem_cnt"))
        .orderBy(col("n_name"), col("order_year")),
      Some(s"""
        SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS order_year,
          ${sqlSum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
          COUNT(*) AS lineitem_cnt
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, order_year
        ORDER BY n_name, order_year""")),

    // J19/T2 (left-semi validity join) — orders having at least one
    // high-quantity lineitem. Semi-join avoids materializing the fact⋈fact
    // product. Ref: init/mysql_loader.py:596-609.
    QueryDef(
      "q_semi_high_quantity_orders",
      t => t.orders
        .join(t.lineitem.filter(col("l_quantity") >= 45),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_cnt"),
          dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("o_orderpriority")),
      Some(s"""
        SELECT o_orderpriority, COUNT(*) AS order_cnt,
          ${sqlSum("o_totalprice")} AS total_price
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // J13/T3 (anti-join) — customers with no orders.
    // Ref: webapp/neo4j_routes.py:640-655.
    QueryDef(
      "q_anti_customers_without_orders",
      t => t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey")),
      Some("""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey""")),

    // A2/A6 (grouped count + HAVING). Ref: webapp/mysql_routes.py:353-357.
    QueryDef(
      "q_having_populous_nations",
      t => t.customer
        .join(t.nation, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("customer_cnt"),
          davg(col("c_acctbal")).as("avg_acctbal"))
        .filter(col("customer_cnt") > 5)
        .orderBy(col("n_name")),
      Some(s"""
        SELECT n_name, COUNT(*) AS customer_cnt,
          ${sqlAvg("c_acctbal")} AS avg_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        HAVING COUNT(*) > 5
        ORDER BY n_name""")),

    // A7 (time-series group by year/month). Ref: webapp/mysql_routes.py:412-435.
    QueryDef(
      "q_monthly_orders",
      t => t.orders
        .groupBy(
          year(col("o_orderdate")).cast("long").as("order_year"),
          month(col("o_orderdate")).cast("long").as("order_month"))
        .agg(count(lit(1)).as("order_cnt"),
          dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("order_year"), col("order_month")),
      Some(s"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
          CAST(month(o_orderdate) AS BIGINT) AS order_month,
          COUNT(*) AS order_cnt,
          ${sqlSum("o_totalprice")} AS total_price
        FROM orders
        GROUP BY order_year, order_month
        ORDER BY order_year, order_month""")),

    // A10 (year × month pivot, zero-filled). Ref: webapp/mysql_routes.py:823-882.
    QueryDef(
      "q_pivot_orders_year_month",
      t => t.orders
        .withColumn("order_year", year(col("o_orderdate")).cast("long"))
        .withColumn("order_month", month(col("o_orderdate")))
        .groupBy(col("order_year"))
        .pivot("order_month", 1 to 12)
        .count()
        .na.fill(0)
        .orderBy(col("order_year")),
      Some {
        val cols = (1 to 12)
          .map(m => s"""COUNT(*) FILTER (WHERE month(o_orderdate) = $m) AS "$m"""")
          .mkString(",\n          ")
        s"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
          $cols
        FROM orders
        GROUP BY order_year
        ORDER BY order_year"""
      }),

    // A12 (per-entity multi-agg top-N). Ref: webapp/mysql_routes.py:1212-1230.
    QueryDef(
      "q_top_customers",
      t => t.orders
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("order_cnt"),
          dsum(col("o_totalprice")).as("total_spent"),
          // Dates surface as ISO strings: engine-portable representation
          // regardless of how the comparison layer coerces date types.
          date_format(min(to_date(col("o_orderdate"))), "yyyy-MM-dd").as("first_order"),
          date_format(max(to_date(col("o_orderdate"))), "yyyy-MM-dd").as("last_order"),
          countDistinct(col("o_orderpriority")).as("priority_cnt"))
        .orderBy(col("order_cnt").desc, col("total_spent").desc, col("o_custkey").asc)
        .limit(10),
      Some(s"""
        SELECT o_custkey, COUNT(*) AS order_cnt,
          ${sqlSum("o_totalprice")} AS total_spent,
          strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS first_order,
          strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS last_order,
          COUNT(DISTINCT o_orderpriority) AS priority_cnt
        FROM orders
        GROUP BY o_custkey
        ORDER BY order_cnt DESC, total_spent DESC, o_custkey
        LIMIT 10""")),

    // A13 (per-group top-k via window, replacing the reference's N+1 loop).
    // Ref: webapp/mysql_routes.py:1235-1256.
    QueryDef(
      "q_topk_parts_per_brand",
      t => {
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        t.part
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("p_brand"), col("rk"), col("p_partkey"),
            col("p_name"), col("p_retailprice"))
          .orderBy(col("p_brand"), col("rk"))
      },
      Some("""
        SELECT p_brand, rk, p_partkey, p_name, p_retailprice FROM (
          SELECT p_brand, p_partkey, p_name, p_retailprice,
            CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
              ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rk
          FROM part) ranked
        WHERE rk <= 3
        ORDER BY p_brand, rk""")),

    // O1/O3 (multi-key sort + offset/limit pagination).
    // Ref: webapp/mysql_routes.py:77-118.
    QueryDef(
      "q_page_customers",
      t => t.customer
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
        .offset(40)
        .limit(20),
      Some("""
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        FROM customer
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 20 OFFSET 40""")),

    // T1/T2 (intersect) — nations present in both customer and supplier.
    // Ref: init/mysql_loader.py:606-609.
    QueryDef(
      "q_nations_with_both",
      t => t.customer.select(col("c_nationkey").as("nk"))
        .intersect(t.supplier.select(col("s_nationkey").as("nk")))
        .join(t.nation, col("nk") === col("n_nationkey"))
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey")),
      Some("""
        SELECT n_nationkey, n_name FROM nation
        WHERE n_nationkey IN (
          SELECT c_nationkey FROM customer
          INTERSECT
          SELECT s_nationkey FROM supplier)
        ORDER BY n_nationkey""")),

    // T3 (except/difference) — nations with customers but no suppliers.
    QueryDef(
      "q_nations_customers_only",
      t => t.customer.select(col("c_nationkey").as("nk"))
        .except(t.supplier.select(col("s_nationkey").as("nk")))
        .join(t.nation, col("nk") === col("n_nationkey"))
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey")),
      Some("""
        SELECT n_nationkey, n_name FROM nation
        WHERE n_nationkey IN (
          SELECT c_nationkey FROM customer
          EXCEPT
          SELECT s_nationkey FROM supplier)
        ORDER BY n_nationkey""")),

    // §2.8 date-function family: extract/truncate/format/arithmetic.
    // Ref: webapp/mysql_routes.py:176-229,721-727.
    QueryDef(
      "q_date_functions",
      t => t.orders
        .select(to_date(col("o_orderdate")).as("d")).distinct()
        .select(
          date_format(col("d"), "yyyy-MM-dd").as("order_date"),
          year(col("d")).cast("long").as("y"),
          quarter(col("d")).cast("long").as("q"),
          month(col("d")).cast("long").as("m"),
          date_format(col("d"), "MMMM").as("month_name"),
          dayofweek(col("d")).cast("long").as("dow"),
          date_format(date_trunc("month", col("d")), "yyyy-MM-dd").as("month_start"),
          date_format(add_months(col("d"), -12), "yyyy-MM-dd").as("year_ago"))
        .orderBy(col("order_date")),
      Some("""
        SELECT strftime(d, '%Y-%m-%d') AS order_date,
          CAST(year(d) AS BIGINT) AS y,
          CAST(quarter(d) AS BIGINT) AS q,
          CAST(month(d) AS BIGINT) AS m,
          monthname(d) AS month_name,
          CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
          strftime(date_trunc('month', d), '%Y-%m-%d') AS month_start,
          strftime(CAST(d - INTERVAL 12 MONTH AS DATE), '%Y-%m-%d') AS year_ago
        FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
        ORDER BY order_date""")),

    // §2.8 string-function family: case-map, split, concat, conditional.
    // Ref: webapp/mysql_routes.py:251,1109; init/mysql_loader.py:426-429.
    QueryDef(
      "q_string_functions",
      t => t.part
        .select(
          col("p_partkey"),
          lower(col("p_name")).as("name_lower"),
          size(split(col("p_type"), " ")).cast("long").as("type_words"),
          concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
          when(col("p_size") < 10, lit("small"))
            .when(col("p_size") < 30, lit("medium"))
            .otherwise(lit("large")).as("size_bucket"))
        .orderBy(col("p_partkey")),
      Some("""
        SELECT p_partkey,
          lower(p_name) AS name_lower,
          CAST(len(string_split(p_type, ' ')) AS BIGINT) AS type_words,
          p_brand || '/' || p_type AS brand_type,
          CASE WHEN p_size < 10 THEN 'small'
               WHEN p_size < 30 THEN 'medium'
               ELSE 'large' END AS size_bucket
        FROM part
        ORDER BY p_partkey""")),

    // A23 (zero-filled fixed-domain distribution) over the events table.
    // Right-join to the full 1..7 day-of-week domain. Ref:
    // webapp/mysql_routes.py:189-229.
    QueryDef(
      "q_events_dow_distribution",
      t => {
        val spark = t.spark
        val domain = spark.range(1, 8).select(col("id").as("dow"))
        val counts = t.events
          .groupBy(dayofweek(col("ts")).cast("long").as("dow"))
          .agg(count(lit(1)).as("event_cnt"),
            dsum(col("value")).as("total_value"))
        domain.join(counts, Seq("dow"), "left")
          .na.fill(0)
          .orderBy(col("dow"))
      },
      Some(s"""
        SELECT d.dow,
          COALESCE(c.event_cnt, 0) AS event_cnt,
          COALESCE(c.total_value, 0.0) AS total_value
        FROM (SELECT range AS dow FROM range(1, 8)) d
        LEFT JOIN (
          SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
            COUNT(*) AS event_cnt,
            ${sqlSum("value")} AS total_value
          FROM events GROUP BY 1) c USING (dow)
        ORDER BY d.dow""")),

    // A17-adjacent (semi-structured props extraction) via regexp — the
    // events.props column is a JSON blob; pull the numeric key out with
    // an engine-portable regex. Ref: webapp/mongodb_routes.py:713-720.
    QueryDef(
      "q_events_props_extract",
      t => t.events
        .select(col("event_type"),
          regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("event_cnt"),
          sum(col("k")).as("k_sum"),
          max(col("k")).as("k_max"))
        .orderBy(col("event_type")),
      // TRY_CAST: a no-match row yields '' which CAST would raise on in
      // DuckDB while Spark yields null — TRY_CAST makes both sides null.
      Some("""
        SELECT event_type,
          COUNT(*) AS event_cnt,
          CAST(SUM(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS k_sum,
          MAX(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS k_max
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // J6/J8 (left join to nullable side + zero-fill) + A19: per-brand
    // sold/unsold part counts. The left join keeps never-sold parts;
    // count(non-null) gives them 0. Ref: init/mysql_loader.py:1080-1104,
    // webapp/neo4j_routes.py:67-74.
    QueryDef(
      "q_parts_sold_leftjoin",
      t => t.part
        .join(t.lineitem, col("p_partkey") === col("l_partkey"), "left")
        .groupBy(col("p_partkey"), col("p_brand"))
        .agg(count(col("l_orderkey")).as("sold_cnt"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("part_cnt"),
          count(when(col("sold_cnt") === 0, lit(1))).as("unsold_parts"),
          sum(col("sold_cnt")).as("total_lineitems"))
        .orderBy(col("p_brand")),
      Some("""
        SELECT p_brand,
          COUNT(*) AS part_cnt,
          COUNT(CASE WHEN sold_cnt = 0 THEN 1 END) AS unsold_parts,
          CAST(SUM(sold_cnt) AS BIGINT) AS total_lineitems
        FROM (
          SELECT p_partkey, p_brand, COUNT(l_orderkey) AS sold_cnt
          FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
          GROUP BY p_partkey, p_brand)
        GROUP BY p_brand
        ORDER BY p_brand""")),

    // A8 (month-truncated trend with sliding cutoff). The reference uses
    // CURRENT_DATE - 12 months (webapp/mysql_routes.py:719-732); a fixed
    // cutoff keeps the query deterministic for the oracle — the API layer
    // parameterizes it.
    QueryDef(
      "q_recent_orders_trend",
      t => t.orders
        .filter(to_date(col("o_orderdate")) >= add_months(lit("1997-08-01").cast("date"), 0))
        .groupBy(date_format(date_trunc("month", to_date(col("o_orderdate"))), "yyyy-MM-dd").as("month_start"))
        .agg(count(lit(1)).as("order_cnt"),
          davg(col("o_totalprice")).as("avg_price"))
        .orderBy(col("month_start")),
      Some(s"""
        SELECT strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_start,
          COUNT(*) AS order_cnt,
          ${sqlAvg("o_totalprice")} AS avg_price
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1997-08-01'
        GROUP BY month_start
        ORDER BY month_start""")),

    // A9 (month-of-year distribution across all years).
    // Ref: webapp/mysql_routes.py:776-788.
    QueryDef(
      "q_month_of_year",
      t => t.orders
        .groupBy(
          month(col("o_orderdate")).cast("long").as("m"),
          date_format(to_date(col("o_orderdate")), "MMMM").as("month_name"))
        .agg(count(lit(1)).as("order_cnt"))
        .orderBy(col("m")),
      Some("""
        SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
          monthname(CAST(o_orderdate AS DATE)) AS month_name,
          COUNT(*) AS order_cnt
        FROM orders
        GROUP BY m, month_name
        ORDER BY m""")),

    // A11 (quarterly trend with label + year filter).
    // Ref: webapp/mysql_routes.py:1107-1151.
    QueryDef(
      "q_quarterly_trend",
      t => t.orders
        .filter(year(col("o_orderdate")) >= 1996)
        .groupBy(
          year(col("o_orderdate")).cast("long").as("y"),
          quarter(col("o_orderdate")).cast("long").as("q"))
        .agg(count(lit(1)).as("order_cnt"),
          davg(col("o_totalprice")).as("avg_price"))
        .withColumn("quarter_label", concat(col("y"), lit("-Q"), col("q")))
        .select(col("quarter_label"), col("y"), col("q"), col("order_cnt"), col("avg_price"))
        .orderBy(col("y"), col("q")),
      Some(s"""
        SELECT y || '-Q' || q AS quarter_label, y, q, order_cnt, avg_price FROM (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
            CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS q,
            COUNT(*) AS order_cnt,
            ${sqlAvg("o_totalprice")} AS avg_price
          FROM orders
          WHERE year(o_orderdate) >= 1996
          GROUP BY y, q)
        ORDER BY y, q""")),

    // S5 lifecycle, TRANSACTIONAL: the summary upsert run through the
    // manifest-log table (sources/TxTable.scala) — seed a snapshot from
    // the pre-1997 orders, then MERGE the remainder as a delta batch in
    // one atomic commit (optimistic read-transform-commit, the
    // ON DUPLICATE KEY UPDATE twin; reference init/mysql_loader.py:
    // 1044-1057 gets the same guarantees from InnoDB). Partial sums
    // stay DECIMAL inside the table, so merged partials equal the
    // oracle's one-shot aggregate bit-for-bit after the single final
    // cast — the arithmetic that makes incremental summaries exact.
    QueryDef(
      "q_tx_summary_merge",
      t => {
        import graft.operators.Stages
        import graft.sources.TxTable
        import org.apache.spark.sql.types.StructType
        val dir = Stages.freshDir(t.spark, s"tx_summary:${t.dir}")
        TxTable.init(t.spark, dir,
          StructType.fromDDL("custkey BIGINT, order_cnt BIGINT, total_spent DECIMAL(38,2)"))
        def agg(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(col("o_custkey").as("custkey"))
          .agg(count(lit(1)).as("order_cnt"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("total_spent"))
        TxTable.overwrite(t.spark, dir,
          agg(t.orders.filter(col("o_orderdate") < "1997-01-01")))
        val delta = agg(t.orders.filter(col("o_orderdate") >= "1997-01-01"))
        TxTable.merge(t.spark, dir) { cur =>
          cur.unionByName(delta)
            .groupBy(col("custkey"))
            .agg(sum(col("order_cnt")).as("order_cnt"),
              sum(col("total_spent")).as("total_spent"))
        }
        TxTable.read(t.spark, dir)
          .select(col("custkey"),
            col("order_cnt").cast("long").as("order_cnt"),
            col("total_spent").cast("double").as("total_spent"))
          .orderBy(col("custkey"))
      },
      Some(s"""
        SELECT o_custkey AS custkey, COUNT(*) AS order_cnt,
          ${sqlSum("o_totalprice")} AS total_spent
        FROM orders GROUP BY 1 ORDER BY 1""")),

    // S5 lifecycle on a VARCHAR NATURAL KEY: the reference's derived
    // tables key on string business ids (star_schema.sql:28-29), so the
    // transactional summary must prune and merge on a string key too.
    // Seed a c_name-keyed order summary from the pre-1997 snapshot
    // (range-clustered so each file covers a contiguous name interval,
    // its UTF-8 bounds harvested into the manifest's sstats block),
    // then merge the remaining orders as one staged string-keyed
    // PrunedReplace — hit files resolved from manifest string bounds,
    // untouched files carried byte-identical, one atomic claim.
    // Decimal partials inside the table keep merged == one-shot exact.
    QueryDef(
      "q_tx_string_merge",
      t => {
        import graft.operators.Stages
        import graft.sources.{PrunedReplace, TxTable}
        import org.apache.spark.sql.types.StructType
        val dir = Stages.freshDir(t.spark, s"tx_string_summary:${t.dir}")
        val named = t.orders.join(
          t.customer.select(col("c_custkey"), col("c_name").as("name")),
          col("o_custkey") === col("c_custkey"))
        def agg(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(col("name"))
          .agg(count(lit(1)).as("order_cnt"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("total_spent"))
        TxTable.init(t.spark, dir,
          StructType.fromDDL("name STRING, order_cnt BIGINT, total_spent DECIMAL(38,2)"))
        TxTable.overwrite(t.spark, dir,
          agg(named.filter(col("o_orderdate") < "1997-01-01"))
            .repartitionByRange(8, col("name")).sortWithinPartitions(col("name")))
        // Size-guarded like mergeSummaryPruned: the pruned replace
        // needs a driver-bounded key set; past the bound fall back to
        // the contention-safe full-rewrite merge (a delta touching
        // that many keys rewrites most files anyway).
        val delta = agg(named.filter(col("o_orderdate") >= "1997-01-01"))
        val maxDeltaKeys = 100000
        val keys = delta.select(col("name")).limit(maxDeltaKeys + 1)
          .collect().map(_.getString(0))
        def merged(cur: org.apache.spark.sql.DataFrame) =
          cur.unionByName(delta)
            .groupBy(col("name"))
            .agg(sum(col("order_cnt")).as("order_cnt"),
              sum(col("total_spent")).as("total_spent"))
        if (keys.length <= maxDeltaKeys)
          PrunedReplace.stageReplaceWithStringKeys(t.spark, dir, "name", keys) {
            hitRows => merged(hitRows.filter(col("name").isInCollection(keys)))
          }.commit()
        else TxTable.merge(t.spark, dir)(merged)
        TxTable.read(t.spark, dir)
          .select(col("name"),
            col("order_cnt").cast("long").as("order_cnt"),
            col("total_spent").cast("double").as("total_spent"))
          .orderBy(col("name"))
      },
      Some(s"""
        SELECT c_name AS name, COUNT(*) AS order_cnt,
          ${sqlSum("o_totalprice")} AS total_spent
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY 1""")),

    // POINT LOOKUP by VARCHAR natural key from log metadata only — the
    // reference's hottest read shape (`SELECT … WHERE business_id = ?`
    // behind every detail page, webapp/mysql_routes.py; MySQL answers
    // it from the primary-key B-tree). The lake twin: a c_name-keyed
    // summary committed range-clustered (each file a contiguous name
    // interval, UTF-8 bounds in the manifest sstats, a name Bloom per
    // data dir), then TxTable.lookupStringKeys plans the probe from
    // the MANIFEST alone — absent keys die on the Bloom (zero I/O),
    // present keys prune to the files whose bounds cover them, and
    // those few small files are read on the driver (zero Spark jobs;
    // past TxTable.DriverLookupBytes the IN predicate pushes into their
    // row groups instead). The probed
    // names resolve from fixed custkeys so the oracle can replay the
    // same keys; the two literal probes exercise the absence path.
    QueryDef(
      "q_tx_point_lookup",
      t => {
        import graft.operators.Stages
        import graft.sources.TxTable
        import org.apache.spark.sql.types.StructType
        val dir = Stages.tempDir(t.spark, s"tx_lookup:${t.dir}") { d =>
          TxTable.init(t.spark, d,
            StructType.fromDDL("name STRING, order_cnt BIGINT, total_spent DECIMAL(38,2)"),
            bloomCols = Seq("name"))
          TxTable.overwrite(t.spark, d,
            t.orders.join(
                t.customer.select(col("c_custkey"), col("c_name").as("name")),
                col("o_custkey") === col("c_custkey"))
              .groupBy(col("name"))
              .agg(count(lit(1)).as("order_cnt"),
                sum(col("o_totalprice").cast("decimal(18,2)")).as("total_spent"))
              .repartitionByRange(8, col("name"))
              .sortWithinPartitions(col("name")))
        }
        val probeKeys = t.customer
          .filter(col("c_custkey").isin(7L, 700L, 1301L))
          .select(col("c_name")).collect().map(_.getString(0)).toSeq
        TxTable.lookupStringKeys(t.spark, dir, "name",
            probeKeys ++ Seq("Customer#absent-probe", "zzz-no-such-key"))
          .select(col("name"),
            col("order_cnt").cast("long").as("order_cnt"),
            col("total_spent").cast("double").as("total_spent"))
          .orderBy(col("name"))
      },
      Some(s"""
        SELECT c_name AS name, COUNT(*) AS order_cnt,
          ${sqlSum("o_totalprice")} AS total_spent
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_custkey IN (7, 700, 1301)
        GROUP BY 1 ORDER BY 1""")),

    // The LONG-keyed twin of the point lookup above, oracle-gated the
    // same way: a custkey-keyed summary TxTable (range-clustered, with
    // a custkey Bloom per data dir), probed through TxTable.lookupKeys
    // — Bloom absence proof (the two absent probes cost zero I/O),
    // numeric `stats` file pruning, then the surviving files read on
    // the driver (or, past TxTable.DriverLookupBytes, scanned with the
    // IN pushed into their row groups). Its planning (TxTable.lookupFiles)
    // is the one the dedup append's dupe probe and endpoint fetch use,
    // gated here at query granularity rather than only in specs.
    QueryDef(
      "q_tx_point_lookup_long",
      t => {
        import graft.operators.Stages
        import graft.sources.TxTable
        import org.apache.spark.sql.types.StructType
        val dir = Stages.tempDir(t.spark, s"tx_lookup_long:${t.dir}") { d =>
          TxTable.init(t.spark, d,
            StructType.fromDDL("custkey BIGINT, order_cnt BIGINT, total_spent DECIMAL(28,2)"),
            bloomCols = Seq("custkey"))
          TxTable.overwrite(t.spark, d,
            t.orders.groupBy(col("o_custkey").as("custkey"))
              .agg(count(lit(1)).as("order_cnt"),
                sum(col("o_totalprice").cast("decimal(18,2)")).as("total_spent"))
              .repartitionByRange(8, col("custkey"))
              .sortWithinPartitions(col("custkey")))
        }
        TxTable.lookupKeys(t.spark, dir, "custkey",
            Seq(7L, 700L, 1301L, -5L, 999999931L))
          .select(col("custkey"),
            col("order_cnt").cast("long").as("order_cnt"),
            col("total_spent").cast("double").as("total_spent"))
          .orderBy(col("custkey"))
      },
      Some(s"""
        SELECT o_custkey AS custkey, COUNT(*) AS order_cnt,
          ${sqlSum("o_totalprice")} AS total_spent
        FROM orders
        WHERE o_custkey IN (7, 700, 1301)
        GROUP BY 1 ORDER BY 1""")),

    // Stats-pruned time-slice read of a TxTable fact store: the store
    // is seeded ONCE per session as four week-sliced append commits
    // (a micro-batch ingest history — each commit's manifest carries
    // its files' ts ranges, recorded at commit time); every invocation
    // then runs `factsInRange`, which plans ONLY the files whose
    // manifest range intersects the queried window — Delta-style
    // data skipping from log statistics, zero footer opens at read.
    // The oracle replays the window over the raw events table, so the
    // gate asserts pruned scan == full scan row for row.
    QueryDef(
      "q_tx_time_slice",
      t => {
        import graft.operators.Stages
        def micros(iso: String): Long = java.time.temporal.ChronoUnit.MICROS
          .between(java.time.Instant.EPOCH, java.time.Instant.parse(iso))
        val root = Stages.tempDir(t.spark, s"tx_facts:${t.dir}") { d =>
          val store = new graft.streaming.EventStore(d)
          val weeks = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-01-31")
          weeks.sliding(2).foreach { case Seq(lo, hi) =>
            store.appendFacts(t.events.filter(
              col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp")))
          }
        }
        val (win, _, _) = new graft.streaming.EventStore(root).factsInRange(
          t.spark,
          micros("2024-01-10T00:00:00Z"),
          micros("2024-01-13T23:59:59.999999Z"))
        win.select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, user_id, event_type, value,
          strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts <= TIMESTAMP '2024-01-13 23:59:59.999999'
        ORDER BY event_id""")),

    // Time-based retention, oracle-gated end-to-end: build the
    // week-sliced fact store (its own staged copy — expiry mutates it),
    // then EventStore.expireFacts drops everything before Jan 12. The
    // first week's files are FULLY aged — they leave by manifest
    // reference with zero data I/O — while the week-2 file straddles
    // the cutoff and rewrites filtered. The oracle is the raw events
    // table from the cutoff on, so the gate asserts both expiry paths
    // (drop-by-reference AND straddle-rewrite) are exactly
    // content-transparent for every surviving row.
    QueryDef(
      "q_tx_retention",
      t => {
        import graft.operators.Stages
        def micros(iso: String): Long = java.time.temporal.ChronoUnit.MICROS
          .between(java.time.Instant.EPOCH, java.time.Instant.parse(iso))
        val root = Stages.tempDir(t.spark, s"tx_retention:${t.dir}") { d =>
          val store = new graft.streaming.EventStore(d)
          val weeks = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-01-31")
          weeks.sliding(2).foreach { case Seq(lo, hi) =>
            store.appendFacts(t.events.filter(
              col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp")))
          }
          store.expireFacts(t.spark, micros("2024-01-12T00:00:00Z"))
          ()
        }
        new graft.streaming.EventStore(root).facts(t.spark)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, user_id, event_type, value,
          strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-12 00:00:00'
          AND ts < TIMESTAMP '2024-01-31 00:00:00'
        ORDER BY event_id""")),

    // User-data erasure, oracle-gated end-to-end: build the fact store
    // (its own staged copy — erasure mutates it), lay it out on the
    // (ts, user_id) z-curve, then EventStore.eraseUsers removes two
    // users as one pruned keyed replace per table (only manifest-hit
    // files rewrite — the GDPR path at lake scale). The oracle is the
    // raw events table minus those users, so the gate asserts both the
    // z-order fold and the erasure are exactly content-transparent for
    // every surviving row.
    QueryDef(
      "q_tx_erase_users",
      t => {
        import graft.operators.Stages
        val root = Stages.tempDir(t.spark, s"tx_erase:${t.dir}") { d =>
          val store = new graft.streaming.EventStore(d)
          val weeks = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-01-31")
          weeks.sliding(2).foreach { case Seq(lo, hi) =>
            store.appendFacts(t.events.filter(
              col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp")))
          }
          store.compactFacts(t.spark, zorder = true, zorderIdCol = "user_id")
          store.eraseUsers(t.spark, Seq(3L, 7L))
        }
        new graft.streaming.EventStore(root).facts(t.spark)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, user_id, event_type, value,
          strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          AND ts < TIMESTAMP '2024-01-31 00:00:00'
          AND user_id NOT IN (3, 7)
        ORDER BY event_id""")),

    // DEFERRED (deletion-vector-shaped) erasure, oracle-gated on the
    // UNCLUSTERED layout — the case where the eager keyed replace is
    // honest-but-expensive (time-clustered files span the full user
    // domain, so q_tx_erase_users pays a z-order fold first). Here the
    // store is left exactly as the week-sliced appends landed it and
    // eraseUsersDeferred masks the two users with ONE metadata commit
    // per table — ZERO data files read or rewritten by construction
    // (no replace machinery runs; DeletionVectorSpec pins the file set
    // byte-identical across the erasure). The oracle is the same
    // events-minus-users replay as the eager variant, so the gate
    // asserts the scan-level tombstone mask is exactly
    // content-equivalent to the physical rewrite.
    QueryDef(
      "q_tx_erase_users_dv",
      t => {
        import graft.operators.Stages
        val root = Stages.tempDir(t.spark, s"tx_erase_dv:${t.dir}") { d =>
          val store = new graft.streaming.EventStore(d)
          val weeks = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-01-31")
          weeks.sliding(2).foreach { case Seq(lo, hi) =>
            store.appendFacts(t.events.filter(
              col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp")))
          }
          store.eraseUsersDeferred(Seq(3L, 7L))
        }
        new graft.streaming.EventStore(root).facts(t.spark)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, user_id, event_type, value,
          strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          AND ts < TIMESTAMP '2024-01-31 00:00:00'
          AND user_id NOT IN (3, 7)
        ORDER BY event_id""")),

    // CDC MIRROR, oracle-gated end-to-end: the fact store replicates
    // into a SECOND TxTable over its own change feed
    // (readChangeFeed + streaming/CdcSync.mirrorTable) — bootstrap
    // snapshot BEFORE the erasure, so the GDPR delete must genuinely
    // FLOW as the feed's deletion half (key-only `delete` rows →
    // the mirror's own deferred deletes), not arrive pre-masked in the
    // snapshot. The query reads the MIRROR; the oracle is the same
    // events-minus-users replay as the erase twins, so the gate
    // asserts primary-erasure → feed → replica is exactly
    // content-equivalent to erasing the replica directly.
    QueryDef(
      "q_tx_mirror_erase",
      t => {
        import graft.operators.Stages
        val root = Stages.tempDir(t.spark, s"tx_mirror:${t.dir}") { d =>
          val store = new graft.streaming.EventStore(d)
          val weeks = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-01-31")
          weeks.sliding(2).foreach { case Seq(lo, hi) =>
            store.appendFacts(t.events.filter(
              col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp")))
          }
          val factDir = s"$d/fact_events"
          val mirror = s"$d/fact_mirror"
          val ckpt = s"$d/mirror_ckpt"
          // Bootstrap the replica from the pre-erasure snapshot...
          val q1 = graft.streaming.CdcSync.mirrorTable(
            t.spark, factDir, mirror, ckpt, keyCols = Seq("user_id"))
          try q1.processAllAvailable() finally q1.stop()
          // ...then erase on the PRIMARY and drain the feed's deletion
          // half into the replica.
          store.eraseUsersDeferred(Seq(3L, 7L))
          val q2 = graft.streaming.CdcSync.mirrorTable(
            t.spark, factDir, mirror, ckpt, keyCols = Seq("user_id"))
          try q2.processAllAvailable() finally q2.stop()
        }
        graft.sources.TxTable.read(t.spark, s"$root/fact_mirror")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, user_id, event_type, value,
          strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          AND ts < TIMESTAMP '2024-01-31 00:00:00'
          AND user_id NOT IN (3, 7)
        ORDER BY event_id""")),

    // CDC MIRROR ACROSS A FOLD, oracle-gated: the replica must converge
    // when the primary runs PHYSICAL maintenance mid-feed. Bootstrap
    // the mirror, erase users on the primary (deferred tombstones),
    // then foldDeletes — a pruned REWRITE of every hit file, committed
    // layout-only — then keep appending past the fold, then drain. The
    // feed has to (1) deliver the erasure's deletion half exactly once
    // even though the tombstones were folded away inside the consumed
    // range, (2) NOT re-deliver the fold's rewritten survivors as
    // inserts (a duplicate row here is a hash mismatch), and (3) keep
    // delivering post-fold appends — INCLUDING the erased users' NEW
    // week-4 events: the primary's fold cleared its tombstones, so
    // those rows are live on the primary, and the mirror's collision
    // fold (CdcSync.mirrorTable) must re-admit them rather than let
    // its own value-keyed mask suppress the keys forever. The oracle
    // is therefore the primary's TRUE live content: weeks 1-3 minus
    // the erased users, plus week 4 in full.
    QueryDef(
      "q_tx_mirror_fold",
      t => {
        import graft.operators.Stages
        val root = Stages.tempDir(t.spark, s"tx_mirror_fold:${t.dir}") { d =>
          val store = new graft.streaming.EventStore(d)
          val weeks = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22")
          weeks.sliding(2).foreach { case Seq(lo, hi) =>
            store.appendFacts(t.events.filter(
              col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp")))
          }
          val factDir = s"$d/fact_events"
          val mirror = s"$d/fact_mirror"
          val ckpt = s"$d/mirror_ckpt"
          val q1 = graft.streaming.CdcSync.mirrorTable(
            t.spark, factDir, mirror, ckpt, keyCols = Seq("user_id"))
          try q1.processAllAvailable() finally q1.stop()
          store.eraseUsersDeferred(Seq(3L, 7L))
          graft.sources.TxTable.foldDeletes(t.spark, factDir)
          store.appendFacts(t.events.filter(
            col("ts") >= lit("2024-01-22").cast("timestamp") &&
              col("ts") < lit("2024-01-31").cast("timestamp")))
          val q2 = graft.streaming.CdcSync.mirrorTable(
            t.spark, factDir, mirror, ckpt, keyCols = Seq("user_id"))
          try q2.processAllAvailable() finally q2.stop()
        }
        graft.sources.TxTable.read(t.spark, s"$root/fact_mirror")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, user_id, event_type, value,
          strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          AND ts < TIMESTAMP '2024-01-31 00:00:00'
          AND (user_id NOT IN (3, 7)
               OR ts >= TIMESTAMP '2024-01-22 00:00:00')
        ORDER BY event_id""")),

    // SCHEMA EVOLUTION on the transactional table, oracle-gated: a
    // long-lived pipeline table gains a column mid-life (the
    // reference's fixed DDL never alters, but a 100 TB table lives for
    // years — Delta's additive mergeSchema case). The base commit
    // carries three columns; a widened delta appends a fourth; the
    // union read serves old rows with NULL in the new column straight
    // from the schema-on-read scan — no backfill rewrite of history.
    // The oracle replays the same split with an explicit NULL column,
    // so the gate asserts the widened read is exactly the union.
    // (Drop/retype refusal and new-column stats/bloom behavior are
    // spec-pinned in TxTableSpec.)
    QueryDef(
      "q_tx_schema_evolution",
      t => {
        import graft.operators.Stages
        import graft.sources.TxTable
        val root = Stages.tempDir(t.spark, s"tx_evolve:${t.dir}") { d =>
          val dir = s"$d/orders_tx"
          val base = t.orders.filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          TxTable.init(t.spark, dir, base.schema)
          TxTable.append(t.spark, dir, base)
          TxTable.append(t.spark, dir,
            t.orders.filter(col("o_orderkey") % 2 === 1)
              .select(col("o_orderkey"), col("o_custkey"),
                col("o_totalprice"), col("o_orderpriority")))
        }
        TxTable.read(t.spark, s"$root/orders_tx")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice,
          CAST(NULL AS VARCHAR) AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
        ORDER BY o_orderkey""")),

    // The commit log AS A STREAM, oracle-gated end-to-end: the same
    // week-sliced fact store is consumed through the graft-txtable
    // Structured Streaming source (sources/TxTableStream.scala — the
    // reference's Kafka→incremental-aggregate pipeline with the
    // TxTable as the topic, streaming/consumer.py:61-96), paced to two
    // commits per micro-batch so the fold genuinely spans batches, and
    // each batch's exact decimal partials fold into per-type running
    // totals. The oracle replays a one-shot GROUP BY over the same
    // window, so the gate asserts streamed-incremental == batch — at
    // query granularity, not just in specs.
    QueryDef(
      "q_tx_stream_agg",
      t => {
        import graft.operators.Stages
        val root = Stages.tempDir(t.spark, s"tx_facts:${t.dir}") { d =>
          val store = new graft.streaming.EventStore(d)
          val weeks = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-01-31")
          weeks.sliding(2).foreach { case Seq(lo, hi) =>
            store.appendFacts(t.events.filter(
              col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp")))
          }
        }
        // Silver→gold in the engine's OWN transactional shape: each
        // micro-batch's exact decimal partials MERGE into a gold
        // TxTable under the SetTransaction replay guard (mergeIfNew —
        // the merged state and the (appId, batchId) watermark land in
        // one atomic commit), so the running state lives in the
        // table's commit log — restartable, replay-safe, inspectable,
        // no driver-side mutable map — and the oracle gate exercises
        // merge-under-stream end to end.
        import graft.sources.TxTable
        val gold = java.nio.file.Files
          .createTempDirectory("graft_q_stream_gold").toString + "/agg"
        TxTable.init(t.spark, gold, org.apache.spark.sql.types.StructType
          .fromDDL("event_type STRING, cnt BIGINT, total DECIMAL(38,2)"))
        val q = new graft.streaming.EventStore(root)
          .factStream(t.spark, maxCommitsPerTrigger = Some(2))
          .writeStream
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("graft_q_stream_ckpt").toString)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
            val part = b.groupBy(col("event_type"))
              .agg(count(lit(1)).as("cnt"),
                sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").as("total"))
            TxTable.mergeIfNew(t.spark, gold, s"gate:$gold", batchId) { cur =>
              cur.unionByName(part)
                .groupBy(col("event_type"))
                .agg(sum(col("cnt")).cast("bigint").as("cnt"),
                  sum(col("total")).cast("decimal(38,2)").as("total"))
            }
            ()
          }.start()
        q.processAllAvailable()
        q.stop()
        TxTable.read(t.spark, gold)
          .select(col("event_type"), col("cnt"),
            col("total").cast("double").as("total"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        SELECT event_type, COUNT(*) AS cnt, ${sqlSum("value")} AS total
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          AND ts < TIMESTAMP '2024-01-31 00:00:00'
        GROUP BY 1 ORDER BY 1""")),

    // The EXACTLY-ONCE sink, oracle-gated end-to-end: the same fact
    // store streams THROUGH `writeStream.format("graft-txtable")`
    // (sources/TxTableStream.scala TxTableSink — DeltaSink's
    // watermark-in-manifest commit) into a gold TxTable, then the gate
    // aggregates the SUNK table. Three runs stress the replay guard:
    // the stream, a restart from the same checkpoint (nothing new →
    // nothing lands), and a FRESH-checkpoint run with the same
    // txnAppId — batch ids replay from 0 and every one must be refused
    // by the manifest watermark. Any duplicate row doubles a count and
    // fails the oracle hash, so exactly-once is asserted at query
    // granularity, not just in specs.
    QueryDef(
      "q_tx_stream_sink",
      t => {
        import graft.operators.Stages
        val root = Stages.tempDir(t.spark, s"tx_facts:${t.dir}") { d =>
          val store = new graft.streaming.EventStore(d)
          val weeks = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-01-31")
          weeks.sliding(2).foreach { case Seq(lo, hi) =>
            store.appendFacts(t.events.filter(
              col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp")))
          }
        }
        val gold = java.nio.file.Files
          .createTempDirectory("graft_q_sink").toString + "/gold"
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_q_sink_ckpt").toString
        def run(checkpoint: String): Unit = {
          val q = new graft.streaming.EventStore(root)
            .factStream(t.spark, maxCommitsPerTrigger = Some(2))
            .writeStream.format("graft-txtable")
            .option("txnAppId", s"gate:$gold")
            .option("checkpointLocation", checkpoint)
            .start(gold)
          q.processAllAvailable()
          q.stop()
        }
        run(ckpt)
        run(ckpt) // restart: checkpoint says all batches delivered
        run(java.nio.file.Files.createTempDirectory("graft_q_sink_ckpt2")
          .toString) // cloned writer: batch ids replay, watermark refuses
        graft.sources.TxTable.read(t.spark, gold)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        SELECT event_type, COUNT(*) AS cnt, ${sqlSum("value")} AS total
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          AND ts < TIMESTAMP '2024-01-31 00:00:00'
        GROUP BY 1 ORDER BY 1""")),

    // A22/J7 (summary build) — per-customer totals from BOTH facts,
    // each aggregated separately then joined: the idiomatic fix for the
    // reference's multi-fact join inflation (init/mysql_loader.py:1080-1104
    // double-counts via the cross product; SURVEY.md §7.4.4).
    QueryDef(
      "q_customer_summary",
      t => {
        val orderAgg = t.orders.groupBy(col("o_custkey").as("custkey"))
          .agg(count(lit(1)).as("order_cnt"),
            dsum(col("o_totalprice")).as("total_spent"))
        val itemAgg = t.orders
          .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey").as("custkey"))
          .agg(count(lit(1)).as("lineitem_cnt"),
            dsum(col("l_quantity")).as("total_qty"))
        t.customer
          .join(orderAgg, col("c_custkey") === orderAgg("custkey"), "left")
          .join(itemAgg, col("c_custkey") === itemAgg("custkey"), "left")
          .select(col("c_custkey"),
            coalesce(col("order_cnt"), lit(0L)).as("order_cnt"),
            coalesce(col("total_spent"), lit(0.0)).as("total_spent"),
            coalesce(col("lineitem_cnt"), lit(0L)).as("lineitem_cnt"),
            coalesce(col("total_qty"), lit(0.0)).as("total_qty"))
          .orderBy(col("c_custkey"))
      },
      Some(s"""
        WITH orderagg AS (
          SELECT o_custkey AS custkey, COUNT(*) AS order_cnt,
            ${sqlSum("o_totalprice")} AS total_spent
          FROM orders GROUP BY 1),
        itemagg AS (
          SELECT o_custkey AS custkey, COUNT(*) AS lineitem_cnt,
            ${sqlSum("l_quantity")} AS total_qty
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY 1)
        SELECT c_custkey,
          COALESCE(order_cnt, 0) AS order_cnt,
          COALESCE(total_spent, 0.0) AS total_spent,
          COALESCE(lineitem_cnt, 0) AS lineitem_cnt,
          COALESCE(total_qty, 0.0) AS total_qty
        FROM customer
        LEFT JOIN orderagg ON c_custkey = orderagg.custkey
        LEFT JOIN itemagg ON c_custkey = itemagg.custkey
        ORDER BY c_custkey""")),

    // S11 (sample scan) made deterministic and engine-portable: md5
    // bucket of the key replaces $sample/LIMIT-without-ORDER (both
    // nondeterministic). At scale this is also the right way to sample —
    // pushdown-friendly, stable across runs and engines.
    QueryDef(
      "q_sample_customers",
      t => t.customer
        .filter(substring(md5(col("c_custkey").cast("string")), 1, 2) < "14")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey")),
      Some("""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2) < '14'
        ORDER BY c_custkey""")),

    // ROLLUP hierarchy totals (beyond-reference warehouse staple): one
    // pass produces (region, nation), per-region, and grand-total rows —
    // replacing three separate aggregations. grouping() disambiguates
    // rollup NULLs from data NULLs.
    QueryDef(
      "q_rollup_revenue",
      t => t.customer
        .join(t.nation, col("c_nationkey") === col("n_nationkey"))
        .join(t.region, col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("customer_cnt"),
          dsum(col("c_acctbal")).as("total_acctbal"),
          grouping(col("r_name")).cast("long").as("is_total"),
          grouping(col("n_name")).cast("long").as("is_region_total"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first),
      Some(s"""
        SELECT r_name, n_name,
          COUNT(*) AS customer_cnt,
          ${sqlSum("c_acctbal")} AS total_acctbal,
          CAST(GROUPING(r_name) AS BIGINT) AS is_total,
          CAST(GROUPING(n_name) AS BIGINT) AS is_region_total
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
        ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")),

    // CUBE (all 2^k slices at once) — completes the grouping-sets family
    // next to ROLLUP: order counts and revenue by status × priority plus
    // both one-dimensional margins and the grand total, disambiguated by
    // GROUPING flags. Same one-pass partial-agg shape as a plain
    // groupBy: Spark expands the grouping sets BEFORE the exchange, so
    // each mapper emits 4 partials per row and the shuffle still carries
    // only (slice, key) aggregates.
    QueryDef(
      "q_cube_orders",
      t => t.orders
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("order_cnt"),
          dsum(col("o_totalprice")).as("revenue"),
          grouping(col("o_orderstatus")).cast("long").as("status_margin"),
          grouping(col("o_orderpriority")).cast("long").as("priority_margin"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some(s"""
        SELECT o_orderstatus, o_orderpriority,
          COUNT(*) AS order_cnt,
          ${sqlSum("o_totalprice")} AS revenue,
          CAST(GROUPING(o_orderstatus) AS BIGINT) AS status_margin,
          CAST(GROUPING(o_orderpriority) AS BIGINT) AS priority_margin
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    // Exact percentiles (§2.8 statistics family): sort-based linear
    // interpolation — same definition as the oracle's quantile_cont, so
    // values are engine-identical (approx sketches would not be).
    QueryDef(
      "q_percentiles",
      // Exact grouped percentiles WITHOUT the buffering aggregate:
      // Spark's `percentile` holds every group value in one aggregation
      // buffer (a fifth of the fact table per buffer here — OOM at
      // scale); RankOps.exactPercentilesBy ranks (group, value) in one
      // distributed range sort where a big group SPANS partitions, then
      // reads back only the boundary ranks. The exact values ride as
      // round-trippable literals and round in-engine.
      t => {
        val stats = graft.operators.RankOps.exactPercentilesBy(
          t.orders, col("o_orderpriority"), col("o_totalprice"), Seq(0.5, 0.9))
        val rows = stats.toSeq
          .map { case (g, (n, p)) => (g.asInstanceOf[String], p(0.5), p(0.9), n) }
          .sortBy(_._1)
        import t.spark.implicits._
        rows.toDF("o_orderpriority", "__p50", "__p90", "order_cnt")
          .selectExpr("o_orderpriority",
            "round(__p50, 6) AS median_price",
            "round(__p90, 6) AS p90_price",
            "CAST(order_cnt AS BIGINT) AS order_cnt")
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        SELECT o_orderpriority,
          round(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
          round(quantile_cont(o_totalprice, 0.9), 6) AS p90_price,
          COUNT(*) AS order_cnt
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // S2 (calendar/range source) + A23 zero-fill: generated day dimension
    // for 1996 with derived attributes, left-joined to order counts.
    // Ref: init/mysql_loader.py:243-288.
    QueryDef(
      "q_calendar_days",
      t => {
        val days = t.spark.sql(
          """SELECT explode(sequence(DATE'1996-01-01', DATE'1996-12-31',
            |       INTERVAL 1 DAY)) AS d""".stripMargin)
          .select(
            date_format(col("d"), "yyyy-MM-dd").as("day"),
            quarter(col("d")).cast("long").as("q"),
            date_format(col("d"), "MMMM").as("month_name"),
            dayofweek(col("d")).cast("long").as("dow"))
        val counts = t.orders
          .groupBy(date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("order_cnt"))
        days.join(counts, Seq("day"), "left")
          .na.fill(0, Seq("order_cnt"))
          .orderBy(col("day"))
      },
      Some("""
        WITH days AS (
          SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS day,
            CAST(quarter(d) AS BIGINT) AS q,
            monthname(d) AS month_name,
            CAST(dayofweek(d) + 1 AS BIGINT) AS dow
          FROM (SELECT unnest(generate_series(DATE '1996-01-01',
                  DATE '1996-12-31', INTERVAL 1 DAY)) d)),
        counts AS (
          SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
            COUNT(*) AS order_cnt
          FROM orders GROUP BY 1)
        SELECT day, q, month_name, dow, COALESCE(order_cnt, 0) AS order_cnt
        FROM days LEFT JOIN counts USING (day)
        ORDER BY day""")),

    // Z-score anomaly counts per event type: mean/std from exact decimal
    // sums (sum, sum of squares — one map-side-combined pass), outliers =
    // |value − mean| > 3σ counted in a second pass against the
    // broadcast-size per-type stats. Both passes shuffle only the 5-row
    // type key space.
    QueryDef(
      "q_events_anomaly_zscore",
      t => {
        val stats = t.events.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("value").cast("decimal(28,10)")).as("s1"),
            sum((col("value") * col("value")).cast("decimal(28,10)")).as("s2"))
          // Variance math in DOUBLE on top of the exact decimal sums:
          // decimal×decimal precision/rounding rules differ between
          // engines, identical IEEE ops on identical inputs do not.
          // NULLIF(n-1, 0): a singleton group is 0/0, where Spark's
          // double division yields NULL but DuckDB yields NaN — the
          // explicit NULL makes both engines agree (std undefined).
          .selectExpr("event_type", "n",
            "CAST(s1 AS DOUBLE) / n AS mean",
            "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / nullif(n - 1, 0)) AS std")
        t.events
          .join(broadcast(stats), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(
            max(col("n")).as("n"),
            round(max(col("mean")), 6).as("mean"),
            round(max(col("std")), 6).as("std"),
            count(when(abs(col("value") - col("mean")) > lit(3) * col("std"), lit(1)))
              .as("outlier_cnt"))
          .selectExpr("event_type", "CAST(n AS BIGINT) AS n", "mean", "std",
            "CAST(outlier_cnt AS BIGINT) AS outlier_cnt")
          .orderBy(col("event_type"))
      },
      Some("""
        WITH stats AS (
          SELECT event_type, count(*) AS n,
                 SUM(CAST(value AS DECIMAL(28,10))) AS s1,
                 SUM(CAST(value * value AS DECIMAL(28,10))) AS s2
          FROM events GROUP BY event_type
        ),
        st AS (
          SELECT event_type, n,
                 CAST(s1 AS DOUBLE) / n AS mean,
                 sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / nullif(n - 1, 0)) AS std
          FROM stats
        )
        SELECT e.event_type,
               CAST(max(st.n) AS BIGINT) AS n,
               round(max(st.mean), 6) AS mean,
               round(max(st.std), 6) AS std,
               CAST(count(CASE WHEN abs(e.value - st.mean) > 3 * st.std THEN 1 END) AS BIGINT) AS outlier_cnt
        FROM events e JOIN st USING (event_type)
        GROUP BY e.event_type
        ORDER BY e.event_type""")),

    // RFM segmentation: recency / frequency / monetary quintiles per
    // customer (exact ntile semantics over deterministic orderings,
    // custkey tiebreak), reported as segment sizes. Each quintile is
    // RankOps.withGlobalNtile — a distributed range sort + map-side
    // tile arithmetic on the exact global row number — because the
    // unpartitioned `ntile().over(Window.orderBy(...))` formulation
    // collapses to ONE task sorting all |customers| aggregates: fine at
    // sf0.1, a straight OOM at a billion customers. The oracle keeps
    // the ntile formulation (equal by construction: same unique total
    // order, same boundary arithmetic; RankOpsSpec asserts equality).
    QueryDef(
      "q_customer_rfm",
      t => {
        val perCust = t.orders.groupBy(col("o_custkey"))
          .agg(
            max(col("o_orderdate")).as("last_order"),
            count(lit(1)).as("freq"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary"))
        val caches = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
        val scored = {
          import graft.operators.RankOps.withGlobalNtileTracked
          val r = withGlobalNtileTracked(perCust,
            Seq(col("last_order").desc, col("o_custkey")), "r_score", 5, 0, caches)
          val rf = withGlobalNtileTracked(r,
            Seq(col("freq").desc, col("o_custkey")), "f_score", 5, 0, caches)
          withGlobalNtileTracked(rf,
            Seq(col("monetary").desc, col("o_custkey")), "m_score", 5, 0, caches)
        }
        val out = scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
          .agg(count(lit(1)).as("customers"),
            dsum(col("monetary")).as("segment_value"))
          .selectExpr("CAST(r_score AS BIGINT) AS r_score",
            "CAST(f_score AS BIGINT) AS f_score",
            "CAST(m_score AS BIGINT) AS m_score",
            "CAST(customers AS BIGINT) AS customers", "segment_value")
          .orderBy(col("r_score"), col("f_score"), col("m_score"))
        graft.CacheJanitor.afterTerminalAction(out, caches.toSeq)
      },
      Some(s"""
        WITH per_cust AS (
          SELECT o_custkey, max(o_orderdate) AS last_order,
                 count(*) AS freq,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
          FROM orders GROUP BY o_custkey
        ),
        scored AS (
          SELECT o_custkey, monetary,
                 ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
                 ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
                 ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
          FROM per_cust
        )
        SELECT CAST(r_score AS BIGINT) AS r_score,
               CAST(f_score AS BIGINT) AS f_score,
               CAST(m_score AS BIGINT) AS m_score,
               CAST(count(*) AS BIGINT) AS customers,
               ${sqlSum("monetary")} AS segment_value
        FROM scored
        GROUP BY r_score, f_score, m_score
        ORDER BY r_score, f_score, m_score"""))
  )
}
