package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables

/** The SQLite-SQL query surface the reference delegates to its embedded
  * engine (SURVEY §2.2), re-expressed Spark-first: declarative
  * DataFrame/Spark-SQL plans that Catalyst optimizes (pushdown, pruning,
  * broadcast joins, AQE). Each query has a DuckDB oracle in
  * its [[Gate]] with identical column names/types.
  *
  * Numeric determinism policy: every SUM/AVG over doubles is computed as
  * `SUM(CAST(x AS DECIMAL(18,s)))` then cast back to double. Decimal
  * summation is exact and order-independent, so Spark (partial/final
  * aggregation across partitions) and DuckDB (single-node) produce
  * bit-identical doubles — required for the driver's hash compare.
  */
object RelationalQueries {

  /** Exact, order-independent sum of a double column via decimal. */
  private def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  val gates: Seq[Gate] = Seq(
    // ---- Aggregation: TPC-H Q1-style pricing summary (GROUP BY, SUM, AVG, COUNT)
    Gate("q01_pricing_agg", Some(
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))((s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-12-01"))
      l.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
          (dsum(col("l_discount"), 6) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- Filter predicates: BETWEEN, IN, LIKE, NOT, AND/OR (pushed to scan)
    Gate("q02_filter_pred", Some(
      """SELECT p_partkey, p_name, p_brand, p_retailprice FROM part
        |WHERE p_size BETWEEN 10 AND 30
        |  AND p_brand IN ('Brand#1','Brand#5','Brand#14','Brand#21','Brand#25')
        |  AND p_name LIKE '%wid%'
        |  AND NOT (p_retailprice < 100.0)
        |  AND p_type <> 'PROMO'
        |ORDER BY p_partkey""".stripMargin))((s, dir) => {
      Tables.load(s, dir, "part")
        .filter(col("p_size").between(10, 30)
          && col("p_brand").isin("Brand#1", "Brand#5", "Brand#14", "Brand#21", "Brand#25")
          && col("p_name").like("%wid%")
          && !(col("p_retailprice") < 100.0)
          && col("p_type") =!= "PROMO")
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_retailprice"))
        .orderBy(col("p_partkey"))
    }),

    // ---- 6-way join (TPC-H Q5-style): dims broadcast, fact-side shuffle only on l_orderkey
    Gate("q03_join_revenue", Some(
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin))((s, dir) => {
      val lineitem = Tables.load(s, dir, "lineitem")
      val orders = Tables.load(s, dir, "orders")
      val customer = broadcast(Tables.load(s, dir, "customer"))
      val supplier = broadcast(Tables.load(s, dir, "supplier"))
      val nation = broadcast(Tables.load(s, dir, "nation"))
      val region = broadcast(Tables.load(s, dir, "region"))
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(supplier, col("l_suppkey") === col("s_suppkey")
          && col("s_nationkey") === col("c_nationkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ---- LEFT JOIN + IS NULL (customers with no big orders)
    Gate("q04_left_join_null", Some(
      """SELECT DISTINCT c_custkey, c_name FROM customer
        |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
        |  ON c_custkey = o.o_custkey
        |WHERE o.o_orderkey IS NULL ORDER BY c_custkey""".stripMargin))((s, dir) => {
      val customer = Tables.load(s, dir, "customer")
      val orders = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 300000.0)
      customer.join(orders, col("c_custkey") === col("o_custkey"), "left")
        .filter(col("o_orderkey").isNull)
        .select(col("c_custkey"), col("c_name"))
        .distinct()
        .orderBy(col("c_custkey"))
    }),

    // ---- EXISTS correlated subquery (Catalyst decorrelates → left semi join)
    Gate("q05_exists_semi", Some(
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("orders", "lineitem"))
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders o
              |WHERE EXISTS (SELECT 1 FROM lineitem l
              |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
              |ORDER BY o_orderkey""".stripMargin)
    }),

    // ---- NOT EXISTS (→ left anti join)
    Gate("q06_not_exists_anti", Some(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("customer", "orders"))
      s.sql("""SELECT c_custkey, c_name FROM customer c
              |WHERE NOT EXISTS (SELECT 1 FROM orders o
              |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
              |ORDER BY c_custkey""".stripMargin)
    }),

    // ---- CROSS JOIN (tiny dims only; never on fact tables at scale)
    Gate("q07_cross_join", Some(
      """SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
        |ORDER BY r_name, n_name""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("region", "nation"))
      s.sql("""SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
              |ORDER BY r_name, n_name""".stripMargin)
    }),

    // ---- Window: rank / dense_rank / row_number over partition
    Gate("q08_window_rank", Some(
      """SELECT * FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    CAST(RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rnk,
        |    CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS drnk,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn
        |  FROM customer)
        |WHERE rn <= 5 ORDER BY c_mktsegment, rn""".stripMargin))((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.load(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 5)
        .orderBy(col("c_mktsegment"), col("rn"))
    }),

    // ---- Window: frame spec (ROWS BETWEEN), lag
    Gate("q09_window_frame", Some(
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
        |  COUNT(*) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS win_cnt,
        |  LAG(o_totalprice, 1) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin))((s, dir) => {
      val ord = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val framed = ord.rowsBetween(-2, Window.currentRow)
      Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(framed)
            .cast(DoubleType).as("moving_sum"),
          count(lit(1)).over(framed).as("win_cnt"),
          lag(col("o_totalprice"), 1).over(ord).as("prev_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- window navigation: FIRST_VALUE / LAST_VALUE / NTH_VALUE / LEAD
    // (SQLite window-function surface; full frame makes last/nth well-
    // defined, orderkey tie-break makes every value deterministic)
    Gate("q32_window_nav", Some(
      """SELECT o_custkey, o_orderkey,
        |  FIRST_VALUE(o_totalprice) OVER w_full AS first_price,
        |  LAST_VALUE(o_totalprice) OVER w_full AS last_price,
        |  NTH_VALUE(o_totalprice, 2) OVER w_full AS second_price,
        |  LEAD(o_orderkey, 1) OVER w_ord AS next_orderkey
        |FROM orders
        |WINDOW
        |  w_ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin))((s, dir) => {
      val ord = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(full).as("first_price"),
          last(col("o_totalprice")).over(full).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(full).as("second_price"),
          lead(col("o_orderkey"), 1).over(ord).as("next_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- LATERAL correlated subquery: top-2 orders per customer — the
    // modern SQL form of per-group top-k (Spark 4 + DuckDB both native)
    Gate("q33_lateral", Some(
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("customer", "orders"))
      s.sql("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
              |FROM customer c,
              |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
              |         WHERE o_custkey = c.c_custkey
              |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
              |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin)
    }),

    // ---- aggregate FILTER clause (SQL:2003; SQLite supports it too)
    Gate("q34_agg_filter", Some(
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_total,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_total
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("orders"))
      s.sql("""SELECT o_orderpriority,
              |  COUNT(*) AS n_total,
              |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_total
              |FROM orders GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    }),

    // ---- ORDER BY multi-key + LIMIT + OFFSET (Spark TakeOrderedAndProject)
    Gate("q10_topk_offset", Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 10""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("orders"))
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders
              |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 10""".stripMargin)
    }),

    // ---- UNION ALL + UNION-distinct semantics
    Gate("q11_union", Some(
      """SELECT nationkey, COUNT(*) AS cnt FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("customer", "supplier"))
      s.sql("""SELECT nationkey, COUNT(*) AS cnt FROM (
              |  SELECT c_nationkey AS nationkey FROM customer
              |  UNION ALL
              |  SELECT s_nationkey AS nationkey FROM supplier)
              |GROUP BY nationkey ORDER BY nationkey""".stripMargin)
    }),

    // ---- INTERSECT / EXCEPT
    Gate("q12_intersect_except", Some(
      """SELECT 'both' AS tag, nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT SELECT s_nationkey AS nationkey FROM supplier)
        |UNION ALL
        |SELECT 'cust_only' AS tag, nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT SELECT s_nationkey AS nationkey FROM supplier)
        |ORDER BY tag, nationkey""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("customer", "supplier"))
      s.sql("""SELECT 'both' AS tag, nationkey FROM (
              |  SELECT c_nationkey AS nationkey FROM customer
              |  INTERSECT SELECT s_nationkey AS nationkey FROM supplier)
              |UNION ALL
              |SELECT 'cust_only' AS tag, nationkey FROM (
              |  SELECT c_nationkey AS nationkey FROM customer
              |  EXCEPT SELECT s_nationkey AS nationkey FROM supplier)
              |ORDER BY tag, nationkey""".stripMargin)
    }),

    // ---- CTEs: multiple + join
    Gate("q13_cte_join", Some(
      """WITH big_orders AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY o_custkey),
        |seg AS (SELECT c_custkey, c_mktsegment FROM customer)
        |SELECT s.c_mktsegment, COUNT(*) AS n_customers,
        |       CAST(SUM(CAST(b.total AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM big_orders b JOIN seg s ON b.o_custkey = s.c_custkey
        |WHERE b.n_orders >= 2
        |GROUP BY s.c_mktsegment ORDER BY s.c_mktsegment""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("orders", "customer"))
      s.sql("""WITH big_orders AS (
              |  SELECT o_custkey, COUNT(*) AS n_orders,
              |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
              |  FROM orders GROUP BY o_custkey),
              |seg AS (SELECT c_custkey, c_mktsegment FROM customer)
              |SELECT s.c_mktsegment, COUNT(*) AS n_customers,
              |       CAST(SUM(CAST(b.total AS DECIMAL(18,2))) AS DOUBLE) AS revenue
              |FROM big_orders b JOIN seg s ON b.o_custkey = s.c_custkey
              |WHERE b.n_orders >= 2
              |GROUP BY s.c_mktsegment ORDER BY s.c_mktsegment""".stripMargin)
    }),

    // ---- Recursive CTE (reference: filesql_test.go:2728-2788)
    Gate("q14_recursive_cte", Some(
      """WITH RECURSIVE nums(n) AS (
        |  SELECT 1 UNION ALL SELECT n + 1 FROM nums WHERE n < 50)
        |SELECT n, n * n AS n_sq FROM nums ORDER BY n""".stripMargin))((s, _) => {
      s.sql("""WITH RECURSIVE nums(n) AS (
              |  SELECT 1 UNION ALL SELECT n + 1 FROM nums WHERE n < 50)
              |SELECT n, n * n AS n_sq FROM nums ORDER BY n""".stripMargin)
    }),

    // ---- Scalar function battery (SURVEY §2.2 exercised list)
    Gate("q15_scalar_funcs", Some(
      """SELECT p_partkey,
        |  UPPER(p_name) AS up_name,
        |  LOWER(p_brand) AS low_brand,
        |  SUBSTR(p_name, 1, 5) AS name5,
        |  CAST(INSTR(p_name, 'widget') AS INTEGER) AS pos_widget,
        |  REPLACE(p_type, 'SMALL', 'S') AS rep_type,
        |  TRIM(CONCAT('  ', p_name, '  ')) AS trimmed,
        |  CAST(LENGTH(p_name) AS INTEGER) AS name_len,
        |  ABS(p_size - 25) AS size_dev,
        |  ROUND(p_retailprice, 3) AS price_r,
        |  COALESCE(NULLIF(p_brand, 'Brand#1'), 'other') AS brand_or,
        |  CASE WHEN p_size < 10 THEN 'small'
        |       WHEN p_size < 30 THEN 'mid' ELSE 'big' END AS size_class,
        |  p_name || '/' || p_brand AS concat_pipe,
        |  CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        |  CAST(p_size AS VARCHAR) AS size_str
        |FROM part ORDER BY p_partkey""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("part"))
      s.sql("""SELECT p_partkey,
              |  UPPER(p_name) AS up_name,
              |  LOWER(p_brand) AS low_brand,
              |  SUBSTR(p_name, 1, 5) AS name5,
              |  INSTR(p_name, 'widget') AS pos_widget,
              |  REPLACE(p_type, 'SMALL', 'S') AS rep_type,
              |  TRIM(CONCAT('  ', p_name, '  ')) AS trimmed,
              |  LENGTH(p_name) AS name_len,
              |  ABS(p_size - 25) AS size_dev,
              |  ROUND(p_retailprice, 3) AS price_r,
              |  COALESCE(NULLIF(p_brand, 'Brand#1'), 'other') AS brand_or,
              |  CASE WHEN p_size < 10 THEN 'small'
              |       WHEN p_size < 30 THEN 'mid' ELSE 'big' END AS size_class,
              |  p_name || '/' || p_brand AS concat_pipe,
              |  CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
              |  CAST(p_size AS STRING) AS size_str
              |FROM part ORDER BY p_partkey""".stripMargin)
    }),

    // ---- SQLite dialect shim: strftime (native date_format expansion)
    Gate("q16_strftime", Some(
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY month ORDER BY month""".stripMargin))((s, dir) => {
      graft.dialect.SqliteDialect.register(s)
      Tables.register(s, dir, Seq("orders"))
      s.sql("""SELECT strftime('%Y-%m', o_orderdate) AS month, COUNT(*) AS n,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
              |FROM orders GROUP BY month ORDER BY month""".stripMargin)
    }),

    // ---- SQLite dialect shim: julianday (arithmetic expansion)
    Gate("q17_julianday", Some(
      """SELECT o_orderkey,
        |  epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400.0 + 2440587.5 AS jd
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin))((s, dir) => {
      graft.dialect.SqliteDialect.register(s)
      Tables.register(s, dir, Seq("orders"))
      s.sql("""SELECT o_orderkey, julianday(o_orderdate) AS jd
              |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin)
    }),

    // ---- group_concat (deterministic variant: sorted collect_list)
    Gate("q18_group_concat", Some(
      """SELECT CAST(n_regionkey AS INTEGER) AS n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin))((s, dir) => {
      Tables.load(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("names"))
        .orderBy(col("n_regionkey"))
    }),

    // ---- HAVING
    Gate("q19_having", Some(
      """SELECT l_orderkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem GROUP BY l_orderkey
        |HAVING COUNT(*) >= 5 AND SUM(CAST(l_quantity AS DECIMAL(18,2))) > 100
        |ORDER BY l_orderkey""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("lineitem"))
      s.sql("""SELECT l_orderkey, COUNT(*) AS n_items,
              |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
              |FROM lineitem GROUP BY l_orderkey
              |HAVING COUNT(*) >= 5 AND SUM(CAST(l_quantity AS DECIMAL(18,2))) > 100
              |ORDER BY l_orderkey""".stripMargin)
    }),

    // ---- COUNT(DISTINCT) — exact distinct (expand + two-phase agg in Spark)
    Gate("q20_count_distinct", Some(
      """SELECT o_orderstatus,
        |  COUNT(DISTINCT o_custkey) AS n_cust,
        |  COUNT(DISTINCT o_orderpriority) AS n_prio,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- Scalar subquery in WHERE (threshold exact via decimal avg)
    Gate("q21_scalar_subquery", Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1.5
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("orders"))
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders
              |WHERE o_totalprice > (
              |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1.5
              |  FROM orders)
              |ORDER BY o_orderkey""".stripMargin)
    }),

    // ---- Conditional aggregation (CASE WHEN inside SUM)
    Gate("q22_case_pivot", Some(
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))((s, dir) => {
      val e = Tables.load(s, dir, "events")
      e.groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
          sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0)).cast(DecimalType(18, 2))).cast(DoubleType).as("purchase_value"))
        .orderBy(col("user_id"))
    }),

    // ---- JSON extraction (SQLite json_extract ≈ Spark get_json_object)
    Gate("q23_json_extract", Some(
      """SELECT user_id,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("events"))
      s.sql("""SELECT user_id,
              |  SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS k_sum,
              |  COUNT(*) AS n
              |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    }),

    // ---- IN (subquery)
    Gate("q24_in_subquery", Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
        |ORDER BY c_custkey""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("customer", "nation"))
      s.sql("""SELECT c_custkey, c_name FROM customer
              |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
              |ORDER BY c_custkey""".stripMargin)
    }),

    // ---- Date part extraction + group
    Gate("q25_date_parts", Some(
      """SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
        |  CAST(MONTH(o_orderdate) AS INTEGER) AS mo,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice"), 2).as("total"))
        .orderBy(col("yr"), col("mo"))
    }),

    // ---- Window extras: RANGE frame (decimal bounds need the SQL form —
    // the Scala rangeBetween API is Long-only), ntile, percent_rank,
    // cume_dist
    Gate("q28_window_extras", Some(
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume,
        |  COUNT(*) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
        |    RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS peers_within_1000
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("customer"))
      s.sql("""SELECT c_mktsegment, c_custkey, c_acctbal,
              |  NTILE(4) OVER w AS quartile,
              |  PERCENT_RANK() OVER w AS pct_rank,
              |  CUME_DIST() OVER w AS cume,
              |  COUNT(*) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
              |    RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS peers_within_1000
              |FROM customer
              |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
              |ORDER BY c_mktsegment, c_custkey""".stripMargin)
    }),

    // ---- Date arithmetic: datediff + interval shift across a join
    Gate("q31_date_arith", Some(
      """SELECT (o_orderdate + INTERVAL 30 DAY) < l_shipdate AS late,
        |  COUNT(*) AS n,
        |  CAST(MIN(date_diff('day', o_orderdate, l_shipdate)) AS INTEGER) AS min_days,
        |  CAST(MAX(date_diff('day', o_orderdate, l_shipdate)) AS INTEGER) AS max_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY late""".stripMargin))((s, dir) => {
      val lineitem = Tables.load(s, dir, "lineitem")
      val orders = Tables.load(s, dir, "orders")
      lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(datediff(col("l_shipdate"), col("o_orderdate")).as("ship_days"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS") < col("l_shipdate")).as("late"))
        .groupBy(col("late"))
        .agg(count(lit(1)).as("n"),
          min(col("ship_days")).as("min_days"), max(col("ship_days")).as("max_days"))
        .orderBy(col("late"))
    }),

    // ---- Correlated scalar subqueries in SELECT (Catalyst decorrelates
    // both into one outer join + aggregate; reference self-join pattern
    // filesql.go:62-75)
    Gate("q30_correlated_select", Some(
      """SELECT c_custkey,
        |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   FROM orders o WHERE o.o_custkey = c.c_custkey) AS total_spend
        |FROM customer c ORDER BY c_custkey""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("customer", "orders"))
      s.sql("""SELECT c_custkey,
              |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
              |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |   FROM orders o WHERE o.o_custkey = c.c_custkey) AS total_spend
              |FROM customer c ORDER BY c_custkey""".stripMargin)
    }),

    // ---- Exact percentiles (continuous interpolation) per group
    Gate("q29_percentiles", Some(
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))((s, dir) => {
      Tables.register(s, dir, Seq("orders"))
      s.sql("""SELECT o_orderstatus,
              |  percentile(o_totalprice, 0.5) AS p50,
              |  percentile(o_totalprice, 0.9) AS p90,
              |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
              |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // ---- PIVOT (engine superset): order counts by status per priority
    Gate("q27_pivot", Some(
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderpriority"))
    }),

    // ---- ROLLUP grouping sets (Spark/engine superset; absent in reference)
    Gate("q26_rollup", Some(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin))((s, dir) => {
      Tables.load(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    })
  )
}
