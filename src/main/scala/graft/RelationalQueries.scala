package graft

/** The relational query suite — the surface the reference delegates to its
  * SQL engines via `transform`/`run_raw_sql` (SURVEY §2.2-2.3). Each query
  * is ONE dialect-neutral ANSI SQL string executed verbatim by both Spark
  * (through [[GraftSession.sql]], i.e. the transform pass-through path) and
  * the DuckDB oracle — the strongest possible correctness statement for a
  * pass-through design.
  *
  * Numeric hygiene for bit-exact cross-engine hashing: money columns are
  * exact 2-decimal doubles, so aggregates run in integer cents
  * (`cast(round(x*100) as bigint)`) — associative, order-independent,
  * overflow-safe to ~9e16 cents — instead of float sums whose value depends
  * on partition order. Discounted revenue uses basis points → exact 1e-4
  * units. Quantities are integer-valued → exact bigint. Every output is
  * deterministically ordered by a unique key with explicit NULLS FIRST
  * (Spark and DuckDB default null order differ).
  */
object RelationalQueries {

  private val cents = "cast(round(%s * 100) as bigint)"
  private def c(col: String) = cents.format(col)

  /** A relational row: Spark runs `sql` through the transform path, and the
    * oracle is the same string. */
  private def relational(name: String, sql: String): Query =
    Query(name, (spark, sfDir) => {
      Tables.registerAll(spark, sfDir)
      new GraftSession(spark).sql(sql)
    }, Some(sql))

  val all: Seq[Query] = Seq(

    // TPC-H Q1 shape: scan-heavy grouped aggregation with partial aggs.
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty,
         |  cast(sum(${c("l_extendedprice")}) as bigint) AS sum_base_cents,
         |  cast(sum(${c("l_extendedprice")} * (100 - cast(round(l_discount * 100) as bigint))) as bigint) AS sum_disc_e4,
         |  cast(count(*) as bigint) AS count_order,
         |  cast(cast(sum(cast(l_quantity as bigint)) as double) / count(*) as double) AS avg_qty
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    // Filter + ORDER BY + LIMIT with a unique tiebreak — the reference's
    // flagship example DAG shape (example_dags/calculate_popular_movies.py).
    "q2_topn_filter" ->
      s"""SELECT p_partkey, p_name, p_brand, p_retailprice
         |FROM part
         |WHERE p_size >= 25 AND (p_type LIKE '%ECO%' OR p_type = 'PROMO')
         |ORDER BY p_retailprice DESC, p_partkey
         |LIMIT 10""".stripMargin,

    // 3-way join + aggregation (TPC-H Q3 shape). customer is small → Spark
    // broadcasts it; orders⋈lineitem shuffles on the join key only once.
    "q3_join_agg" ->
      s"""SELECT c_mktsegment, o_orderpriority,
         |  cast(sum(${c("l_extendedprice")} * (100 - cast(round(l_discount * 100) as bigint))) as bigint) AS revenue_e4,
         |  cast(count(*) as bigint) AS n_lines
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |GROUP BY c_mktsegment, o_orderpriority
         |ORDER BY c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    // Ranking + framed running aggregate windows, unique order keys.
    "q4_window" ->
      s"""SELECT o_orderkey, o_custkey,
         |  cast(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) as bigint) AS rn,
         |  cast(sum(${c("o_totalprice")}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS running_cents,
         |  cast(lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) as bigint) AS prev_orderkey
         |FROM orders
         |ORDER BY o_orderkey""".stripMargin,

    // Set operations (dedup semantics of INTERSECT/EXCEPT).
    "q5_setops" ->
      s"""SELECT k FROM (
         |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 1000
         |  INTERSECT
         |  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 5000
         |  UNION
         |  SELECT s_suppkey AS k FROM supplier WHERE s_acctbal < 0
         |) t
         |ORDER BY k""".stripMargin,

    // Scalar function library: string/math/conditional.
    "q6_scalar" ->
      s"""SELECT p_partkey,
         |  upper(p_brand) AS brand_u,
         |  lower(p_type) AS type_l,
         |  substring(p_name, 1, 8) AS name8,
         |  cast(length(p_name) as int) AS name_len,
         |  cast(abs(p_size - 25) as int) AS size_dev,
         |  cast(p_size % 7 as int) AS size_mod,
         |  CASE WHEN p_retailprice > 1500 THEN 'high' WHEN p_retailprice > 800 THEN 'mid' ELSE 'low' END AS price_band,
         |  p_brand || '#' || cast(p_size as bigint) AS brand_size
         |FROM part
         |ORDER BY p_partkey""".stripMargin,

    // Date/time functions over the events table (ns timestamps).
    "q7_datetime" ->
      s"""SELECT cast(year(ts) as int) AS y,
         |  cast(month(ts) as int) AS m,
         |  cast(day(ts) as int) AS d,
         |  event_type,
         |  cast(count(*) as bigint) AS n,
         |  cast(sum(${c("value")}) as bigint) AS value_cents
         |FROM events
         |GROUP BY year(ts), month(ts), day(ts), event_type
         |ORDER BY y, m, d, event_type""".stripMargin,

    // Grouping sets / rollup with explicit null ordering.
    "q8_rollup" ->
      s"""SELECT r_name, n_name,
         |  cast(count(*) as bigint) AS n_customers,
         |  cast(sum(${c("c_acctbal")}) as bigint) AS acctbal_cents
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)
         |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    // Correlated existence predicates → semi/anti joins in Catalyst.
    "q9_exists" ->
      s"""SELECT c_custkey, c_name
         |FROM customer c
         |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 20000)
         |  AND NOT EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
         |                  AND o2.o_totalprice > 90000)
         |ORDER BY c_custkey""".stripMargin,

    // Top-k per group via window + filter (no cross-engine LIMIT ties).
    "q10_topk_group" ->
      s"""SELECT c_mktsegment, o_orderkey, o_totalprice, rk FROM (
         |  SELECT c_mktsegment, o_orderkey, o_totalprice,
         |    cast(row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) as bigint) AS rk
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |) t WHERE rk <= 3
         |ORDER BY c_mktsegment, rk""".stripMargin,

    // Subquery + HAVING + join on aggregated result.
    "q11_having" ->
      s"""SELECT o_custkey, cast(count(*) as bigint) AS n_orders,
         |  cast(sum(${c("o_totalprice")}) as bigint) AS total_cents
         |FROM orders
         |GROUP BY o_custkey
         |HAVING count(*) >= 15
         |ORDER BY o_custkey""".stripMargin,

    // Recursive CTE (Spark 4 WITH RECURSIVE): month spine × year, gap-fill
    // months with zero orders via left join.
    "q13_recursive_spine" ->
      s"""WITH RECURSIVE months(m) AS (
         |  SELECT 1
         |  UNION ALL
         |  SELECT m + 1 FROM months WHERE m < 12
         |)
         |SELECT cast(ys.y as int) AS y, cast(months.m as int) AS m,
         |  cast(count(o_orderkey) as bigint) AS n_orders
         |FROM months
         |CROSS JOIN (SELECT DISTINCT year(o_orderdate) AS y FROM orders) ys
         |LEFT JOIN orders ON month(o_orderdate) = months.m AND year(o_orderdate) = ys.y
         |GROUP BY ys.y, months.m
         |ORDER BY y, m""".stripMargin,

    // Explicit GROUPING SETS (beyond ROLLUP): mixed granularities + grand
    // total in one pass.
    "q14_grouping_sets" ->
      s"""SELECT r_name, c_mktsegment,
         |  cast(count(*) as bigint) AS n_customers,
         |  cast(sum(${c("c_acctbal")}) as bigint) AS acctbal_cents
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY GROUPING SETS ((r_name), (c_mktsegment), (r_name, c_mktsegment), ())
         |ORDER BY r_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,

    // Multi-way star join touching every dimension (join-order work for
    // the optimizer; region/nation/supplier broadcast).
    "q12_star" ->
      s"""SELECT r_name, cast(count(*) as bigint) AS n,
         |  cast(sum(cast(l_quantity as bigint)) as bigint) AS qty
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |JOIN part ON l_partkey = p_partkey
         |WHERE p_size <= 20
         |GROUP BY r_name
         |ORDER BY r_name""".stripMargin,
  ).map { case (name, sql) => relational(name, sql) }
}
