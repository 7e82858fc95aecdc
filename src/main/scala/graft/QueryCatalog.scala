package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}

import graft.etl.{Enrichment, Marts, Validation}
import graft.functions.Cols
import graft.io.Sources

/** One registered query per operator family in SURVEY.md §2 (plus scale
  * extensions registered from [[graft.ops]]). Each entry optionally carries
  * DuckDB-equivalent ANSI SQL; queries without an oracle get the driver's
  * rows-only check.
  *
  * Oracle-parity rules (see graft.functions.Cols): money sums via exact
  * decimal accumulate cast back to double; identical output aliases on both
  * sides; ties in top-k broken by a unique key.
  */
final case class CatalogEntry(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryCatalog {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** events.parquet stores ts as TIMESTAMP(MICROS), no-tz → TIMESTAMP_NTZ
    * on read (the r9 driver corpus; earlier corpora wrote TIMESTAMP(NANOS),
    * which Spark's reader rejects without the nanosAsLong legacy conf and
    * an exact integer `ts div 1000` µs rebuild — the native µs read needs
    * neither, and lands on the same NTZ µs type the rebuild produced).
    */
  def eventsTable(s: SparkSession, dir: String): DataFrame = T(s, dir, "events")

  /** Dialect-shared SQL: runs verbatim on Spark SQL and DuckDB. */
  val revenueBySegmentSql: String =
    """SELECT c_mktsegment,
      |  COUNT(DISTINCT o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** Dialect-shared GROUPING SETS with grouping() markers. */
  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())""".stripMargin

  /** Dialect-shared EXISTS / NOT EXISTS correlated subqueries. */
  val existsSubquerySql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin

  /** Dialect-shared navigation window functions. */
  val windowNavigationSql: String =
    """SELECT o_orderkey, o_custkey,
      |  first_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
      |  nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price,
      |  last_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
      |  cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_totalprice NULLS FIRST) AS price_cume
      |FROM orders""".stripMargin

  /** Dialect-shared correlated scalar subquery. */
  val scalarSubquerySql: String =
    """SELECT o_orderkey, o_totalprice,
      |  (SELECT c_name FROM customer WHERE c_custkey = o_custkey) AS customer_name
      |FROM orders
      |WHERE o_orderstatus = 'P'""".stripMargin

  /** Dialect-shared LIMIT/OFFSET page over a unique ordering. */
  val limitOffsetSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 20 OFFSET 40""".stripMargin

  /** Dialect-shared sequence-gap detection (gaps in the o_orderkey id
    * space via lead). NOTE the global-order window is one partition — fine
    * for the gate's id-space size; at 100 TB bucket ids by range first and
    * find gaps within buckets + at bucket borders.
    */
  val sequenceGapsSql: String =
    """SELECT k + 1 AS gap_start, next_k - 1 AS gap_end, next_k - k - 1 AS gap_len
      |FROM (SELECT o_orderkey AS k,
      |        lead(o_orderkey) OVER (ORDER BY o_orderkey) AS next_k
      |      FROM orders WHERE o_orderstatus = 'F') t
      |WHERE next_k > k + 1""".stripMargin

  /** Dialect-shared GROUP BY ALL. */
  val groupByAllSql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY ALL""".stripMargin

  /** Dialect-shared TPC-H Q3 shape (shipping-priority revenue; the schema
    * has no o_shippriority, so o_orderpriority stands in). Ties at the
    * LIMIT boundary broken by l_orderkey.
    */
  val tpchQ3Sql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
      |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** Dialect-shared TPC-H Q5 shape (local-supplier volume). */
  val tpchQ5Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
      |GROUP BY 1""".stripMargin

  /** Dialect-shared TPC-H Q18 shape (large-volume customers): a large IN
    * subquery over an aggregate HAVING — planned as a shuffle-free semi-join
    * of orders against the re-aggregated lineitem. Group key includes
    * o_orderkey, so the LIMIT tie-break on (total_price, o_orderkey) is
    * deterministic.
    */
  val tpchQ18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |  CAST(o_orderdate AS DATE) AS order_date,
      |  CAST(o_totalprice AS DOUBLE) AS total_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
      |GROUP BY 1, 2, 3, 4, 5
      |ORDER BY total_price DESC, o_orderkey
      |LIMIT 100""".stripMargin

  /** Dialect-shared TPC-H Q20 shape (the correlated nested-aggregate
    * subquery): suppliers who shipped > 40% of a small part's 1995 volume.
    * The schema has no partsupp, so lineitem self-correlates on l_partkey —
    * same plan shape as the original's availqty test: IN semi-join feeding
    * a grouped HAVING whose bound is a correlated scalar aggregate.
    */
  val tpchQ20Sql: String =
    """SELECT s_suppkey, s_name, n_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_suppkey IN (
      |  SELECT l1.l_suppkey FROM lineitem l1
      |  WHERE l1.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      |    AND CAST(l1.l_shipdate AS DATE) >= DATE '1995-01-01'
      |    AND CAST(l1.l_shipdate AS DATE) < DATE '1996-01-01'
      |  GROUP BY l1.l_suppkey, l1.l_partkey
      |  HAVING SUM(CAST(l1.l_quantity AS DECIMAL(18,2))) > 0.4 * (
      |    SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) FROM lineitem l2
      |    WHERE l2.l_partkey = l1.l_partkey
      |      AND CAST(l2.l_shipdate AS DATE) >= DATE '1995-01-01'
      |      AND CAST(l2.l_shipdate AS DATE) < DATE '1996-01-01'))""".stripMargin

  /** Dialect-shared TPC-H Q2 shape (minimum-cost supplier): the schema has
    * no partsupp, so per-(part, supplier) unit cost derives from lineitem as
    * MIN(extendedprice/quantity) — a pure-double division, IEEE-identical in
    * both engines, so the correlated-MIN equality is exact. Plan shape is
    * the original's: a derived supply table joined to dims, filtered by a
    * correlated scalar MIN over the same derived table. A zero-quantity
    * line has no unit cost: NULLIF makes the division NULL (skipped by
    * MIN) in both engines — under ANSI Spark a bare /0 throws while
    * DuckDB's double division yields inf, silently corrupting the MIN
    * (fuzz sweep, round 11).
    */
  val tpchQ2Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         MIN(l_extendedprice / NULLIF(l_quantity, 0)) AS ps_supplycost
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
      |FROM part JOIN ps ON p_partkey = ps_partkey
      |JOIN supplier ON s_suppkey = ps_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
      |  AND ps_supplycost = (SELECT MIN(ps2.ps_supplycost) FROM ps ps2
      |      JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
      |      JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |      JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |      WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')""".stripMargin

  /** Dialect-shared TPC-H Q4 shape (order-priority checking): EXISTS
    * semi-join against lineitem. The schema has no commit/receipt dates, so
    * "late" is shipdate > orderdate + 30 days — same semi-join plan.
    */
  val tpchQ4Sql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
      |              AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 30 DAY)
      |GROUP BY 1""".stripMargin

  /** Dialect-shared TPC-H Q11 shape (important stock): grouped HAVING
    * against an uncorrelated scalar aggregate over the same CTE (a
    * global-fraction cut). Value per (part, supplier) derives from lineitem
    * (no partsupp); both the group sums and the global sum accumulate as
    * exact decimals, and the fraction compare happens on one deterministic
    * double multiply each side.
    */
  val tpchQ11Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_7'
      |  GROUP BY 1, 2)
      |SELECT l_partkey AS ps_partkey, CAST(SUM(val) AS DOUBLE) AS part_value
      |FROM ps GROUP BY 1
      |HAVING CAST(SUM(val) AS DOUBLE) > (SELECT CAST(SUM(val) AS DOUBLE) * 0.001 FROM ps)""".stripMargin

  /** Dialect-shared TPC-H Q15 shape (top supplier): CTE view + scalar MAX
    * subquery over it. total_revenue is an exact-decimal sum cast to double
    * on both sides, so the MAX equality is exact.
    */
  val tpchQ15Sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)""".stripMargin

  /** Dialect-shared TPC-H Q16 shape (parts/supplier relationship count):
    * COUNT(DISTINCT) under a null-aware NOT IN anti-join (complaint
    * suppliers → negative account balance stands in for the comment LIKE).
    */
  val tpchQ16Sql: String =
    """SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#3' AND p_type NOT IN ('PROMO', 'ECONOMY')
      |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3""".stripMargin

  /** Dialect-shared TPC-H Q17 shape (small-quantity-order revenue): a
    * correlated scalar AVG per part. l_quantity is whole-valued, so the
    * double AVG is exact regardless of either engine's summation order, and
    * the 0.2× cut is one deterministic multiply.
    */
  val tpchQ17Sql: String =
    """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#5' AND p_type = 'SMALL'
      |  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** Dialect-shared TPC-H Q21 shape (suppliers who kept orders waiting):
    * the double-correlated EXISTS / NOT EXISTS pair on the same fact —
    * "this supplier shipped late on a multi-supplier order where no other
    * supplier was late". Late = shipdate > orderdate + 60 days (no
    * commit/receipt dates in the schema).
    */
  val tpchQ21Sql: String =
    """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F' AND n_name IN ('NATION_3', 'NATION_4', 'NATION_5')
      |  AND CAST(l1.l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |                  AND CAST(l3.l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
      |GROUP BY 1""".stripMargin

  /** Dialect-shared TPC-H Q22 shape (global sales opportunity): an
    * uncorrelated scalar-AVG cut plus a NOT EXISTS anti-join. No c_phone in
    * the schema, so country code = c_nationkey % 10; "no orders" becomes
    * "no open ('O') orders" (every synthetic customer has some order). The
    * AVG threshold is computed as exact-decimal SUM cast to double, divided
    * by the count — one IEEE division, identical both engines (a native
    * decimal AVG would round at engine-specific scales).
    */
  val tpchQ22Sql: String =
    """SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM (
      |  SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal, c_custkey
      |  FROM customer
      |  WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)
      |    AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |                     FROM customer
      |                     WHERE c_acctbal > 0.0 AND c_nationkey % 10 IN (1, 3, 5, 7, 9))
      |) custsale
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |GROUP BY 1""".stripMargin

  /** Dialect-shared ANSI FILTER (WHERE) aggregate clause. */
  val filteredAggsSql: String =
    """SELECT o_orderpriority,
      |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_closed,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS sum_open,
      |  CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_pending_custs
      |FROM orders GROUP BY 1""".stripMargin

  /** Dialect-shared recursive CTE: ancestor chain over the binary-heap
    * parent function floor((k-1)/2), per nation key.
    */
  val recursiveAncestorsSql: String =
    """WITH RECURSIVE anc AS (
      |  SELECT n_nationkey AS node, n_nationkey AS anc, 0 AS depth FROM nation
      |  UNION ALL
      |  SELECT node, CAST(floor((anc - 1) / 2) AS INT) AS anc, depth + 1 AS depth
      |  FROM anc WHERE anc > 0
      |)
      |SELECT node, anc, depth FROM anc""".stripMargin

  /** Dialect-shared LATERAL correlated subquery (top-3 per nation). */
  val lateralTopkSql: String =
    """SELECT n_name, c.c_custkey, c.c_acctbal
      |FROM nation, LATERAL (SELECT c_custkey, c_acctbal FROM customer
      |  WHERE c_nationkey = n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c""".stripMargin

  /** Dialect-shared event-time RANGE frame with an INTERVAL bound. */
  val intervalRangeSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
      |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d
      |FROM orders""".stripMargin

  /** The marts' TPC-H transplant: orders ⋈ customer, with customer →
    * c_custkey/c_name, store → c_nationkey, salesperson → o_custkey and
    * money → o_totalprice. Customer is ~1% the size of orders, so Catalyst
    * broadcast-joins it at any sf (past autoBroadcastJoinThreshold AQE
    * converts to a shuffled hash join on the same plan). */
  private def ordersByCustomer(s: SparkSession, d: String): DataFrame = {
    val (orders, customer) = (T(s, d, "orders"), T(s, d, "customer"))
    orders.join(customer, orders("o_custkey") === customer("c_custkey"), "inner")
  }
  private val martMonth = Cols.monthBucket(col("o_orderdate")).as("sales_month")
  private val customerMartKeys =
    Seq(col("c_custkey").as("customer_id"), col("c_name").as("full_name"), martMonth)
  private val salesMartKeys =
    Seq(col("c_nationkey").as("store_id"), col("o_custkey").as("sales_person_id"), martMonth)
  private val martMoney = col("o_totalprice")

  /** `customer_mart`: per customer per month total purchases. */
  def customerMart(s: SparkSession, d: String): DataFrame =
    Marts.monthlyTotals(ordersByCustomer(s, d), customerMartKeys, martMoney)

  private val customerMartSql =
    """SELECT c_custkey AS customer_id, c_name AS full_name,
      |  substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS sales_month,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2, 3""".stripMargin

  /** Reference-parity queries (SURVEY.md §2). */
  val parity: Seq[CatalogEntry] = Seq(

    // A1/W1-idiomatic + J-family + C3 month bucket (customer mart)
    CatalogEntry("customer_mart",
      customerMart, Some(customerMartSql)),

    // W1 + A3: the reference's window-sum + distinct idiom, same oracle
    CatalogEntry("customer_mart_window",
      (s, d) => Marts.monthlyTotalsWindowIdiom(ordersByCustomer(s, d), customerMartKeys, martMoney),
      Some(customerMartSql)),

    // A2 + W2 rank + F2/C6/C7 incentive (sales mart)
    CatalogEntry("sales_mart_incentive",
      (s, d) => Marts.withIncentive(
        Marts.monthlyTotals(ordersByCustomer(s, d), salesMartKeys, martMoney)),
      Some("""WITH t AS (
        |  SELECT c_nationkey AS store_id, o_custkey AS sales_person_id,
        |    substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS sales_month,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2, 3)
        |SELECT store_id, sales_person_id, sales_month, total_sales, rnk,
        |  CASE WHEN rnk = 1 THEN total_sales * CAST(0.01 AS DOUBLE)
        |       ELSE CAST(0.0 AS DOUBLE) END AS incentive
        |FROM (SELECT t.*, CAST(rank() OVER (PARTITION BY store_id, sales_month
        |        ORDER BY total_sales DESC) AS BIGINT) AS rnk FROM t) r""".stripMargin)),

    // J1–J3 three-way broadcast join + P1/P4 aliased projection
    CatalogEntry("three_way_join",
      (s, d) => Enrichment.enrich(T(s, d, "lineitem"), T(s, d, "orders"), T(s, d, "customer")),
      Some("""SELECT l_orderkey AS order_id, l_linenumber AS line_number,
        |  l_quantity AS quantity, l_extendedprice AS price,
        |  o_orderstatus AS order_status, o_orderdate AS sales_date,
        |  c_custkey AS customer_id, c_name AS customer_name,
        |  c_nationkey AS store_id, c_mktsegment AS segment
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // U1 union + S4 empty seed + C1 concat_ws fold + C5 null fill
    CatalogEntry("conformed_union",
      (s, d) => {
        val li = T(s, d, "lineitem")
        val base = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        val withExtra = Validation.conform(
          li.filter(col("l_linenumber") <= 3)
            .select((base ++ Seq("l_returnflag", "l_linestatus")).map(col): _*),
          mandatory = base)
        val plain = Validation.conform(
          li.filter(col("l_linenumber") > 3).select(base.map(col): _*),
          mandatory = base)
        Sources.empty(s, withExtra.schema).union(withExtra).union(plain)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  concat_ws(',', l_linestatus, l_returnflag) AS additional_column
        |FROM lineitem WHERE l_linenumber <= 3
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  CAST(NULL AS VARCHAR) AS additional_column
        |FROM lineitem WHERE l_linenumber > 3""".stripMargin)),

    // Cartesian product (tiny dims only — guarded by size at scale)
    CatalogEntry("cross_join",
      (s, d) => T(s, d, "region").crossJoin(T(s, d, "nation"))
        .select(col("r_regionkey"), col("r_name"), col("n_nationkey"), col("n_name")),
      Some("""SELECT r_regionkey, r_name, n_nationkey, n_name
        |FROM region CROSS JOIN nation""".stripMargin)),

    // Null-handling family over an outer join's null side
    CatalogEntry("null_funcs",
      (s, d) => {
        val c = T(s, d, "customer"); val o = T(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(Cols.moneySum(coalesce(col("o_totalprice"), lit(0.0))).as("spend_or_zero"),
            count(when(col("o_orderkey").isNull, 1)).as("null_orders"),
            max(nullif(col("o_orderstatus"), lit("P"))).as("max_non_p_status"))
      },
      Some("""SELECT c_custkey,
        |  CAST(SUM(CAST(COALESCE(o_totalprice, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS spend_or_zero,
        |  COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS null_orders,
        |  MAX(NULLIF(o_orderstatus, 'P')) AS max_non_p_status
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin)),

    // INTERSECT / EXCEPT (distinct set semantics; absent from the reference)
    CatalogEntry("set_ops",
      (s, d) => {
        val o = T(s, d, "orders")
        val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
        f.intersect(p).withColumn("set_op", lit("both"))
          .union(f.except(p).withColumn("set_op", lit("f_only")))
      },
      Some("""SELECT o_custkey, 'both' AS set_op FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
        |UNION ALL
        |SELECT o_custkey, 'f_only' AS set_op FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')""".stripMargin)),

    // Deterministic portable sampling: hash-bucket the key instead of RNG —
    // reproducible across engines, partitionings, and runs (the correct way
    // to subsample training data); ~1/8 of rows via the first md5 hex char
    CatalogEntry("deterministic_sample",
      (s, d) => T(s, d, "documents")
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) <= "1")
        .select(col("doc_id"), col("lang"), col("n_chars")),
      Some("""SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '1'""".stripMargin)),

    // A3/A4 distinct
    CatalogEntry("distinct_flags",
      (s, d) => T(s, d, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    // F1/F4 filters: isin + equality conjunction (pushed to the parquet scan)
    CatalogEntry("filter_isin",
      (s, d) => T(s, d, "orders")
        .filter(col("o_orderstatus").isin("F", "O") && col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_orderpriority")),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus IN ('F','O') AND o_orderpriority = '1-URGENT'""".stripMargin)),

    // P1/P2/P3 + rename: select, derive, drop, withColumnRenamed
    CatalogEntry("projection_ops",
      (s, d) => T(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
        .withColumn("gross", col("l_extendedprice") * col("l_quantity"))
        .drop("l_returnflag")
        .withColumnRenamed("l_linenumber", "line_no"),
      Some("""SELECT l_orderkey, l_linenumber AS line_no, l_quantity,
        |  l_extendedprice, l_extendedprice * l_quantity AS gross
        |FROM lineitem""".stripMargin)),

    // C1–C8 scalar-function surface in one projection
    CatalogEntry("scalar_funcs",
      (s, d) => T(s, d, "customer").select(
        col("c_custkey").as("customer_id"),
        concat(col("c_name"), lit(" "), col("c_mktsegment")).as("name_segment"),
        concat_ws(",", col("c_name"), col("c_mktsegment")).as("additional_column"),
        expr("substring(c_name, 1, 10)").as("name_prefix"),
        when(col("c_acctbal") > lit(0.0), col("c_acctbal") * lit(2))
          .otherwise(lit(0.0)).as("doubled_bal")),
      Some("""SELECT c_custkey AS customer_id,
        |  c_name || ' ' || c_mktsegment AS name_segment,
        |  concat_ws(',', c_name, c_mktsegment) AS additional_column,
        |  substr(c_name, 1, 10) AS name_prefix,
        |  CASE WHEN c_acctbal > 0.0 THEN c_acctbal * 2
        |       ELSE CAST(0.0 AS DOUBLE) END AS doubled_bal
        |FROM customer""".stripMargin)),

    // §2.8 sort + limit (top-k), tiebroken by unique key for determinism
    CatalogEntry("topk_orders",
      (s, d) => T(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // A-family beyond the reference: sum/avg/min/max/count/count-distinct.
    // The pre-aggregate repartition parallelizes the scan-fused expand:
    // testdata parquet carries ONE row group per file, so the scan stage —
    // and the COUNT(DISTINCT) Expand (2× rows) plus decimal partial sums
    // fused into it — runs on one core regardless of core count (r16;
    // measured 2.0 s -> 0.8 s at 32 cores). Exchange count is UNCHANGED:
    // hashpartitioning(l_orderkey) satisfies the distinct-rewrite
    // aggregate's clustering ((flag, status, l_orderkey, gid) ⊇ the
    // partitioning key — guide §2.4), so the aggregate's own exchange is
    // subsumed and the shuffle merely moves below the aggregate; partial
    // reduction barely shrank this shape anyway (600k -> 438k rows) because
    // the distinct key is order-grained.
    CatalogEntry("agg_suite",
      (s, d) => T(s, d, "lineitem")
        .repartition(col("l_orderkey"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Cols.moneySum(col("l_quantity")).as("sum_qty"),
          Cols.moneySum(col("l_extendedprice")).as("sum_price"),
          Cols.moneyAvg(col("l_quantity")).as("avg_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          count(lit(1)).as("cnt"),
          countDistinct(col("l_orderkey")).as("n_orders")),
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
        |  COUNT(*) AS cnt, COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY 1, 2""".stripMargin)),

    // Semi/anti joins (EXISTS / NOT EXISTS) — beyond the reference's inner-
    // only joins; both plan as broadcast hash joins with no row expansion
    CatalogEntry("semi_anti_join",
      (s, d) => {
        val c = T(s, d, "customer"); val o = T(s, d, "orders")
        val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"), lit("has_orders").as("status"))
        val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), lit("no_orders").as("status"))
        withOrders.union(withoutOrders)
      },
      Some("""SELECT c_custkey, c_name, 'has_orders' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, c_name, 'no_orders' AS status FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // Left outer join preserving dimension rows with no facts
    CatalogEntry("left_outer_agg",
      (s, d) => {
        val c = T(s, d, "customer"); val o = T(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"),
            Cols.moneySum(col("o_totalprice")).as("total_spend"))
      },
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin)),

    // Rollup with grouping_id — subtotal/grand-total lattice
    CatalogEntry("rollup_agg",
      (s, d) => T(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(Cols.moneySum(col("l_quantity")).as("sum_qty"),
          grouping_id().as("gid")),
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // Argument-max aggregate: which order carried the group's max price
    // (deterministic here — max price is unique per status group)
    // arg-max with an EXPLICIT tie-break: bare max_by/arg_max pick an
    // arbitrary row when the measure ties, and at scale ties are the
    // common case, not the corner (the 8× pseudo-scale corpus mints 8
    // equal-price twins of every 1× maximum and the bare spelling
    // diverged immediately — round 12). Contract: smallest key among the
    // max-price rows. The CASE keeps bare-max_by's null semantics (a
    // null-price row can never win; all-null group → null top_order) —
    // a bare struct(price, -key) is non-null even when price is null and
    // would have CHANGED which rows participate.
    CatalogEntry("arg_max",
      (s, d) => T(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(max(col("o_totalprice")).as("max_price"),
          expr("max_by(o_orderkey, CASE WHEN o_totalprice IS NOT NULL" +
            " THEN struct(o_totalprice, -o_orderkey) END)").as("top_order")),
      Some("""SELECT o_orderstatus, max(o_totalprice) AS max_price,
        |  first(o_orderkey ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC)
        |    FILTER (WHERE o_totalprice IS NOT NULL) AS top_order
        |FROM orders GROUP BY 1""".stripMargin)),

    // Cube — the full grouping lattice (rollup's sibling)
    CatalogEntry("cube_agg",
      (s, d) => T(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(Cols.moneySum(col("o_totalprice")).as("total"),
          grouping_id().as("gid")),
      Some("""SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    // Exact interpolated percentiles (median/p90) — continuous-quantile
    // semantics match DuckDB's quantile_cont
    // round(…, 6): Spark's exact `percentile` and DuckDB's quantile_cont
    // both interpolate lo + (hi-lo)*g in doubles but associate differently
    // — a 5.8e-11 divergence surfaced at 2× pseudo-scale when the p90 rank
    // landed between two close prices (invisible at 1×). 6 dp is 5 orders
    // of magnitude above the float noise and far below the 2-dp data.
    CatalogEntry("percentiles",
      (s, d) => T(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 6).as("median_price"),
          round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90_price")),
      Some("""SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
        |  round(quantile_cont(o_totalprice, 0.9), 6) AS p90_price
        |FROM orders GROUP BY 1""".stripMargin)),

    // Pivot (wide aggregation) — oracle as explicit conditional aggregation
    CatalogEntry("pivot_agg",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(Cols.moneySum(col("l_quantity")))
        .select(col("l_linestatus"), col("A").as("qty_a"), col("N").as("qty_n"),
          col("R").as("qty_r")),
      Some("""SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
        |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // TPC-H Q1-shaped pricing summary: filter + wide aggregate, the classic
    // scan-dominated plan (predicate pushed to parquet, partial+final agg)
    CatalogEntry("pricing_summary",
      (s, d) => T(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Cols.moneySum(col("l_quantity")).as("sum_qty"),
          Cols.moneySum(col("l_extendedprice")).as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast(DoubleType).as("sum_disc_price"),
          // 3×2-dp factors ⇒ exactly 6 decimal digits: scale 6 is lossless;
          // scale 4 would round at a tie and Spark (shortest-string) vs
          // DuckDB (binary) disagree on ties
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .cast(DecimalType(18, 6))).cast(DoubleType).as("sum_charge"),
          Cols.moneyAvg(col("l_quantity")).as("avg_qty"),
          Cols.moneyAvg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= '1998-09-02'
        |GROUP BY 1, 2""".stripMargin)),

    // Full SQL surface: the same dialect-shared SQL text runs on Spark's
    // parser (over temp views) AND as the DuckDB oracle
    CatalogEntry("sql_revenue_by_segment",
      (s, d) => {
        T(s, d, "lineitem").createOrReplaceTempView("lineitem")
        T(s, d, "orders").createOrReplaceTempView("orders")
        T(s, d, "customer").createOrReplaceTempView("customer")
        s.sql(QueryCatalog.revenueBySegmentSql)
      },
      Some(revenueBySegmentSql)),

    // Top-k per group via bounded-heap Aggregator (partial agg ships ≤k rows
    // per partition per group — no full window sort; see ops.TopK scaladoc)
    CatalogEntry("topk_per_group",
      (s, d) => ops.TopK.perGroup(
        T(s, d, "orders"), "o_orderstatus", "o_totalprice", "o_orderkey", k = 3),
      Some("""SELECT o_orderstatus, rn, o_orderkey, o_totalprice
        |FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |        CAST(row_number() OVER (PARTITION BY o_orderstatus
        |          ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |      FROM orders WHERE o_totalprice IS NOT NULL) t
        |WHERE rn <= 3""".stripMargin)),

    // Ranking/navigation window family beyond rank(): dense_rank, ntile,
    // lead/lag, percent_rank — one windowed pass, deterministic tiebreaks
    CatalogEntry("window_suite",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        T(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            dense_rank().over(w).cast("long").as("drnk"),
            ntile(4).over(w).cast("long").as("quartile"),
            lead(col("o_orderkey"), 1).over(w).as("next_key"),
            lag(col("o_orderkey"), 1).over(w).as("prev_key"),
            percent_rank().over(w).as("pct_rank"))
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  lead(o_orderkey, 1) OVER w AS next_key,
        |  lag(o_orderkey, 1) OVER w AS prev_key,
        |  percent_rank() OVER w AS pct_rank
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin)),

    // Correlated scalar subquery through the SQL parser (same text both
    // engines)
    CatalogEntry("sql_scalar_subquery",
      (s, d) => {
        T(s, d, "orders").createOrReplaceTempView("orders")
        T(s, d, "customer").createOrReplaceTempView("customer")
        s.sql(scalarSubquerySql)
      },
      Some(scalarSubquerySql)),

    // HLL approximate distinct vs exact — the constant-memory path for
    // extreme-cardinality counts at 100 TB. The HLL estimate itself is
    // engine-specific, so the oracle checks the exact count plus a
    // tolerance assertion: |approx-exact|/exact must stay ≤ 5% (rsd=0.02 ⇒
    // typical error <2%, so the bound has margin while still catching a
    // broken sketch).
    CatalogEntry("agg_approx",
      // same single-row-group spread as agg_suite: hashpartitioning
      // (l_partkey) is subsumed by the distinct-rewrite's (flag, l_partkey,
      // gid) clustering, so the exchange count stays 1 while the Expand and
      // both sketches run on every core instead of one (r16)
      (s, d) => T(s, d, "lineitem")
        .repartition(col("l_partkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double")
            <= col("exact_parts") * lit(0.05)).as("within_tol")),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS within_tol
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // Tumbling event-time window (batch twin of the streaming op).
    // ts IS NOT NULL on both sides: Spark's window generator silently
    // emits nothing for a NULL event time while SQL date_trunc keeps a
    // NULL group — the explicit filter makes "no event time → no window"
    // a stated contract instead of an engine accident (round-10 sweep)
    CatalogEntry("events_hourly",
      (s, d) => eventsTable(s, d)
        .where(col("ts").isNotNull)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("cnt"), col("total_value")),
      Some("""SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""".stripMargin)),
  )

  // ------------------------------------------------------------ extensions

  private def docs(s: SparkSession, d: String): DataFrame = T(s, d, "documents")
  private[graft] def embs(s: SparkSession, d: String): DataFrame = T(s, d, "embeddings")

  /** Raw events with ts as microsecond longs — the exact epoch unit DuckDB's
    * `epoch_us(ts)` yields, so oracle arithmetic stays in integer space.
    * The NTZ→LTZ cast is the epoch identity only under UTC, so the session
    * timezone is asserted here rather than trusted to each entry point
    * (ADVICE r9 — every graft main pins UTC, library callers may not).
    */
  def eventsRaw(s: SparkSession, dir: String): DataFrame = {
    Tables.requireUtcSession(s, "eventsRaw")
    T(s, dir, "events")
      .withColumn("ts_us", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
      .drop("ts")
  }

  /** Exact integer FLOOR-division time bucket of a µs epoch column.
    *
    * The bucket contract is CALENDAR semantics — floor toward the past —
    * the convention `date_trunc`/`window()` already pin for the rest of
    * the events family. A bare `div` (and DuckDB's integer `//`) truncates
    * toward ZERO instead, which agrees with floor only for ts ≥ epoch; a
    * pre-epoch (negative-µs) event would land one bucket too late, and
    * worse, `(-b, b)` would collapse into one double-width bucket 0.
    * `x - pmod(x, b)` is the largest multiple of b ≤ x (pmod ≥ 0 at any
    * sign), so the `div` is exact — all integer ops, codegen-friendly,
    * no double-division boundary misrounding (adjacent day-bucket
    * quotients are ~1e-11 apart at µs scale, inside double error).
    * Oracles replay it as `epoch_us(date_trunc(unit, ts)) // b` —
    * date_trunc floors, making the `//` exact on a multiple.
    */
  private[graft] def usBucket(c: String, bucketUs: Long): Column =
    expr(s"($c - pmod($c, $bucketUs)) div $bucketUs")

  /** Query embedding: the vector of vec_id = 0 (driver-side 1-row lookup). */
  private[graft] def queryVec(s: SparkSession, d: String): Seq[Float] =
    embs(s, d).filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)

  private val eventsHourlySql =
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** LSH geometry shared by the embedding queries: 8 tables × 4 bits keeps
    * per-bucket candidate counts ~|table|/16 (measured: knn probe union =
    * 227 of 500 vecs, neardup candidates = 51k of 125k pairs at sf0.01).
    * Rademacher (md5-parity ±1) planes, NOT seeded Gaussians: the oracle
    * below replays the exact bucket assignment in SQL, so the gate pins the
    * LSH candidate machinery at its real (pruning) recall — see
    * [[ops.Similarity.rademacherPlanes]].
    */
  private lazy val lshPlanes = ops.Similarity.rademacherPlanes(dim = 64, tables = 8, bitsPerTable = 4)

  /** DuckDB replay of the static-centroid IVF probe (knn_ivf) — shared
    * verbatim by `knn_ivf_incremental`: the persisted-index store's
    * contract is exact equivalence with the one-shot assignment of the
    * full corpus under the same frozen centroids, so its oracle IS this
    * SQL (the incremental entry's batch split keeps the first-16-by-id
    * centroid init identical between base-trained and corpus-trained).
    */
  private[graft] val knnIvfSql: String = knnIvfSqlOver("TRUE")

  /** `vecPred` restricts the corpus — the incremental-delete entry's
    * contract is equivalence with the one-shot assignment of the
    * SURVIVORS (its delete set avoids vec_ids < 16, so the first-16-by-id
    * centroid init is unchanged and the frozen store centroids match).
    */
  private[graft] def knnIvfSqlOver(vecPred: String): String =
    s"""WITH e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  WHERE embedding IS NOT NULL AND ($vecPred)),
      |c AS (SELECT vec_id AS cid, v AS cv
      |      FROM (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM e2)
      |      WHERE rn <= 16),
      |q AS (SELECT v AS qv FROM e2 WHERE vec_id = 0),
      |assign AS (
      |  SELECT e2.vec_id, c.cid,
      |    row_number() OVER (PARTITION BY e2.vec_id ORDER BY
      |      (list_dot_product(v, cv) / (sqrt(list_dot_product(v, v))
      |        * sqrt(list_dot_product(cv, cv)))) DESC NULLS LAST, cid) AS rn
      |  FROM e2, c),
      |cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
      |probe AS (SELECT cid FROM c, q ORDER BY
      |  (list_dot_product(cv, qv) / (sqrt(list_dot_product(cv, cv))
      |    * sqrt(list_dot_product(qv, qv)))) DESC NULLS LAST, cid LIMIT 4),
      |sc AS (SELECT e2.vec_id, list_dot_product(v, qv)
      |         / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS s0
      |       FROM e2 JOIN cells USING (vec_id), q
      |       WHERE cells.cell IN (SELECT cid FROM probe))
      |SELECT vec_id, round(s0, 9) AS score FROM sc
      |WHERE s0 IS NOT NULL AND NOT isnan(s0)
      |ORDER BY s0 DESC, vec_id LIMIT 20""".stripMargin

  /** DuckDB CANDIDATE-ALIGNED replay of the verified near-dup pair set
    * (r8 verdict item 4): the same portable minhash signatures, 16×4
    * banding, [2, maxBucket] bucket cap, and integer signature-match floor
    * as [[ops.Replay.verifiedNearDupPairs]], then exact Jaccard on the
    * md5-60bit distinct gram-hash sets — the oracle recomputes the
    * CANDIDATE set too, so equality holds at ANY corpus scale by
    * construction (a brute-force oracle only matches when LSH recall is
    * total over the corpus's true pairs, which sf0.001 violates —
    * ROUNDLOG r8). `vj` exposes (doc_a, doc_b, shared, na, nb) for the
    * final threshold cut; the LSH recall CONTRACT (catch rate
    * 1-(1-J^4)^16) is documented in COVERAGE.md.
    */
  /** The oracle-side twin of [[ops.Shingles.normalize]]'s case mapping:
    * DuckDB `lower()` is the SIMPLE Unicode map while Spark's is FULL
    * lowercasing, whose one unconditional multi-char mapping is U+0130
    * 'İ' → i + U+0307 — pre-expanded here so both engines agree (round-10
    * adversarial sweep). ONE definition, interpolated into every
    * text-normalizing oracle: the next case-mapping divergence gets fixed
    * in exactly one place (round-10 review).
    */
  private[graft] val lowerTextSql: String =
    "lower(replace(text, 'İ', 'i' || chr(775)))"

  /** DuckDB replay of [[ops.Replay.minhashCandidates]] (k=64, 16 bands,
    * 5-shingles, maxBucket 100, est ≥ 0.25) — the full-recompute oracle.
    * Shared verbatim by `dedup_minhash` AND the `dedup_incremental*`
    * entries: the incremental store's contract is exact equivalence with
    * the full recompute over base ∪ batches, so its oracle IS this SQL.
    * The `docsPred` overload restricts the corpus — the delete entry's
    * contract is equivalence with the full recompute over the SURVIVORS,
    * so its oracle is the same SQL over `documents WHERE <survivors>`.
    */
  private[graft] val minhashCandidatesSql: String = minhashCandidatesSqlOver("TRUE")

  private[graft] def minhashCandidatesSqlOver(docsPred: String): String =
    raw"""WITH t AS (SELECT doc_id, trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')) AS norm
      |      FROM documents WHERE $docsPred),
      |ga AS (SELECT doc_id, list_distinct([substr(norm, i, 5) FOR i IN range(1, len(norm) - 3)]) AS grams
      |       FROM t WHERE len(norm) >= 5),
      |gh AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
      |       FROM (SELECT doc_id, unnest(grams) AS gram FROM ga)),
      |seeds AS (SELECT i, ('0x' || substr(md5('mixa:' || i), 1, 15))::BIGINT AS a,
      |                 ('0x' || substr(md5('mixb:' || i), 1, 15))::BIGINT AS b
      |          FROM range(64) ii(i)),
      |sigv AS (SELECT doc_id, i, MIN(CAST((a::HUGEINT * h + b) % 2305843009213693951 AS BIGINT)) AS m
      |         FROM gh, seeds GROUP BY 1, 2),
      |sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM sigv GROUP BY 1),
      |banded AS (SELECT doc_id, sig, b, array_to_string(sig[(b*4+1):(b*4+4)], ',') AS bk
      |           FROM sig, range(16) bb(b)),
      |buck AS (SELECT b, bk FROM banded GROUP BY b, bk HAVING COUNT(*) BETWEEN 2 AND 100),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.sig AS sig_a, b2.doc_id AS doc_b, b2.sig AS sig_b
      |         FROM banded a JOIN buck USING (b, bk) JOIN banded b2 USING (b, bk)
      |         WHERE a.doc_id < b2.doc_id)
      |SELECT doc_a, doc_b, est_jaccard FROM (
      |  SELECT doc_a, doc_b,
      |    len(list_filter([sig_a[i] = sig_b[i] FOR i IN range(1, 65)], x -> x)) / 64 AS est_jaccard
      |  FROM cand)
      |WHERE est_jaccard >= 0.25""".stripMargin

  /** DuckDB replay of the end-to-end corpus dedup (verified pairs →
    * transitive closure → min-id survivors). Shared verbatim by
    * `dedup_corpus` and `dedup_incremental_corpus` (equivalence contract,
    * as with [[minhashCandidatesSql]]).
    */
  private[graft] lazy val dedupCorpusSql: String =
    s"""WITH RECURSIVE $verifiedPairsCtes,
      |vp AS (SELECT doc_a, doc_b FROM vj WHERE shared / (na + nb - shared) >= 3.1e-1),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM vp UNION SELECT doc_b, doc_a FROM vp),
      |reach(a, b) AS (SELECT a, b FROM edges
      |                UNION
      |                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (SELECT a AS doc_id, MIN(b) AS component
      |         FROM (SELECT a, b FROM reach UNION SELECT a, a FROM edges) GROUP BY 1)
      |SELECT d.doc_id, d.lang, d.source
      |FROM documents d LEFT JOIN comp USING (doc_id)
      |WHERE component IS NULL OR component = d.doc_id""".stripMargin

  private[graft] val verifiedPairsCtes: String =
    raw"""t AS (
      |  SELECT doc_id, trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')) AS norm
      |  FROM documents
      |), gs AS (
      |  SELECT doc_id,
      |    list_distinct([('0x' || substr(md5(substr(norm, i, 5)), 1, 15))::BIGINT
      |                   FOR i IN range(1, len(norm) - 3)]) AS ghs
      |  FROM t WHERE len(norm) >= 5
      |), gh AS (
      |  SELECT doc_id, unnest(ghs) AS h FROM gs
      |), seeds AS (
      |  SELECT i, ('0x' || substr(md5('mixa:' || i), 1, 15))::BIGINT AS a,
      |         ('0x' || substr(md5('mixb:' || i), 1, 15))::BIGINT AS b
      |  FROM range(64) ii(i)
      |), sigv AS (
      |  SELECT doc_id, i, MIN(CAST((a::HUGEINT * h + b) % 2305843009213693951 AS BIGINT)) AS m
      |  FROM gh, seeds GROUP BY 1, 2
      |), sig AS (
      |  SELECT doc_id, list(m ORDER BY i) AS sig FROM sigv GROUP BY 1
      |), banded AS (
      |  SELECT doc_id, sig, b, array_to_string(sig[(b*4+1):(b*4+4)], ',') AS bk
      |  FROM sig, range(16) bb(b)
      |), buck AS (
      |  SELECT b, bk FROM banded GROUP BY b, bk HAVING COUNT(*) BETWEEN 2 AND 100
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, a.sig AS sig_a, b2.doc_id AS doc_b, b2.sig AS sig_b
      |  FROM banded a JOIN buck USING (b, bk) JOIN banded b2 USING (b, bk)
      |  WHERE a.doc_id < b2.doc_id
      |), candf AS (
      |  SELECT doc_a, doc_b FROM cand
      |  WHERE len(list_filter([sig_a[i] = sig_b[i] FOR i IN range(1, 65)], x -> x)) >= 10
      |), vj AS (
      |  SELECT doc_a, doc_b, len(list_intersect(x.ghs, y.ghs)) AS shared,
      |    len(x.ghs) AS na, len(y.ghs) AS nb
      |  FROM candf JOIN gs x ON x.doc_id = doc_a JOIN gs y ON y.doc_id = doc_b
      |)""".stripMargin

  /** DuckDB replay of [[ops.Replay.fingerprints]] (winnowing k=8, w=4 over
    * md5-60bit byte-gram hashes): identical explode → window-min → sorted
    * distinct pipeline, so `fps` is bit-equal to the Spark frame.
    */
  private val fingerprintCtes: String =
    raw"""t AS (SELECT doc_id, text, trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')) AS norm
      |      FROM documents),
      |base AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS content_hash, norm,
      |         length(norm) - 7 AS n_grams FROM t WHERE length(norm) - 7 - 3 > 0),
      |g AS (SELECT doc_id, content_hash, n_grams, i,
      |      ('0x' || substr(md5(substr(norm, i, 8)), 1, 15))::BIGINT AS h
      |      FROM base, unnest(range(1, n_grams + 1)) AS u(i)),
      |wm AS (SELECT doc_id, content_hash, n_grams, i,
      |       MIN(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      |       FROM g),
      |fps AS (SELECT doc_id, content_hash, list_sort(list_distinct(list(wmin))) AS fingerprint
      |        FROM wm WHERE i <= n_grams - 3 GROUP BY 1, 2)""".stripMargin

  /** DuckDB replay of [[ops.Similarity.withLshBuckets]] over `lshPlanes`:
    * same md5-parity signs, same left-fold dot product (list_reduce ==
    * Spark's `aggregate` fold — ROUNDLOG lesson 12), same MSB-first bucket
    * packing. Sign decisions are safe across engines: min |dot| measured
    * 6.1e-6 at sf0.01 vs ~1e-13 cross-engine float noise.
    */
  private val lshBucketsCte: String =
    """signs AS (
      |  SELECT t, b, list(CASE WHEN (('0x' || substr(md5('plane:' || t || ':' || b || ':' || i), 1, 15))::BIGINT & 1) = 1
      |                    THEN 1.0 ELSE -1.0 END ORDER BY i) AS sg
      |  FROM range(8) tt(t), range(4) bb(b), range(64) ii(i)
      |  GROUP BY t, b
      |),
      |dots AS (
      |  SELECT e.vec_id, s.t, s.b,
      |    list_reduce(list_prepend(0.0, [e.embedding[i]::DOUBLE * s.sg[i] FOR i IN range(1, 65)]), (a, x) -> a + x) AS dot
      |  FROM embeddings e, signs s
      |  WHERE e.embedding IS NOT NULL
      |),
      |buckets AS (
      |  SELECT vec_id, t,
      |    CAST(SUM((CASE WHEN dot >= 0 THEN 1 ELSE 0 END) * (1 << (3 - b))) AS BIGINT) AS bucket
      |  FROM dots GROUP BY 1, 2
      |)""".stripMargin

  /** Training-data-pipeline extensions (dedup, similarity, text analysis,
    * multimodal, sessionization, streaming) — SURVEY.md §7.2 step 6.
    */
  val extensions: Seq[CatalogEntry] = Seq(

    CatalogEntry("text_stats",
      (s, d) => ops.TextAnalysis.textStats(docs(s, d)),
      Some("""SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
        |  CAST(length(text) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')) AS avg_word_len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
        |    / length(text) AS punct_ratio,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
        |    / length(text) AS upper_ratio
        |FROM documents""".stripMargin)),

    CatalogEntry("token_counts",
      (s, d) => ops.TextAnalysis.tokenCounts(docs(s, d)),
      Some("""SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS lex_tokens
        |FROM documents""".stripMargin)),

    // DuckDB twin of the marker-set argmax: list_intersect dedups exactly
    // like Spark's array_intersect, ties break by sorted language order,
    // zero hits => 'und'
    CatalogEntry("lang_id",
      (s, d) => ops.TextAnalysis.languageId(docs(s, d)),
      Some(raw"""WITH t AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')) AS norm,
        |    string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    len(list_intersect(toks, ['der','die','das','und','ist','nicht','mit','ein'])) AS s_de,
        |    len(list_intersect(toks, ['the','and','of','to','is','in','that','with'])) AS s_en,
        |    len(list_intersect(toks, ['el','los','las','es','en','con','una','por'])) AS s_es,
        |    len(list_intersect(toks, ['le','la','les','et','est','pas','avec','une'])) AS s_fr,
        |    ((CASE WHEN contains(norm, '的') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '是') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '在') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '了') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '和') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '有') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '不') THEN 1 ELSE 0 END)
        |     + (CASE WHEN contains(norm, '我') THEN 1 ELSE 0 END)) AS s_zh
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN best > 0 THEN
        |    CASE WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
        |         WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
        |         ELSE 'zh' END
        |  ELSE 'und' END AS pred_lang,
        |  greatest(best, 0) AS marker_hits
        |FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best FROM s)""".stripMargin)),

    // double literals written in e-notation (3e-1 not 0.3) — DuckDB types
    // plain decimal literals as DECIMAL and decimal arithmetic would diverge
    // from Spark's double math in the last ulp; FP op order mirrors
    // TextAnalysis.qualityScore exactly
    CatalogEntry("doc_quality",
      (s, d) => ops.TextAnalysis.qualityScore(docs(s, d)),
      Some(raw"""WITH t AS (
        |  SELECT doc_id, text,
        |    string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ') AS toks,
        |    length(text) AS n_chars
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, n_chars, len(toks) AS n_words,
        |    len(list_intersect(toks, ['the','and','of','to','is','in','that','with'])) AS stop_hits,
        |    CAST(n_chars - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / n_chars AS punct_ratio,
        |    CAST(n_chars AS DOUBLE) / len(toks) AS avg_word_len
        |  FROM t
        |)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(stop_hits AS DOUBLE) / n_words AS stopword_ratio,
        |  least(CAST(n_words AS DOUBLE) / 5e1, 1e0) * 3e-1
        |  + greatest(0e0, 1e0 - punct_ratio * 5e0) * 3e-1
        |  + (CASE WHEN avg_word_len BETWEEN 3e0 AND 1e1 THEN 1e0 ELSE 5e-1 END) * 2e-1
        |  + least((CAST(stop_hits AS DOUBLE) / n_words) * 1e1, 1e0) * 2e-1 AS quality
        |FROM m""".stripMargin)),

    // weight rounded to 9dp in BOTH engines: libm ln() may differ from
    // java.lang.Math.log in the last ulp; ranking runs on full precision
    CatalogEntry("tfidf_top_terms",
      (s, d) => ops.TextAnalysis.tfidfTopTerms(docs(s, d), m = 5)
        .withColumn("weight", round(col("weight"), 9)),
      Some(raw"""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        |), w AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    tf.tf * ln((SELECT COUNT(*) + 1e0 FROM documents) / (dfreq.df + 1e0)) AS weight
        |  FROM tf JOIN dfreq USING (term)
        |)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, round(weight, 9) AS weight
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) AS rank FROM w)
        |WHERE rank <= 5""".stripMargin)),

    // Winnowing fingerprints via the REPLAYABLE pipeline (ops.Replay:
    // md5-60bit gram hashes + the same explode → window-min the oracle
    // states), projected to scalars: set size + order-stable digest of the
    // sorted hashes. The one-pass xxhash64 kernel (TextAnalysis
    // .fingerprints) is the scale path, proven equal to this explode +
    // window-min algorithm (same hash) by ReplaySpec; the gate pins the
    // algorithm itself cross-engine.
    CatalogEntry("doc_fingerprints",
      (s, d) => ops.Replay.fingerprints(docs(s, d))
        .select(col("doc_id"), col("content_hash"),
          size(col("fingerprint")).cast("long").as("n_fp"),
          ops.Replay.hash60(concat_ws(",", col("fingerprint").cast("array<string>")))
            .as("fp_digest")),
      Some(s"""WITH $fingerprintCtes
        |SELECT doc_id, content_hash, CAST(len(fingerprint) AS BIGINT) AS n_fp,
        |  ${ops.Replay.hash60Sql("array_to_string(fingerprint, ',')")} AS fp_digest
        |FROM fps""".stripMargin)),

    CatalogEntry("fingerprint_overlap",
      (s, d) => ops.Replay.fingerprintOverlapPairs(docs(s, d)),
      Some(s"""WITH $fingerprintCtes,
        |inv AS (SELECT doc_id, unnest(fingerprint) AS fp FROM fps),
        |sizes AS (SELECT doc_id, len(fingerprint) AS n_fp FROM fps),
        |bk AS (SELECT fp FROM inv GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 200),
        |capped AS (SELECT doc_id, fp FROM inv JOIN bk USING (fp)),
        |shr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        |        FROM capped a JOIN capped b USING (fp) WHERE a.doc_id < b.doc_id
        |        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT doc_a, doc_b, shared, overlap FROM (
        |  SELECT doc_a, doc_b, shared, shared / least(sa.n_fp, sb.n_fp) AS overlap
        |  FROM shr JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b)
        |WHERE overlap >= 3e-1""".stripMargin)),

    CatalogEntry("dedup_exact",
      (s, d) => ops.Dedup.exactGroups(docs(s, d)),
      Some("""SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id,
        |  COUNT(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin)),

    CatalogEntry("dedup_exact_keep_first",
      (s, d) => ops.Dedup.dropExactDuplicates(docs(s, d)),
      Some("""SELECT doc_id, text, lang, source, n_chars
        |FROM (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |      FROM documents) t
        |WHERE rn = 1""".stripMargin)),

    // MinHash+LSH candidates via the REPLAYABLE kernel (universal-hash
    // permutations mod 2^61-1 over md5-60bit gram hashes — see
    // graft.functions.PortableSketches): the oracle recomputes the
    // signatures with HUGEINT arithmetic and replays banding, bucket caps,
    // and the est-Jaccard fraction, pinning the candidate generator itself.
    // est values are multiples of 1/64 (exact doubles), so the >= 0.25 cut
    // cannot straddle engines. The xxhash64 kernel (Dedup.minhashCandidates)
    // is the scale path, exercised by dedup_minhash_verified's two-stage
    // pipeline and DedupSpec.
    CatalogEntry("dedup_minhash",
      (s, d) => ops.Replay.minhashCandidates(docs(s, d),
        k = 64, bands = 16, shingleLen = 5, maxBucket = 100, minEstJaccard = 0.25),
      Some(minhashCandidatesSql)),

    // LSH candidates verified by exact gram-set Jaccard, via the REPLAYABLE
    // kernel (r8 verdict item 4): the oracle recomputes candidates AND the
    // verify, so equality is deterministic at any SF — a brute-force oracle
    // would additionally assert total LSH recall, which is probabilistic
    // (catch rate 1-(1-J^4)^16: ~0.999 at J=0.8, ~0.14 at J=0.31) and
    // provably fails on tiny corpora (sf0.001 has 5 true pairs in the
    // recall gap; ROUNDLOG r8). Recall contract documented in COVERAGE.md;
    // the xxhash64 scale path (Dedup.verifiedNearDupPairs) is pinned by
    // DedupSpec on a corpus whose true pairs sit in the high-recall zone.
    CatalogEntry("dedup_minhash_verified",
      (s, d) => ops.Replay.verifiedNearDupPairs(docs(s, d),
        threshold = 0.31, k = 64, bands = 16, shingleLen = 5, maxBucket = 100),
      Some(s"""WITH $verifiedPairsCtes
        |SELECT doc_a, doc_b, shared / (na + nb - shared) AS jaccard
        |FROM vj WHERE shared / (na + nb - shared) >= 3.1e-1""".stripMargin)),

    // Corpus dedup end-to-end, oracle-checked: VERIFIED near-dup pairs
    // (exact Jaccard >= 0.31 over the candidate-aligned replayable pair
    // set of dedup_minhash_verified) → connected components → one survivor
    // (min id) per cluster + all singletons. The oracle replays the
    // components with a recursive transitive closure over the same pair
    // set, so the gate pins the candidate machinery, the exact verify, AND
    // the component/survivor logic (both the driver union-find and the
    // distributed min-label path produce min-id components by
    // construction) — deterministically at any SF.
    CatalogEntry("dedup_corpus",
      (s, d) => {
        val dd = docs(s, d)
        val pairs = ops.Replay.verifiedNearDupPairs(dd,
          threshold = 0.31, k = 64, bands = 16, shingleLen = 5, maxBucket = 100)
        ops.Dedup.dedupCorpus(dd, pairs).select(col("doc_id"), col("lang"), col("source"))
      },
      Some(dedupCorpusSql)),

    // SimHash near-dup pairs via the REPLAYABLE 60-bit variant (md5 token
    // hashes — ops.Replay.simhashPairs): the oracle recomputes the vote
    // sums, the bit packing, the 4×15-bit pigeonhole bands, the bucket cap,
    // and the exact Hamming verify. The 64-bit xxhash64 form
    // (Dedup.simhashPairs) is the scale path, pinned by DedupSpec.
    CatalogEntry("dedup_simhash",
      (s, d) => ops.Replay.simhashPairs(docs(s, d), maxHamming = 3, maxBucket = 200),
      Some(raw"""WITH t AS (SELECT doc_id, trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')) AS norm
        |      FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM t),
        |tokh AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        |         FROM tok WHERE length(tok) > 0),
        |votes AS (SELECT doc_id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |          FROM tokh, range(60) ii(i) GROUP BY 1, 2),
        |sh AS (SELECT doc_id, CAST(SUM(CASE WHEN v >= 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
        |       FROM votes GROUP BY 1),
        |banded AS (SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS bv
        |           FROM sh, range(4) bb(b)),
        |buck AS (SELECT b, bv FROM banded GROUP BY b, bv HAVING COUNT(*) BETWEEN 2 AND 200)
        |SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming
        |FROM banded a JOIN buck USING (b, bv) JOIN banded b2 USING (b, bv)
        |WHERE a.doc_id < b2.doc_id AND bit_count(xor(a.simhash, b2.simhash)) <= 3""".stripMargin)),

    // oracle replays the exact pipeline on gram STRINGS where Spark uses
    // 64-bit gram hashes (TextSketches.ngramHashes) — identical results
    // barring an xxhash64 collision between distinct grams (P ~ n²/2⁶⁵,
    // negligible at any SF the gate runs). Jaccard division is the same
    // int/int → double op on both sides, so no rounding is needed; the
    // threshold literal is e-notation to force DOUBLE typing in DuckDB.
    CatalogEntry("ngram_jaccard",
      (s, d) => ops.Dedup.ngramJaccardPairs(docs(s, d),
        n = 3, threshold = 0.01, maxBucket = 100),
      Some(raw"""WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
        |        FOR i IN range(1, len(toks) - 1)]) AS gram
        |    FROM t)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1
        |), buck AS (
        |  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 100
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        |  FROM g a JOIN buck USING (gram) JOIN g b USING (gram)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, shared / (sa.n + sb.n - shared) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE shared / (sa.n + sb.n - shared) >= 1e-2""".stripMargin)),

    // LSH candidate pairs + exact cosine verify, oracle-checked at the
    // REAL pruning recall: the oracle replays the Rademacher buckets
    // (lshBucketsCte), so the candidate set — not just the verify stage —
    // is pinned. Threshold margin measured: min |cosine - 0.3| over
    // candidates = 7.3e-5, so the >= 0.3 cut can't flip across engines.
    CatalogEntry("embedding_neardup",
      (s, d) => ops.Similarity.nearDupPairs(embs(s, d), threshold = 0.3, lshPlanes)
        .withColumn("cosine", round(col("cosine"), 9)),
      Some(s"""WITH $lshBucketsCte,
        |e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |sizes AS (SELECT t, bucket FROM buckets GROUP BY t, bucket HAVING COUNT(*) BETWEEN 2 AND 1000),
        |cp AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |       FROM buckets a JOIN sizes USING (t, bucket) JOIN buckets b USING (t, bucket)
        |       WHERE a.vec_id < b.vec_id),
        |sc AS (SELECT id_a, id_b, list_dot_product(x.v, y.v)
        |         / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS s0
        |       FROM cp JOIN e2 x ON x.vec_id = cp.id_a JOIN e2 y ON y.vec_id = cp.id_b)
        |SELECT id_a, id_b, round(s0, 9) AS cosine FROM sc
        |WHERE s0 IS NOT NULL AND NOT isnan(s0) AND s0 >= 0.3""".stripMargin)),

    // score rounded to 9dp in BOTH engines: the double-accumulated cosine
    // agrees with DuckDB's list_cosine_similarity over DOUBLE[] to ~1 ulp
    // (measured max 8e-8 over FLOAT[], 2e-16 over DOUBLE[]), so the rounded
    // values hash-match while ordering runs on full precision
    CatalogEntry("knn_bruteforce",
      (s, d) => ops.Similarity.bruteForceTopK(embs(s, d), queryVec(s, d), k = 20)
        .withColumn("score", round(col("score"), 9)),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |sc AS (SELECT vec_id, list_dot_product(v, qv)
        |         / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS s0
        |       FROM e, q)
        |SELECT vec_id, round(s0, 9) AS score FROM sc
        |WHERE s0 IS NOT NULL AND NOT isnan(s0)
        |ORDER BY s0 DESC, vec_id ASC LIMIT 20""".stripMargin)),

    // exact-all-pairs twin of embedding_neardup: the LSH variant stays
    // rows-only (recall < 1 by construction); this one is the oracle-checked
    // correctness baseline
    CatalogEntry("embedding_neardup_exact",
      (s, d) => ops.Similarity.exactNearDupPairs(embs(s, d), threshold = 0.3)
        .withColumn("cosine", round(col("cosine"), 9)),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |sc AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, list_dot_product(a.v, b.v)
        |         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS s0
        |       FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(s0, 9) AS cosine FROM sc
        |WHERE s0 IS NOT NULL AND NOT isnan(s0) AND s0 >= 0.3""".stripMargin)),

    // ANN with the probe REPLAYED by the oracle: DuckDB recomputes the
    // query's buckets and ranks the same candidate union (227 of 500 vecs
    // at sf0.01 — the pruning is real, and the gate still pins it exactly).
    // Rank-20/21 boundary margin measured 2.9e-4 — no cross-engine flip.
    CatalogEntry("knn_ann",
      (s, d) => ops.Similarity.annTopK(embs(s, d), queryVec(s, d), k = 20, lshPlanes)
        .withColumn("score", round(col("score"), 9)),
      Some(s"""WITH $lshBucketsCte,
        |e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |q AS (SELECT v AS qv FROM e2 WHERE vec_id = 0),
        |qb AS (SELECT t, bucket FROM buckets WHERE vec_id = 0),
        |cand AS (SELECT DISTINCT b2.vec_id FROM buckets b2 JOIN qb USING (t, bucket)),
        |sc AS (SELECT e2.vec_id, list_dot_product(v, qv)
        |         / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS s0
        |       FROM cand JOIN e2 USING (vec_id), q)
        |SELECT vec_id, round(s0, 9) AS score FROM sc
        |WHERE s0 IS NOT NULL AND NOT isnan(s0)
        |ORDER BY s0 DESC, vec_id LIMIT 20""".stripMargin)),

    // IVF with STATIC centroids (iters = 0 ⇒ the first-16-by-id k-means
    // init, raw float vectors both engines share), so the oracle replays
    // assignment (argmax cosine, ties → lowest cid; min top-2 margin
    // 2.3e-4), probe selection (top-4 centroids by query cosine; 4-vs-5
    // margin 1.1e-3), and in-cell exact ranking — 123 of 500 vecs probed at
    // sf0.01, real pruning under an exact gate. Lloyd TRAINING (iters > 0)
    // is deliberately outside the oracle — centroid means are
    // engine-arithmetic-sensitive — and is pinned by IVF's ScalaTest spec
    // instead.
    CatalogEntry("knn_ivf",
      (s, d) => {
        val e = embs(s, d)
        val index = ops.IVF.train(e, c = 16, iters = 0)
        ops.IVF.topK(e, index, queryVec(s, d), k = 20, nprobe = 4)
          .withColumn("score", round(col("score"), 9))
      },
      Some(knnIvfSql)),

    CatalogEntry("sessionize",
      (s, d) => ops.Sessions.sessionize(eventsRaw(s, d), gapMicros = 1800L * 1000 * 1000),
      Some("""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
        |  WHERE ts IS NOT NULL
        |), m AS (
        |  SELECT user_id, event_id, ts_us, value,
        |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
        |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |), s AS (
        |  SELECT user_id, ts_us, value,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM m
        |)
        |SELECT user_id, session_seq,
        |  MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM s GROUP BY 1, 2""".stripMargin)),

    // Generator / unnest: one row per leading vector element
    CatalogEntry("explode_vals",
      (s, d) => embs(s, d)
        .select(col("vec_id"), explode(slice(col("embedding"), 1, 4)).as("val")),
      Some("""SELECT vec_id, unnest(embedding[1:4]) AS val FROM embeddings""")),

    // Ordered string aggregation (deterministic listagg)
    CatalogEntry("string_agg_sorted",
      (s, d) => T(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(concat_ws(",", array_sort(collect_set(col("o_orderpriority"))))
          .as("priorities")),
      Some("""SELECT o_orderstatus,
        |  COALESCE(string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority), '') AS priorities
        |FROM orders GROUP BY 1""".stripMargin)),

    // Array-column accessors over the embedding vectors
    CatalogEntry("array_funcs",
      (s, d) => embs(s, d).select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(col("embedding"), 1).as("first_val"),
        element_at(col("embedding"), -1).as("last_val")),
      Some("""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |  embedding[1] AS first_val, embedding[len(embedding)] AS last_val
        |FROM embeddings""".stripMargin)),

    // Calendar decomposition of order timestamps
    CatalogEntry("date_funcs",
      (s, d) => T(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        date_trunc("month", col("o_orderdate")).as("month_start")),
      Some("""SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  date_trunc('month', o_orderdate) AS month_start
        |FROM orders""".stripMargin)),

    // JSON extraction from a string payload column
    CatalogEntry("json_extract",
      (s, d) => eventsRaw(s, d)
        .select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k")),
      Some("""SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin)),

    // Regex group extraction
    // try_cast on BOTH sides: a source with no digit run makes
    // regexp_extract return '' and a plain CAST('' AS BIGINT) throws in
    // Spark (ANSI) and DuckDB alike; the no-match contract is NULL
    // (adversarial-corpus sweep, round 10)
    CatalogEntry("regex_extract",
      (s, d) => docs(s, d)
        .select(col("doc_id"), col("source"),
          expr("try_cast(regexp_extract(source, 'src([0-9]+)', 1) AS LONG)").as("source_num")),
      Some("""SELECT doc_id, source,
        |  TRY_CAST(regexp_extract(source, 'src([0-9]+)', 1) AS BIGINT) AS source_num
        |FROM documents""".stripMargin)),

    // Sliding event-time windows (1h window, 30min slide): each event lands
    // in two windows; oracle reconstructs the grid with a two-bucket union
    CatalogEntry("events_sliding",
      (s, d) => eventsTable(s, d)
        .where(col("ts").isNotNull) // the events_hourly no-event-time contract
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("cnt"), col("total_value")),
      Some("""WITH b AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS win_start, event_type, value
        |  FROM events WHERE ts IS NOT NULL
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type, value
        |  FROM events WHERE ts IS NOT NULL
        |)
        |SELECT win_start, event_type, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM b GROUP BY 1, 2""".stripMargin)),

    // Backward as-of join: each purchase picks up the value of the user's
    // most recent prior-or-simultaneous error (composed single-sort plan,
    // see ops.AsOf)
    CatalogEntry("asof_join",
      (s, d) => {
        val ev = eventsRaw(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
        val errors = ev.filter(col("event_type") === "error")
        ops.AsOf.join(purchases, errors, "user_id", "ts_us", "event_id", "value")
      },
      // ts IS NOT NULL mirrors AsOf.join's null-time exclusion; the
      // carried marker replays the engine's STRUCT wrap — a null-VALUE
      // error row is still the most recent observation (asof_value NULL),
      // where a bare-value IGNORE NULLS would skip it and resurface an
      // older, stale value (fuzz sweep, round 11)
      Some("""WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events WHERE ts IS NOT NULL
        |), u AS (
        |  SELECT event_id, user_id, ts_us, value, event_type,
        |    last_value(CASE WHEN event_type = 'error' THEN {'v': value} END IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts_us, CASE WHEN event_type = 'error' THEN 0 ELSE 1 END, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_struct
        |  FROM e WHERE event_type IN ('purchase', 'error')
        |)
        |SELECT event_id, user_id, ts_us, value, struct_extract(asof_struct, 'v') AS asof_value
        |FROM u WHERE event_type = 'purchase'""".stripMargin)),

    CatalogEntry("events_hourly_stream",
      (s, d) => streaming.EventsStream.hourlyCounts(s, d),
      Some(eventsHourlySql)),

    CatalogEntry("events_stream_static_join",
      (s, d) => streaming.EventsStream.segmentTotals(s, d),
      Some("""SELECT c_mktsegment, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin)),

    // Stream-stream interval join (attribution): purchases × same-user
    // clicks in the preceding hour, watermarked on both sides; oracle is
    // the equivalent batch self-join
    CatalogEntry("events_stream_stream_join",
      (s, d) => streaming.EventsStream.purchaseClickJoin(s, d),
      Some("""WITH e AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events
        |  WHERE ts >= TIMESTAMP '1970-01-01'
        |)
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        |  (p.ts_us // 1000000) - (c.ts_us // 1000000) AS lag_secs
        |FROM e p JOIN e c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts_us BETWEEN p.ts_us - 3600000000 AND p.ts_us""".stripMargin)),

    // Stream-stream LEFT OUTER interval join: null-side rows emit on state
    // eviction, so both the stream and the oracle keep only purchases below
    // the conservative watermark cutoff (see EventsStream scaladoc).
    CatalogEntry("events_stream_left_join",
      (s, d) => streaming.EventsStream.purchaseClickLeftJoin(s, d),
      Some("""WITH e AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events
        |  WHERE ts >= TIMESTAMP '1970-01-01'
        |), p AS (SELECT * FROM e WHERE event_type = 'purchase'
        |), c AS (SELECT * FROM e WHERE event_type = 'click'
        |), cut AS (SELECT least((SELECT max(ts_us) FROM p),
        |                        (SELECT max(ts_us) FROM c)) - 9000000000 AS cutoff)
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        |  (p.ts_us // 1000000) - (c.ts_us // 1000000) AS lag_secs
        |FROM p LEFT JOIN c
        |  ON p.user_id = c.user_id
        | AND c.ts_us BETWEEN p.ts_us - 3600000000 AND p.ts_us
        |CROSS JOIN cut
        |WHERE p.ts_us < cut.cutoff""".stripMargin)),

    // MERGE/upsert composed from anti-join + union (etl.Upsert): updates =
    // deterministic derived batch (balance bump on %7 keys, new %13 rows)
    CatalogEntry("upsert_dim",
      (s, d) => {
        val cur = T(s, d, "customer")
        val updates = cur.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0)
          .unionByName(cur.filter(col("c_custkey") % 13 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              concat(lit("NEW_"), col("c_custkey").cast("string")).as("c_name"),
              col("c_nationkey"), lit(0.0).as("c_acctbal"), col("c_mktsegment")))
        etl.Upsert.upsert(cur, updates, Seq("c_custkey"))
      },
      Some("""WITH updates AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1e2 AS c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000 AS c_custkey,
        |    'NEW_' || CAST(c_custkey AS VARCHAR) AS c_name,
        |    c_nationkey, 0e0 AS c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 13 = 0)
        |SELECT * FROM updates
        |UNION ALL
        |SELECT * FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)""".stripMargin)),

    // SCD2 versioning (etl.Scd2): orders as a per-customer priority change
    // log -> [valid_from, valid_to) version rows, re-stated values collapsed
    CatalogEntry("scd2_versions",
      (s, d) => etl.Scd2.versions(T(s, d, "orders"),
        key = "o_custkey", attr = "o_orderpriority", ts = "o_orderdate",
        tieBreak = "o_orderkey"),
      Some("""WITH c AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate NULLS FIRST, o_orderkey) AS prev,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate NULLS FIRST, o_orderkey) AS rn
        |  FROM orders),
        |v AS (SELECT * FROM c WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority)
        |SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate NULLS FIRST, o_orderkey) AS valid_to
        |FROM v""".stripMargin)),

    // Ordered funnel (ops.Sessions.funnel): deepest in-order stage per user,
    // one conditional-min aggregate — no per-stage self-joins
    CatalogEntry("funnel_stages",
      (s, d) => ops.Sessions.funnel(eventsRaw(s, d), Seq("view", "click", "purchase")),
      Some("""WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t0,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t1,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t2
        |  FROM events GROUP BY user_id)
        |SELECT user_id, t0, t1, t2,
        |  CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL
        |         AND t0 <= t1 AND t1 <= t2 THEN 3
        |       WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 <= t1 THEN 2
        |       WHEN t0 IS NOT NULL THEN 1
        |       ELSE 0 END AS funnel_depth
        |FROM f""".stripMargin)),

    // Benchmark decontamination (ops.Decontamination): doc_id % 10 == 0
    // plays the eval corpus; training docs sharing any 8-gram are flagged
    CatalogEntry("decontaminate",
      (s, d) => {
        val all = docs(s, d)
        ops.Decontamination.contaminated(
          all.filter(col("doc_id") % 10 =!= 0),
          all.filter(col("doc_id") % 10 === 0), n = 8)
      },
      Some(raw"""WITH g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+7], ' ')
        |        FOR i IN range(1, len(toks) - 6)]) AS gram
        |    FROM (SELECT doc_id,
        |            string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ') AS toks
        |          FROM documents))
        |), bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0)
        |SELECT doc_id, COUNT(*) AS shared_grams
        |FROM g JOIN bench USING (gram)
        |WHERE doc_id % 10 <> 0
        |GROUP BY doc_id""".stripMargin)),

    // Stratified deterministic sampling: per-group rates from the md5
    // hex-prefix bucket (reproducible across engines/partitionings — same
    // trick as deterministic_sample, different rate per stratum)
    CatalogEntry("stratified_sample",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 2)
        docs(s, d)
          .filter(when(col("lang") === "en", h <= "7f").otherwise(h <= "19"))
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some("""SELECT doc_id, lang, source FROM documents
        |WHERE CASE WHEN lang = 'en'
        |  THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '7f'
        |  ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '19' END""".stripMargin)),

    // PII redaction: deterministic synthetic PII appended (the corpus has
    // none), then email + long-digit-run scrubbing. RE2-safe patterns run
    // identically in Java regex and DuckDB; DuckDB needs the 'g' flag for
    // replace-all (Spark's regexp_replace is global by default).
    CatalogEntry("pii_redact",
      (s, d) => docs(s, d).select(col("doc_id"),
        regexp_replace(regexp_replace(
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or call 55512"), col("doc_id").cast("string")),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "[0-9]{6,}", "<NUM>").as("redacted")),
      Some("""SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@example.com or call 55512' || CAST(doc_id AS VARCHAR),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |FROM documents""".stripMargin)),

    // Fuzzy matching on a small dimension: edit-distance self-join
    CatalogEntry("fuzzy_pairs",
      (s, d) => {
        val a = T(s, d, "nation").select(col("n_nationkey").as("k_a"), col("n_name").as("name_a"))
        val b = T(s, d, "nation").select(col("n_nationkey").as("k_b"), col("n_name").as("name_b"))
        a.join(b, col("k_a") < col("k_b"))
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
          .filter(col("dist") <= 1)
      },
      Some("""SELECT a.n_nationkey AS k_a, a.n_name AS name_a,
        |  b.n_nationkey AS k_b, b.n_name AS name_b,
        |  levenshtein(a.n_name, b.n_name) AS dist
        |FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
        |WHERE levenshtein(a.n_name, b.n_name) <= 1""".stripMargin)),

    // EXISTS / NOT EXISTS correlated subqueries — dialect-shared SQL
    CatalogEntry("exists_subquery",
      (s, d) => {
        T(s, d, "customer").createOrReplaceTempView("customer")
        T(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(existsSubquerySql)
      },
      Some(existsSubquerySql)),

    // first/nth/last_value + cume_dist — dialect-shared SQL
    CatalogEntry("window_navigation",
      (s, d) => {
        T(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(windowNavigationSql)
      },
      Some(windowNavigationSql)),

    // Interval join via bucketized equi-join (ops.RangeJoin scaladoc) — the
    // overlapping price bands make it a true range join, not a width_bucket
    CatalogEntry("range_join_bands",
      (s, d) => {
        val sq = s; import sq.implicits._
        val bands = Seq((0L, 0.0, 20000.0), (1L, 10000.0, 30000.0),
          (2L, 25000.0, 60000.0), (3L, 50000.0, 100000.0))
          .toDF("band_id", "lo", "hi")
        ops.RangeJoin.pointInInterval(
          T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
          bands, "l_extendedprice", "lo", "hi", bucketWidth = 5000.0)
          .groupBy(col("band_id"))
          .agg(count(lit(1)).as("cnt"), Cols.moneySum(col("l_extendedprice")).as("sum_price"))
      },
      Some("""WITH bands(band_id, lo, hi) AS (
        |  VALUES (0, 0e0, 2e4), (1, 1e4, 3e4), (2, 25e3, 6e4), (3, 5e4, 1e5))
        |SELECT band_id, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY band_id""".stripMargin)),

    // Salted join must be result-identical to the plain join — the oracle IS
    // the unsalted SQL (ops.Skew scaladoc: explicit salting for skew AQE
    // can't fix)
    CatalogEntry("salted_join_agg",
      (s, d) => ops.Skew.saltedJoin(T(s, d, "lineitem"), T(s, d, "supplier"),
        "l_suppkey", "s_suppkey", buckets = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"), Cols.moneySum(col("l_extendedprice")).as("sum_price")),
      Some("""SELECT s_nationkey, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin)),

    // Sequence packing for context-window assembly (ops.Packing scaladoc)
    CatalogEntry("pack_sequences",
      (s, d) => ops.Packing.packSequences(docs(s, d), capacity = 8192),
      // start_offset needs the explicit BIGINT cast: DuckDB's SUM(INTEGER)
      // yields HUGEINT, which pandas renders float64 and the driver's
      // dtype-sensitive value hash then diverges from Spark's int64
      Some("""WITH w AS (
        |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS size,
        |    CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS BIGINT) AS start_offset
        |  FROM documents)
        |SELECT source, doc_id, size, start_offset,
        |  start_offset // 8192 AS bin_id
        |FROM w""".stripMargin)),

    // Statistical aggregates: corr/covar/stddev/var match DuckDB's sample
    // definitions; skewness/kurtosis are population moments in Spark, so the
    // oracle derives them from two-pass central moments. All rounded 6dp —
    // the streaming-update algorithms differ in low bits.
    CatalogEntry("stats_suite",
      (s, d) => {
        // degenerate moments (single-row group, zero variance) are NaN in
        // Spark but NULL in SQL engines — the stated contract is the SQL
        // one, so NaN maps to NULL (identity on any 2+-row group)
        def nn(c: org.apache.spark.sql.Column) = when(c.isNaN, lit(null)).otherwise(c)
        T(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(nn(corr(col("l_quantity"), col("l_extendedprice"))), 6).as("qty_price_corr"),
            round(nn(covar_samp(col("l_quantity"), col("l_extendedprice"))), 6).as("qty_price_covar"),
            round(nn(stddev_samp(col("l_quantity"))), 6).as("qty_stddev"),
            round(nn(var_samp(col("l_quantity"))), 6).as("qty_var"),
            round(nn(skewness(col("l_quantity"))), 6).as("qty_skew"),
            round(nn(kurtosis(col("l_quantity"))), 6).as("qty_kurt"))
      },
      Some("""WITH mu AS (
        |  SELECT l_returnflag AS flag, AVG(l_quantity) AS mu FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT l_returnflag, l_quantity, l_extendedprice, l_quantity - mu AS dq
        |  FROM lineitem JOIN mu ON l_returnflag IS NOT DISTINCT FROM flag)
        |SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        |  round(covar_samp(l_quantity, l_extendedprice), 6) AS qty_price_covar,
        |  round(stddev_samp(l_quantity), 6) AS qty_stddev,
        |  round(var_samp(l_quantity), 6) AS qty_var,
        |  round(AVG(dq*dq*dq) / POW(AVG(dq*dq), 1.5e0), 6) AS qty_skew,
        |  round(AVG(dq*dq*dq*dq) / (AVG(dq*dq) * AVG(dq*dq)) - 3e0, 6) AS qty_kurt
        |FROM c GROUP BY l_returnflag""".stripMargin)),

    // RANGE frame over an integer day key: trailing-7-day running total per
    // customer (decimal-accumulated inside the frame, double on output)
    CatalogEntry("window_range_frame",
      (s, d) => {
        val day = datediff(col("o_orderdate").cast("date"),
          lit(java.sql.Date.valueOf("1970-01-01")))
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
          .rangeBetween(-6, Window.currentRow)
        T(s, d, "orders")
          .withColumn("day", day)
          .select(col("o_orderkey"), col("o_custkey"), col("day"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
              .cast(DoubleType).as("trailing_7d"))
      },
      Some("""SELECT o_orderkey, o_custkey, day,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d
        |FROM (SELECT *, datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
        |      FROM orders)""".stripMargin)),

    // GROUPING SETS with grouping() markers — dialect-shared SQL text
    CatalogEntry("grouping_sets_agg",
      (s, d) => {
        T(s, d, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(groupingSetsSql)
      },
      Some(groupingSetsSql)),

    // unpivot/melt: wide measures to long (id, measure, value)
    CatalogEntry("unpivot_measures",
      (s, d) => T(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "value"),
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount' AS measure, l_discount AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax' AS measure, l_tax AS value FROM lineitem""".stripMargin)),

    // Snapshot diff / CDC: before = customer minus the %11 keys; after =
    // balance bump on %7 keys plus brand-new %13 rows — yields all three
    // change types. One full-outer join on the key, struct-equality compare.
    CatalogEntry("snapshot_diff",
      (s, d) => {
        val cur = T(s, d, "customer")
        val before = cur.filter(col("c_custkey") % 11 =!= 0)
        val after = cur
          .withColumn("c_acctbal",
            when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0).otherwise(col("c_acctbal")))
          .unionByName(cur.filter(col("c_custkey") % 13 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              concat(lit("NEW_"), col("c_custkey").cast("string")).as("c_name"),
              col("c_nationkey"), lit(0.0).as("c_acctbal"), col("c_mktsegment")))
        etl.SnapshotDiff.diff(before, after, Seq("c_custkey"))
      },
      Some("""WITH before_t AS (
        |  SELECT * FROM customer WHERE c_custkey % 11 <> 0
        |), after_t AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1e2 ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'NEW_' || CAST(c_custkey AS VARCHAR),
        |    c_nationkey, 0e0, c_mktsegment
        |  FROM customer WHERE c_custkey % 13 = 0
        |)
        |SELECT COALESCE(b.c_custkey, a.c_custkey) AS c_custkey,
        |  CASE WHEN b.c_custkey IS NULL THEN 'insert'
        |       WHEN a.c_custkey IS NULL THEN 'delete'
        |       ELSE 'update' END AS change_type
        |FROM before_t b FULL OUTER JOIN after_t a USING (c_custkey)
        |WHERE b.c_custkey IS NULL OR a.c_custkey IS NULL
        |   OR b.c_name <> a.c_name OR b.c_nationkey <> a.c_nationkey
        |   OR b.c_acctbal <> a.c_acctbal OR b.c_mktsegment <> a.c_mktsegment""".stripMargin)),

    // CDC roundtrip law, oracle-checked end-to-end: diffRows derives the
    // full change feed and applyChanges replays it — the rebuilt snapshot
    // must equal the after-image the oracle constructs directly
    CatalogEntry("cdc_apply",
      (s, d) => {
        val cur = T(s, d, "customer")
        val before = cur.filter(col("c_custkey") % 11 =!= 0)
        val after = cur
          .withColumn("c_acctbal",
            when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0).otherwise(col("c_acctbal")))
          .unionByName(cur.filter(col("c_custkey") % 13 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              concat(lit("NEW_"), col("c_custkey").cast("string")).as("c_name"),
              col("c_nationkey"), lit(0.0).as("c_acctbal"), col("c_mktsegment")))
        etl.SnapshotDiff.applyChanges(before,
          etl.SnapshotDiff.diffRows(before, after, Seq("c_custkey")), Seq("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1e2 ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer
        |UNION ALL
        |SELECT c_custkey + 1000000, 'NEW_' || CAST(c_custkey AS VARCHAR),
        |  c_nationkey, 0e0, c_mktsegment
        |FROM customer WHERE c_custkey % 13 = 0""".stripMargin)),

    // Calendar spine / gap fill: dense per-customer 1995 monthly series with
    // zero-filled gap months (etl.DateSpine)
    CatalogEntry("date_spine",
      (s, d) => etl.DateSpine.monthlyFill(T(s, d, "orders"),
        keyCol = "o_custkey", tsCol = "o_orderdate", valueCol = "o_totalprice",
        startMonth = "1995-01-01", endMonth = "1995-12-01"),
      Some("""WITH f AS (
        |  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    o_totalprice
        |  FROM orders
        |  WHERE o_orderdate >= '1995-01-01'
        |    AND CAST(date_trunc('month', o_orderdate) AS DATE) <= DATE '1995-12-01'
        |), monthly AS (
        |  SELECT o_custkey, month, COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM f GROUP BY 1, 2
        |), spine AS (
        |  SELECT DISTINCT o_custkey, CAST(unnest(generate_series(
        |    DATE '1995-01-01', DATE '1995-12-01', INTERVAL 1 MONTH)) AS DATE) AS month
        |  FROM orders
        |)
        |SELECT spine.o_custkey, spine.month,
        |  COALESCE(n_rows, 0) AS n_rows, COALESCE(total, 0e0) AS total
        |FROM spine LEFT JOIN monthly USING (o_custkey, month)""".stripMargin)),

    // Gopher-style repetition signals (TextAnalysis.repetitionRatios):
    // duplicate word-n-gram fractions; oracle rebuilds the gram lists on
    // strings where Spark uses the one-pass hash kernel
    CatalogEntry("repetition_ratio",
      (s, d) => ops.TextAnalysis.repetitionRatios(docs(s, d)),
      Some(raw"""WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, len(toks) AS n_words,
        |    [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))] AS g2,
        |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] AS g3
        |  FROM t
        |)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CASE WHEN n_words - 1 > 0
        |    THEN 1e0 - len(list_distinct(g2)) / (n_words - 1) ELSE 0e0 END AS dup_2gram_frac,
        |  CASE WHEN n_words - 2 > 0
        |    THEN 1e0 - len(list_distinct(g3)) / (n_words - 2) ELSE 0e0 END AS dup_3gram_frac
        |FROM g""".stripMargin)),

    // C4-style hard quality filter with per-rule audit booleans
    CatalogEntry("quality_filter",
      (s, d) => ops.TextAnalysis.qualityFilter(docs(s, d)),
      Some(raw"""WITH t AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')) AS norm,
        |    string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    len(toks) >= 10 AS enough_words,
        |    regexp_matches(text, '[.!?]\s*$$') AS terminal_punct,
        |    CAST(length(norm) AS DOUBLE) / len(toks) BETWEEN 3e0 AND 1e1 AS sane_word_len,
        |    list_max(list_transform(toks, x -> length(x))) <= 30 AS no_giant_word,
        |    len(list_intersect(toks, ['the','and','of','to','is','in','that','with'])) > 0 AS has_stopword
        |  FROM t
        |)
        |SELECT doc_id, enough_words, terminal_punct, sane_word_len, no_giant_word, has_stopword,
        |  enough_words AND terminal_punct AND sane_word_len AND no_giant_word AND has_stopword AS keep
        |FROM m""".stripMargin)),

    // Corpus bigram LM counts with per-w1 conditional probabilities; the
    // zipped double-unnest is DuckDB's positional bigram idiom
    CatalogEntry("bigram_lm",
      (s, d) => ops.TextAnalysis.bigramConditionals(docs(s, d), minCount = 5),
      Some(raw"""WITH t AS (
        |  SELECT string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), bg AS (
        |  SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM t WHERE len(toks) >= 2
        |), c AS (
        |  SELECT w1, w2, COUNT(*) AS cnt FROM bg
        |  WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY 1, 2
        |)
        |SELECT w1, w2, cnt,
        |  cnt / SUM(cnt) OVER (PARTITION BY w1) AS cond_p
        |FROM c QUALIFY cnt >= 5""".stripMargin)),

    // LM perplexity filter: per-doc avg -log2 P(w2|w1) under the corpus
    // bigram model (TextAnalysis.perplexityScores); 4-dp rounding absorbs
    // libm/summation-order noise across engines
    CatalogEntry("perplexity_score",
      (s, d) => ops.TextAnalysis.perplexityScores(docs(s, d)),
      Some(raw"""WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM t WHERE len(toks) >= 2
        |), bgf AS (
        |  SELECT doc_id, w1, w2 FROM bg WHERE length(w1) > 0 AND length(w2) > 0
        |), c AS (
        |  SELECT w1, w2, COUNT(*) AS cnt FROM bgf GROUP BY 1, 2
        |), lm AS (
        |  SELECT w1, w2, cnt / SUM(cnt) OVER (PARTITION BY w1) AS cond_p FROM c
        |)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  round(AVG(-log2(cond_p)), 4) AS bits_per_bigram
        |FROM bgf JOIN lm USING (w1, w2)
        |GROUP BY 1""".stripMargin)),

    // End-to-end corpus curation (ops.CorpusPipeline): quality gate → exact
    // dedup → decontamination vs the %10 benchmark slice → split buckets,
    // ALL replayed by the oracle — the integration check over four stages
    CatalogEntry("corpus_curation",
      (s, d) => {
        val all = docs(s, d)
        ops.CorpusPipeline.curate(
          all.filter(col("doc_id") % 10 =!= 0),
          all.filter(col("doc_id") % 10 === 0), n = 8,
          // the synthetic corpus is unpunctuated word soup — the C4
          // terminal-punct rule would empty it (see quality_filter audit)
          requireTerminalPunct = false)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("long")).as("total_chars"))
      },
      Some(raw"""WITH train AS (
        |  SELECT * FROM documents WHERE doc_id % 10 <> 0
        |), t AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')) AS norm,
        |    string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM train
        |), q AS (
        |  SELECT doc_id FROM t
        |  WHERE len(toks) >= 10
        |    AND CAST(length(norm) AS DOUBLE) / len(toks) BETWEEN 3e0 AND 1e1
        |    AND list_max(list_transform(toks, x -> length(x))) <= 30
        |    AND len(list_intersect(toks, ['the','and','of','to','is','in','that','with'])) > 0
        |), d AS (
        |  SELECT doc_id, n_chars FROM (
        |    SELECT doc_id, n_chars,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM train JOIN q USING (doc_id)) x
        |  WHERE rn = 1
        |), g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+7], ' ')
        |        FOR i IN range(1, len(toks) - 6)]) AS gram
        |    FROM t JOIN d USING (doc_id))
        |), bench AS (
        |  SELECT DISTINCT gram FROM (
        |    SELECT unnest([array_to_string(toks[i:i+7], ' ')
        |        FOR i IN range(1, len(toks) - 6)]) AS gram
        |    FROM (SELECT string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ') AS toks
        |          FROM documents WHERE doc_id % 10 = 0))
        |), contam AS (
        |  SELECT DISTINCT doc_id FROM g JOIN bench USING (gram)
        |), clean AS (
        |  SELECT d.doc_id, d.n_chars FROM d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM contam)
        |)
        |SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0a' THEN 'test'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '14' THEN 'val'
        |            ELSE 'train' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |FROM clean GROUP BY 1""".stripMargin)),

    // Reproducible corpus shuffle + sharding: global permutation ordered by
    // a seeded hash (no rand() — same order on any engine/cluster/run),
    // then round-robin shard assignment with per-shard accounting. The md5
    // sort key makes the permutation oracle-replayable. Positions come
    // from the DISTRIBUTED bucket-rank machinery under a constant group:
    // ordering by (numeric 15-hex-char prefix, full key) equals ordering
    // by the full key (fixed-length lowercase hex ⇒ lexicographic =
    // numeric), so the bucket function fans the corpus out instead of the
    // old single-task row_number window.
    CatalogEntry("shuffle_shards",
      (s, d) => {
        val keyed = docs(s, d)
          .select(col("doc_id"), col("n_chars"),
            md5(concat(lit("seed42:"), col("doc_id").cast("string"))).as("shuffle_key"))
          .withColumn("key_num", conv(substring(col("shuffle_key"), 1, 15), 16, 10)
            .cast("long"))
          .withColumn("one", lit("all"))
        // pos stays LONG: an int cast would wrap past 2^31 documents —
        // the exact scale this distributed form exists for
        ops.Distribution.groupedRanks(keyed, "one", col("key_num"),
            Seq(col("shuffle_key"), col("n_chars")))
          .withColumn("pos", col("rank"))
          .withColumn("shard", (col("pos") - 1) % 8)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("t1").cast("long")).as("total_chars"),
            min(col("pos")).as("first_pos"))
      },
      Some("""WITH s AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR))) AS pos
        |  FROM documents
        |)
        |SELECT (pos - 1) % 8 AS shard, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
        |  MIN(pos) AS first_pos
        |FROM s GROUP BY 1""".stripMargin)),

    // Deterministic hash-based train/val/test assignment with per-split
    // accounting — reproducible across engines and partitionings
    CatalogEntry("dataset_split",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 2)
        docs(s, d)
          .withColumn("split",
            when(h < "0a", "test").when(h < "14", "val").otherwise("train"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("long")).as("total_chars"))
      },
      Some("""WITH s AS (
        |  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0a' THEN 'test'
        |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '14' THEN 'val'
        |              ELSE 'train' END AS split,
        |    n_chars
        |  FROM documents)
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
        |FROM s GROUP BY 1""".stripMargin)),

    // Integer-bucket document length histogram (500-char bins; integer
    // division on both sides — no float bucket-boundary ambiguity)
    CatalogEntry("doc_length_histogram",
      (s, d) => docs(s, d)
        .groupBy(expr("n_chars div 500").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars")),
      Some("""SELECT CAST(n_chars // 500 AS BIGINT) AS bucket, COUNT(*) AS n_docs,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY 1""".stripMargin)),

    // Boolean / conditional aggregate family
    CatalogEntry("bool_aggs",
      (s, d) => T(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(expr("bool_and(o_totalprice > 0)").as("all_positive"),
          expr("bool_or(o_orderpriority = '1-URGENT')").as("any_urgent"),
          expr("count_if(o_totalprice > 200000)").as("n_big")),
      Some("""SELECT o_orderstatus,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        |  CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big
        |FROM orders GROUP BY 1""".stripMargin)),

    // Streaming exactly-once dedup: doubled delivery collapsed by
    // dropDuplicatesWithinWatermark; oracle = single-delivery batch counts
    // Epoch contract (see EventsStream scaladoc): watermarked streaming
    // state lifetimes are measured against an initial watermark of epoch
    // 0, so a pre-epoch event's dedup state is expired-on-arrival and its
    // redelivery would double-count — both sides exclude ts < epoch.
    CatalogEntry("events_stream_dedup",
      (s, d) => streaming.EventsStream.dedupedCounts(s, d),
      Some("""SELECT event_type, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events WHERE ts >= TIMESTAMP '1970-01-01' GROUP BY 1""".stripMargin)),

    // Date arithmetic suite: calendar-clamped month add, month/quarter
    // boundaries, day distances
    CatalogEntry("date_funcs2",
      (s, d) => T(s, d, "orders").select(
        col("o_orderkey"),
        expr("add_months(CAST(o_orderdate AS DATE), 3)").as("plus3m"),
        expr("last_day(CAST(o_orderdate AS DATE))").as("month_end"),
        expr("datediff(DATE'1998-12-31', CAST(o_orderdate AS DATE))").as("days_to_end"),
        expr("CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE)").as("quarter_start")),
      Some("""SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_end,
        |  CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE) AS quarter_start
        |FROM orders""".stripMargin)),

    // Second scalar string suite: padding, translate, repeat/reverse,
    // row-wise greatest/least, edit distance
    CatalogEntry("string_funcs2",
      (s, d) => T(s, d, "customer").select(
        col("c_custkey"),
        lpad(col("c_name"), 25, ".").as("padded"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("translated"),
        reverse(col("c_name")).as("reversed"),
        repeat(lit("ab"), 3).as("repeated"),
        greatest(col("c_acctbal"), lit(0.0)).as("nonneg_bal"),
        least(col("c_nationkey"), lit(10L)).as("capped_nation"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).as("seg_dist")),
      // the reverse oracle replays CODE-POINT reversal explicitly
      // ((?s) so '.' also matches newlines — Spark reverse() keeps them;
      // regexp '.' = one code point; identical to reverse() on ASCII):
      // Spark reverse() reverses code points while DuckDB reverse() keeps
      // grapheme clusters together — 'e'+U+0301 stays 'é' in DuckDB but
      // splits to U+0301,'e' in Spark (fuzz sweep, round 11). The engine
      // pins the code-point contract; a grapheme-aware reverse would need
      // ICU segmentation on both sides.
      Some("""SELECT c_custkey,
        |  lpad(c_name, 25, '.') AS padded,
        |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS translated,
        |  CASE WHEN c_name IS NULL THEN NULL
        |       ELSE coalesce(array_to_string(list_reverse(regexp_extract_all(c_name, '(?s).')), ''), '')
        |  END AS reversed,
        |  repeat('ab', 3) AS repeated,
        |  greatest(c_acctbal, 0e0) AS nonneg_bal,
        |  least(c_nationkey, 10) AS capped_nation,
        |  levenshtein(c_mktsegment, 'BUILDING') AS seg_dist
        |FROM customer""".stripMargin)),

    // Gaps-and-islands over an id space (missing-key ranges) — dialect-
    // shared lead() window
    CatalogEntry("sequence_gaps",
      (s, d) => {
        T(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(sequenceGapsSql)
      },
      Some(sequenceGapsSql)),

    // Cohort retention: users bucketed by first-seen day (cohort), counted
    // per days-since-cohort offset — the classic product-analytics matrix.
    // Two aggregates: first-seen per user (shuffle on user), then the
    // cohort × offset rollup (shuffle on the much smaller pair key).
    CatalogEntry("cohort_retention",
      (s, d) => {
        val e = eventsRaw(s, d)
          .select(col("user_id"), usBucket("ts_us", 86400000000L).as("day"))
        val first = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
        e.join(first, "user_id")
          .select(col("user_id"), col("cohort_day"),
            (col("day") - col("cohort_day")).as("day_offset"))
          .distinct()
          .groupBy(col("cohort_day"), col("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      },
      Some("""WITH e AS (
        |  SELECT user_id, epoch_us(date_trunc('day', ts)) // 86400000000 AS day FROM events
        |), f AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT e.user_id, cohort_day, day - cohort_day AS day_offset
        |  FROM e JOIN f USING (user_id)
        |)
        |SELECT cohort_day, day_offset, COUNT(DISTINCT user_id) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin)),

    // Exact distinct users per hourly window (the exact twin of the HLL
    // variant in agg_approx; one Expand-free distinct aggregate)
    CatalogEntry("events_hourly_users",
      (s, d) => eventsRaw(s, d)
        .select(usBucket("ts_us", 3600000000L).as("hour"), col("user_id"))
        .groupBy(col("hour"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events")),
      Some("""SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hour,
        |  COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin)),

    // Deterministic keyset-free pagination: ORDER BY unique key + LIMIT/
    // OFFSET (dialect-shared). At scale prefer keyset pagination (WHERE
    // key > last_seen) — OFFSET still sorts/skips the prefix.
    CatalogEntry("limit_offset",
      (s, d) => {
        T(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(limitOffsetSql)
      },
      Some(limitOffsetSql)),

    // Error-tolerant casts: TRY_CAST yields null instead of failing the job
    // — the ingest posture for dirty columns (a single bad value must not
    // kill a 100 TB run)
    CatalogEntry("try_cast_funcs",
      (s, d) => T(s, d, "orders").select(
        col("o_orderkey"),
        expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)").as("prio_num"),
        expr("try_cast(o_orderstatus AS INT)").as("status_num"),
        (col("o_totalprice") / expr("try_cast(o_orderstatus AS INT)")).as("div_by_null")),
      Some("""SELECT o_orderkey,
        |  TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_num,
        |  TRY_CAST(o_orderstatus AS INT) AS status_num,
        |  o_totalprice / TRY_CAST(o_orderstatus AS INT) AS div_by_null
        |FROM orders""".stripMargin)),

    // Bitwise aggregates over grouped keys
    CatalogEntry("bit_aggs",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("bit_and(l_orderkey)").as("ba"),
          expr("bit_or(l_orderkey)").as("bo"),
          expr("bit_xor(l_orderkey)").as("bx")),
      Some("""SELECT l_returnflag, bit_and(l_orderkey) AS ba,
        |  bit_or(l_orderkey) AS bo, bit_xor(l_orderkey) AS bx
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // GROUP BY ALL (dialect-shared): every non-aggregate select item groups
    CatalogEntry("group_by_all",
      (s, d) => {
        T(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(groupByAllSql)
      },
      Some(groupByAllSql)),

    // Array set algebra: union/intersect/except sizes + sorted access over
    // embedding slices (distinct float elements, size outputs only)
    CatalogEntry("array_set_ops",
      (s, d) => {
        val a = slice(col("embedding"), 1, 5)
        val b = slice(col("embedding"), 3, 6)
        T(s, d, "embeddings").select(
          col("vec_id"),
          size(array_distinct(concat(a, b))).as("n_union"),
          size(array_intersect(a, b)).as("n_intersect"),
          size(array_except(a, b)).as("n_except"),
          element_at(sort_array(a), 1).cast("double").as("min_a"))
      },
      Some("""SELECT vec_id,
        |  len(list_distinct(list_concat(embedding[1:5], embedding[3:8]))) AS n_union,
        |  len(list_intersect(embedding[1:5], embedding[3:8])) AS n_intersect,
        |  len(list_filter(list_distinct(embedding[1:5]),
        |      x -> NOT list_contains(embedding[3:8], x))) AS n_except,
        |  CAST(list_min(embedding[1:5]) AS DOUBLE) AS min_a
        |FROM embeddings""".stripMargin)),

    // TPC-H Q3/Q5 shapes as dialect-shared SQL — the canonical selective
    // multi-join aggregates; filters push to every scan, dims broadcast
    CatalogEntry("tpch_q3",
      (s, d) => {
        Seq("customer", "orders", "lineitem").foreach(t =>
          T(s, d, t).createOrReplaceTempView(t))
        s.sql(tpchQ3Sql)
      },
      Some(tpchQ3Sql)),

    CatalogEntry("tpch_q5",
      (s, d) => {
        Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
          .foreach(t => T(s, d, t).createOrReplaceTempView(t))
        s.sql(tpchQ5Sql)
      },
      Some(tpchQ5Sql)),

    CatalogEntry("tpch_q18",
      (s, d) => {
        Seq("customer", "orders", "lineitem").foreach(t =>
          T(s, d, t).createOrReplaceTempView(t))
        s.sql(tpchQ18Sql)
      },
      Some(tpchQ18Sql)),

    CatalogEntry("tpch_q20",
      (s, d) => {
        Seq("supplier", "nation", "lineitem", "part").foreach(t =>
          T(s, d, t).createOrReplaceTempView(t))
        s.sql(tpchQ20Sql)
      },
      Some(tpchQ20Sql)),

    // TPC-H Q7 shape (volume shipping between two nations), DataFrame API:
    // the big fact joins shuffle on their keys; the two nation dims are
    // explicit broadcast()s (alias-renamed so the double nation join is
    // unambiguous). Revenue via the exact-decimal money idiom.
    CatalogEntry("tpch_q7",
      (s, d) => {
        val n1 = broadcast(T(s, d, "nation")
          .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
        val n2 = broadcast(T(s, d, "nation")
          .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation")))
        T(s, d, "supplier")
          .join(T(s, d, "lineitem"), col("s_suppkey") === col("l_suppkey"))
          .join(T(s, d, "orders"), col("o_orderkey") === col("l_orderkey"))
          .join(T(s, d, "customer"), col("c_custkey") === col("o_custkey"))
          .join(n1, col("s_nationkey") === col("s_nkey"))
          .join(n2, col("c_nationkey") === col("c_nkey"))
          .filter(((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
              (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1")) &&
            col("l_shipdate").cast("date").between("1995-01-01", "1996-12-31"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate").cast("date")).as("l_year"))
          .agg(Cols.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
      },
      Some("""SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    EXTRACT(year FROM CAST(l_shipdate AS DATE)) AS l_year,
        |    l_extendedprice, l_discount
        |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        |) shipping
        |GROUP BY 1, 2, 3""".stripMargin)),

    // TPC-H Q8 shape (national market share): conditional-share aggregate.
    // Both the numerator (one nation's volume) and denominator accumulate
    // as exact decimals; the final share is one double/double division —
    // deterministic IEEE op, identical in both engines.
    CatalogEntry("tpch_q8",
      (s, d) => {
        val zero = lit(0).cast(DecimalType(18, 4))
        val suppNation = broadcast(T(s, d, "nation")
          .select(col("n_nationkey").as("s_nkey"), col("n_name").as("nation")))
        val custNation = broadcast(T(s, d, "nation")
          .select(col("n_nationkey").as("c_nkey"), col("n_regionkey").as("c_rkey")))
        val asiaRegion = broadcast(T(s, d, "region").filter(col("r_name") === "ASIA"))
        T(s, d, "part").filter(col("p_type") === "PROMO")
          .join(T(s, d, "lineitem"), col("p_partkey") === col("l_partkey"))
          .join(T(s, d, "supplier"), col("s_suppkey") === col("l_suppkey"))
          .join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(custNation, col("c_nationkey") === col("c_nkey"))
          .join(asiaRegion, col("c_rkey") === col("r_regionkey"))
          .join(suppNation, col("s_nationkey") === col("s_nkey"))
          .filter(col("o_orderdate").cast("date").between("1995-01-01", "1996-12-31"))
          .select(year(col("o_orderdate").cast("date")).as("o_year"),
            (col("l_extendedprice") * (lit(1) - col("l_discount")))
              .cast(DecimalType(18, 4)).as("volume"),
            col("nation"))
          .groupBy(col("o_year"))
          .agg((sum(when(col("nation") === "NATION_2", col("volume")).otherwise(zero))
              .cast(DoubleType) / sum(col("volume")).cast(DoubleType)).as("mkt_share"))
      },
      Some("""SELECT o_year,
        |  CAST(CAST(SUM(CASE WHEN nation = 'NATION_2' THEN volume
        |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS o_year,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
        |    n2.n_name AS nation
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        |    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        |) allnations GROUP BY o_year""".stripMargin)),

    // TPC-H Q10 shape (returned-item reporting): quarter of 'R' lineitems
    // re-aggregated per customer, top 20 by lost revenue. The LIMIT
    // tie-break is (revenue DESC, c_custkey) — deterministic.
    CatalogEntry("tpch_q10",
      (s, d) => {
        T(s, d, "customer")
          .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"))
          .join(T(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .filter(col("o_orderdate").cast("date") >= lit("1995-10-01").cast("date") &&
            col("o_orderdate").cast("date") < lit("1996-01-01").cast("date") &&
            col("l_returnflag") === "R")
          .groupBy(col("c_custkey"), col("c_name"),
            col("c_acctbal").cast(DoubleType).as("acctbal"),
            col("n_name"), col("c_mktsegment"))
          .agg(Cols.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(c_acctbal AS DOUBLE) AS acctbal, n_name, c_mktsegment
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1995-10-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 4, 5, 6
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q14 shape (promotion effect): one global conditional-share
    // row. Same decimal-accumulate / single-double-division discipline as
    // tpch_q8; the part dim broadcasts into the lineitem scan's stage.
    CatalogEntry("tpch_q14",
      (s, d) => {
        val zero = lit(0).cast(DecimalType(18, 4))
        T(s, d, "lineitem")
          .filter(col("l_shipdate").cast("date") >= lit("1995-09-01").cast("date") &&
            col("l_shipdate").cast("date") < lit("1995-10-01").cast("date"))
          .join(broadcast(T(s, d, "part")), col("l_partkey") === col("p_partkey"))
          .select(col("p_type"),
            (col("l_extendedprice") * (lit(1) - col("l_discount")))
              .cast(DecimalType(18, 4)).as("rev"))
          .agg(((lit(100.0) * sum(when(col("p_type") === "PROMO", col("rev")).otherwise(zero))
              .cast(DoubleType)) / sum(col("rev")).cast(DoubleType)).as("promo_revenue"))
      },
      Some("""SELECT CAST(100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |  AS DOUBLE) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1995-09-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1995-10-01'""".stripMargin)),

    // TPC-H Q2 shape: correlated-MIN over a derived supply table. Both
    // sides of the min-cost equality are the same double division, so the
    // filter is exact. The ps CTE is tiny relative to lineitem (one row per
    // (part, supplier) seen) — at 100 TB it aggregates map-side first.
    CatalogEntry("tpch_q2",
      (s, d) => {
        Seq("part", "supplier", "nation", "region", "lineitem").foreach(t =>
          T(s, d, t).createOrReplaceTempView(t))
        s.sql(tpchQ2Sql)
      },
      Some(tpchQ2Sql)),

    CatalogEntry("tpch_q4",
      (s, d) => {
        Seq("orders", "lineitem").foreach(t =>
          T(s, d, t).createOrReplaceTempView(t))
        s.sql(tpchQ4Sql)
      },
      Some(tpchQ4Sql)),

    // TPC-H Q6 shape (forecast revenue), DataFrame API: the one-table
    // filter-and-aggregate. All three predicates reach the parquet scan
    // (PushedFilters) — at 100 TB this is a scan whose row-group stats
    // skip most of the table, then a map-side partial sum.
    CatalogEntry("tpch_q6",
      (s, d) => T(s, d, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-01-01").cast("date") &&
          col("l_discount") >= 0.04 && col("l_discount") <= 0.06 &&
          col("l_quantity") < 24)
        .agg(Cols.moneySum(col("l_extendedprice") * col("l_discount"), 4).as("revenue")),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        |  AND l_discount >= 0.04 AND l_discount <= 0.06 AND l_quantity < 24""".stripMargin)),

    // TPC-H Q9 shape (product-type profit), DataFrame API: the widest join
    // tree in the suite. part (LIKE-filtered), supplier, and nation
    // broadcast; lineitem ⋈ orders is the only shuffle pair. No partsupp in
    // the schema, so unit cost is 0.1 × p_retailprice. The profit expression
    // keeps the oracle's exact association: (price·(1−disc)) − ((0.1·retail)·qty).
    CatalogEntry("tpch_q9",
      (s, d) => {
        val redParts = broadcast(T(s, d, "part").filter(col("p_name").contains("red"))
          .select(col("p_partkey"), col("p_retailprice")))
        T(s, d, "lineitem")
          .join(redParts, col("p_partkey") === col("l_partkey"))
          .join(broadcast(T(s, d, "supplier")), col("s_suppkey") === col("l_suppkey"))
          .join(T(s, d, "orders"), col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(T(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"),
            year(col("o_orderdate").cast("date")).as("o_year"),
            (col("l_extendedprice") * (lit(1) - col("l_discount")) -
              lit(0.1) * col("p_retailprice") * col("l_quantity"))
              .cast(DecimalType(18, 4)).as("amount"))
          .groupBy(col("nation"), col("o_year"))
          .agg(sum(col("amount")).cast(DoubleType).as("sum_profit"))
      },
      Some("""SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
        |FROM (SELECT n_name AS nation, EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS o_year,
        |    CAST(l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity AS DECIMAL(18,4)) AS amount
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%red%') profit
        |GROUP BY 1, 2""".stripMargin)),

    CatalogEntry("tpch_q11",
      (s, d) => {
        Seq("lineitem", "supplier", "nation").foreach(t =>
          T(s, d, t).createOrReplaceTempView(t))
        s.sql(tpchQ11Sql)
      },
      Some(tpchQ11Sql)),

    // TPC-H Q12 shape (priority classes per flag), DataFrame API: one
    // shuffle join then conditional long sums. No l_shipmode in the schema,
    // so l_returnflag ∈ (A, R) stands in for the two ship modes.
    CatalogEntry("tpch_q12",
      (s, d) => {
        val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        T(s, d, "orders")
          .join(T(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .filter(col("l_returnflag").isin("A", "R") &&
            col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
            col("l_shipdate").cast("date") < lit("1997-01-01").cast("date"))
          .groupBy(col("l_returnflag"))
          .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      },
      Some("""SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag IN ('A', 'R')
        |  AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        |GROUP BY 1""".stripMargin)),

    // TPC-H Q13 shape (customer order-count distribution), DataFrame API:
    // LEFT OUTER with the priority predicate inside the join condition (a
    // WHERE would turn it inner and drop zero-order customers), count of a
    // nullable column, then a second tiny aggregate over the counts.
    CatalogEntry("tpch_q13",
      (s, d) => T(s, d, "customer")
        .join(T(s, d, "orders"),
          col("c_custkey") === col("o_custkey") &&
            col("o_orderpriority") =!= "4-NOT SPECIFIED",
          "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist")),
      Some("""SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |        AND o_orderpriority <> '4-NOT SPECIFIED'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY 1""".stripMargin)),

    CatalogEntry("tpch_q15",
      (s, d) => {
        Seq("supplier", "lineitem").foreach(t =>
          T(s, d, t).createOrReplaceTempView(t))
        s.sql(tpchQ15Sql)
      },
      Some(tpchQ15Sql)),

    CatalogEntry("tpch_q16",
      (s, d) => {
        Seq("part", "supplier", "lineitem").foreach(t =>
          T(s, d, t).createOrReplaceTempView(t))
        s.sql(tpchQ16Sql)
      },
      Some(tpchQ16Sql)),

    CatalogEntry("tpch_q17",
      (s, d) => {
        Seq("part", "lineitem").foreach(t =>
          T(s, d, t).createOrReplaceTempView(t))
        s.sql(tpchQ17Sql)
      },
      Some(tpchQ17Sql)),

    // TPC-H Q19 shape (disjunctive predicates), DataFrame API: the classic
    // OR-of-conjunctions. The equi key (partkey) is a shared conjunct, so
    // Catalyst plans a broadcast hash join with the disjunction as a
    // post-join filter — not a nested-loop.
    CatalogEntry("tpch_q19",
      (s, d) => T(s, d, "lineitem")
        .join(broadcast(T(s, d, "part")), col("p_partkey") === col("l_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(Cols.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue")),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    CatalogEntry("tpch_q21",
      (s, d) => {
        Seq("supplier", "lineitem", "orders", "nation").foreach(t =>
          T(s, d, t).createOrReplaceTempView(t))
        s.sql(tpchQ21Sql)
      },
      Some(tpchQ21Sql)),

    CatalogEntry("tpch_q22",
      (s, d) => {
        Seq("customer", "orders").foreach(t =>
          T(s, d, t).createOrReplaceTempView(t))
        s.sql(tpchQ22Sql)
      },
      Some(tpchQ22Sql)),

    // Rolling exact median over a trailing 7-row frame: collect the frame,
    // sort it, and take the midpoint. Even-count interpolation is
    // (lo+hi)*0.5 — MEASURED as DuckDB's median form ((lo+hi)/2, which
    // *0.5 equals bitwise); the lo+(hi-lo)*0.5 form differs in the last
    // ulp on ~2% of frames. The
    // frame ordering (date, orderkey) is unique per partition, so the
    // collected list is deterministic. At 100 TB this is one window shuffle
    // on the partition key with a bounded 7-element buffer per row — the
    // frame bound, not the partition size, caps the per-row cost.
    CatalogEntry("rolling_median",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").cast("date"), col("o_orderkey"))
          .rowsBetween(-6, Window.currentRow)
        val n = size(col("xs"))
        val mid = (n / 2).cast("int") // element_at is 1-based; int division
        val lo = element_at(col("xs"), mid)
        val hi = element_at(col("xs"), mid + 1)
        T(s, d, "orders")
          .withColumn("xs", array_sort(collect_list(col("o_totalprice")).over(w)))
          .select(col("o_orderkey"), col("o_custkey"),
            // collect_list skips NULLs, so an all-null frame is EMPTY:
            // n=0 must yield NULL (DuckDB median of an all-null frame)
            // — the even branch's element_at(xs, 0) is an ANSI crash
            // (fuzz sweep, round 11)
            when(n === 0, lit(null).cast("double"))
              .when(n % 2 === 1, element_at(col("xs"), ((n + 1) / 2).cast("int")))
              .otherwise((lo + hi) * lit(0.5)).as("rolling_median"))
      },
      Some("""SELECT o_orderkey, o_custkey,
        |  median(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY CAST(o_orderdate AS DATE) NULLS FIRST, o_orderkey
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS rolling_median
        |FROM orders""".stripMargin)),

    // MapType operator family: per-brand type→count maps built with
    // map_from_entries, consumed with element_at / map_keys / map_values /
    // map_filter and a fold over map_values. The map is per-GROUP (≤ 6
    // entries), built from a pre-aggregated frame — the HOF lambdas run
    // interpreted but over 6-element maps, not rows (ROUNDLOG lesson 1).
    CatalogEntry("map_funcs",
      (s, d) => {
        // a map key must be non-null (Spark throws NULL_MAP_KEY): null
        // p_type rows are excluded on both sides
        val perType = T(s, d, "part").where(col("p_type").isNotNull)
          .groupBy(col("p_brand"), col("p_type"))
          .agg(count(lit(1)).as("cnt"))
        perType.groupBy(col("p_brand"))
          .agg(map_from_entries(array_sort(
            collect_list(struct(col("p_type"), col("cnt"))))).as("m"))
          .select(col("p_brand"),
            coalesce(element_at(col("m"), "PROMO"), lit(0L)).as("n_promo"),
            coalesce(element_at(col("m"), "ECONOMY"), lit(0L)).as("n_economy"),
            aggregate(map_values(col("m")), lit(0L), (acc, x) => acc + x).as("n_total"),
            size(map_keys(col("m"))).as("n_types"),
            size(map_keys(map_filter(col("m"), (_, v) => v < 10))).as("n_small_types"))
      },
      Some("""WITH t AS (
        |  SELECT p_brand, p_type, COUNT(*) AS cnt FROM part
        |  WHERE p_type IS NOT NULL GROUP BY 1, 2)
        |SELECT p_brand,
        |  COALESCE(MAX(CASE WHEN p_type = 'PROMO' THEN cnt END), 0) AS n_promo,
        |  COALESCE(MAX(CASE WHEN p_type = 'ECONOMY' THEN cnt END), 0) AS n_economy,
        |  CAST(SUM(cnt) AS BIGINT) AS n_total,
        |  COUNT(*) AS n_types,
        |  COUNT(CASE WHEN cnt < 10 THEN 1 END) AS n_small_types
        |FROM t GROUP BY 1""".stripMargin)),

    // Linear-regression aggregate family (regr_slope/intercept/r2/count/
    // avgx/avgy): one partial+final aggregate pass; both engines accumulate
    // in doubles with different partition orders, so float outputs use the
    // stats_suite round(...,6) parity convention (exact count stays exact).
    CatalogEntry("regr_aggs",
      (s, d) => T(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 6).as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"),
          round(regr_avgx(col("l_extendedprice"), col("l_quantity")), 6).as("avgx"),
          round(regr_avgy(col("l_extendedprice"), col("l_quantity")), 6).as("avgy")),
      Some("""SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  regr_count(l_extendedprice, l_quantity) AS n,
        |  round(regr_avgx(l_extendedprice, l_quantity), 6) AS avgx,
        |  round(regr_avgy(l_extendedprice, l_quantity), 6) AS avgy
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // Z-order (Morton) data layout: interleave the bits of two filter
    // columns and bucket rows by z-range — the multi-dimensional clustering
    // that makes file-level min/max stats prune BOTH dimensions at 100 TB
    // (a lexicographic sort prunes only the leading one). Pure integer
    // Column math (functions.Bits), bit-for-bit replayed by the oracle's
    // mask-shift cascade; the per-bucket (a,b) ranges SHOW the locality.
    CatalogEntry("zorder_clustering",
      (s, d) => T(s, d, "lineitem")
        .select((col("l_partkey") % 65536).cast("long").as("a"),
          (col("l_suppkey") % 65536).cast("long").as("b"))
        .withColumn("z", functions.Bits.interleave16(col("a"), col("b")))
        .groupBy(shiftright(col("z"), 16).as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          min(col("z")).as("z_min"), max(col("z")).as("z_max"),
          min(col("a")).as("a_min"), max(col("a")).as("a_max"),
          min(col("b")).as("b_min"), max(col("b")).as("b_max")),
      Some("""WITH src AS (
        |  SELECT CAST(l_partkey % 65536 AS BIGINT) AS a,
        |         CAST(l_suppkey % 65536 AS BIGINT) AS b FROM lineitem
        |), c1 AS (SELECT a, b, (a | (a<<8)) & 16711935 AS sa, (b | (b<<8)) & 16711935 AS sb FROM src
        |), c2 AS (SELECT a, b, (sa | (sa<<4)) & 252645135 AS sa, (sb | (sb<<4)) & 252645135 AS sb FROM c1
        |), c3 AS (SELECT a, b, (sa | (sa<<2)) & 858993459 AS sa, (sb | (sb<<2)) & 858993459 AS sb FROM c2
        |), c4 AS (SELECT a, b, (sa | (sa<<1)) & 1431655765 AS sa, (sb | (sb<<1)) & 1431655765 AS sb FROM c3
        |), zt AS (SELECT a, b, sa | (sb << 1) AS z FROM c4)
        |SELECT z >> 16 AS bucket, COUNT(*) AS cnt, MIN(z) AS z_min, MAX(z) AS z_max,
        |  MIN(a) AS a_min, MAX(a) AS a_max, MIN(b) AS b_min, MAX(b) AS b_max
        |FROM zt GROUP BY 1""".stripMargin)),

    // Bloom-filter membership, replayable: k=3 md5-hash positions in a
    // 1024-bit filter built over the member set, then every key probed
    // against the bit set. The oracle recomputes the SAME bit positions, so
    // the verdict pins real false positives (~3% at this fill), not just
    // counts. At 100 TB the bit set is a broadcast bitmap (here an id-join
    // against the distinct-position table — same semantics, plan-visible);
    // Spark's own bloom_filter_agg is the opaque-production alternative.
    CatalogEntry("bloom_membership",
      (s, d) => {
        def positions(df: DataFrame): DataFrame = df.select(
          col("p_partkey"), col("actual_member"),
          explode(array((0 until 3).map(i =>
            ops.Replay.hash60(concat(lit(s"bloom$i:"), col("p_partkey").cast("string"))) % 1024): _*))
            .as("pos"))
        val parts = T(s, d, "part").withColumn("actual_member", col("p_size") > 47)
        val bits = positions(parts.filter(col("actual_member")))
          .select(col("pos")).distinct().withColumn("hit", lit(1))
        positions(parts)
          .join(broadcast(bits), Seq("pos"), "left")
          .groupBy(col("p_partkey"), col("actual_member"))
          .agg((countDistinct(col("pos")) ===
            countDistinct(when(col("hit").isNotNull, col("pos")))).as("bloom_hit"))
      },
      Some("""WITH members AS (
        |  SELECT p_partkey FROM part WHERE p_size > 47
        |), bits AS (
        |  SELECT DISTINCT ('0x' || substr(md5('bloom' || i || ':' || CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT % 1024 AS pos
        |  FROM members, (SELECT unnest([0,1,2]) AS i)
        |), probe AS (
        |  SELECT p_partkey, p_size > 47 AS actual_member,
        |    ('0x' || substr(md5('bloom' || i || ':' || CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT % 1024 AS pos
        |  FROM part, (SELECT unnest([0,1,2]) AS i)
        |)
        |SELECT p_partkey, actual_member,
        |  COUNT(DISTINCT pos) = COUNT(DISTINCT CASE WHEN pos IN (SELECT pos FROM bits) THEN pos END) AS bloom_hit
        |FROM probe GROUP BY 1, 2""".stripMargin)),

    // Count-Min sketch token frequencies, replayable: d=4 rows × w=32
    // buckets of md5-hash counters; the estimate is the min over rows —
    // always >= the true count, over only on collision. Counters are built
    // from pre-aggregated token counts (identical arithmetic to
    // per-occurrence increments, and the map-side-combinable shape a
    // 100 TB stream would use — CMS rows merge by addition). The oracle
    // recomputes the sketch and both engines exhibit the same
    // overestimates.
    CatalogEntry("cms_token_freq",
      (s, d) => {
        val toks = docs(s, d)
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
        val cnt = toks.groupBy(col("token")).agg(count(lit(1)).as("true_count"))
        val placed = cnt.select(col("token"), col("true_count"),
          explode(array((0 until 4).map(j => struct(lit(j).as("j"),
            (ops.Replay.hash60(concat(lit(s"cms$j:"), col("token"))) % 32).as("bucket"))): _*))
            .as("p"))
          .select(col("token"), col("true_count"), col("p.j"), col("p.bucket"))
        val counters = placed.groupBy(col("j"), col("bucket"))
          .agg(sum(col("true_count")).as("c"))
        placed.join(counters, Seq("j", "bucket"))
          .groupBy(col("token"), col("true_count"))
          .agg(min(col("c")).as("cms_est"))
      },
      Some("""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
        |), cnt AS (
        |  SELECT token, COUNT(*) AS true_count FROM tok WHERE token <> '' GROUP BY 1
        |), placed AS (
        |  SELECT token, true_count, j,
        |    ('0x' || substr(md5('cms' || j || ':' || token), 1, 15))::BIGINT % 32 AS bucket
        |  FROM cnt, (SELECT unnest([0,1,2,3]) AS j)
        |), counters AS (
        |  SELECT j, bucket, CAST(SUM(true_count) AS BIGINT) AS c FROM placed GROUP BY 1, 2
        |)
        |SELECT p.token, p.true_count, MIN(c.c) AS cms_est
        |FROM placed p JOIN counters c ON p.j = c.j AND p.bucket = c.bucket
        |GROUP BY 1, 2""".stripMargin)),

    // Jaro-Winkler fuzzy pairs on the custom codegen expression
    // (functions.JaroWinkler) vs DuckDB's built-in: per-row scalar double
    // math with no accumulation order, so the scores match BITWISE (the
    // round(,6) is cosmetic). Blocked sampling keys keep the pair set
    // quadratic-bounded — the production shape puts a blocking key (here
    // the sample predicate) before any fuzzy scorer.
    CatalogEntry("jaro_winkler_pairs",
      (s, d) => {
        val a = T(s, d, "part").filter(col("p_partkey") % 37 === 0)
          .select(col("p_partkey").as("key_a"), col("p_name").as("name_a"))
        val b = T(s, d, "part").filter(col("p_partkey") % 41 === 0)
          .select(col("p_partkey").as("key_b"), col("p_name").as("name_b"))
        a.crossJoin(broadcast(b))
          .filter(col("key_a") < col("key_b"))
          .withColumn("jw", functions.StringSimilarity.jaroWinkler(col("name_a"), col("name_b")))
          .filter(col("jw") > 0.85)
          .select(col("key_a"), col("key_b"), round(col("jw"), 6).as("jw_sim"))
      },
      // the CASE replays the engine kernel's identical-strings short
      // circuit for the one input class where DuckDB disagrees: both
      // sides EMPTY, where jaro_winkler_similarity returns 0.0 (its empty
      // guard precedes its equality check) but the kernel scores two
      // identical strings 1.0 (fuzz seed 13, round 11)
      Some("""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  round(CASE WHEN a.p_name = '' AND b.p_name = '' THEN 1.0
        |        ELSE jaro_winkler_similarity(a.p_name, b.p_name) END, 6) AS jw_sim
        |FROM part a, part b
        |WHERE a.p_partkey % 37 = 0 AND b.p_partkey % 41 = 0
        |  AND a.p_partkey < b.p_partkey
        |  AND (CASE WHEN a.p_name = '' AND b.p_name = '' THEN 1.0
        |       ELSE jaro_winkler_similarity(a.p_name, b.p_name) END) > 0.85""".stripMargin)),

    // Integer PageRank over the part↔supplier bipartite graph (ops.Graph):
    // 5 iterations of shuffle-join + aggregate with scaled-integer ranks,
    // so the oracle can unroll the SAME iterations in SQL and match
    // exactly (a double PageRank drifts by engine ulps per iteration).
    // Top-30 tie-break: (rank DESC, node).
    CatalogEntry("pagerank_bipartite",
      (s, d) => {
        // long node ids (parts even, suppliers odd): distinct/shuffle on
        // longs, display labels rendered only on the final 30 rows
        // no pre-distinct: dedupEdges fuses the edge dedup into the
        // adjacency collect_set, one shuffle instead of two
        val edges = T(s, d, "lineitem")
          .select((col("l_partkey") * 2).cast("long").as("src"),
            (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
        // top-30 + label render happen on the driver (the rank vector is
        // already local on the vector path) — no extra Spark sort job
        ops.Graph.pageRankTopK(edges, "src", "dst", iterations = 5, k = 30,
          renderLocal = node => {
            val l = node.asInstanceOf[Long]
            if (l % 2 == 0) "p:" + (l / 2) else "s:" + (l / 2)
          },
          renderSql = "CASE WHEN node % 2 = 0 THEN 'p:' || CAST(node div 2 AS STRING) " +
            "ELSE 's:' || CAST(node div 2 AS STRING) END",
          dedupEdges = true,
          // ~21k adjacency rows at sf0.1: 8 cached partitions, not 32 —
          // each of the 5 iterations scans the cache once, so near-empty
          // partitions are task-launch overhead × iterations
          adjPartitions = 8)
      },
      Some("""WITH e0 AS (
        |  SELECT DISTINCT CAST(l_partkey * 2 AS BIGINT) AS src,
        |                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst FROM lineitem
        |  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
        |), e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
        |), deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1
        |), base AS (SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS b FROM deg
        |), it0 AS (SELECT src AS node, (SELECT b FROM base) AS rank FROM deg
        |), it1 AS (
        |  SELECT e.dst AS node, CAST((15 * (SELECT b FROM base)) // 100
        |    + (85 * SUM(r.rank // d.outdeg)) // 100 AS BIGINT) AS rank
        |  FROM e JOIN it0 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1
        |), it2 AS (
        |  SELECT e.dst AS node, CAST((15 * (SELECT b FROM base)) // 100
        |    + (85 * SUM(r.rank // d.outdeg)) // 100 AS BIGINT) AS rank
        |  FROM e JOIN it1 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1
        |), it3 AS (
        |  SELECT e.dst AS node, CAST((15 * (SELECT b FROM base)) // 100
        |    + (85 * SUM(r.rank // d.outdeg)) // 100 AS BIGINT) AS rank
        |  FROM e JOIN it2 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1
        |), it4 AS (
        |  SELECT e.dst AS node, CAST((15 * (SELECT b FROM base)) // 100
        |    + (85 * SUM(r.rank // d.outdeg)) // 100 AS BIGINT) AS rank
        |  FROM e JOIN it3 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1
        |), it5 AS (
        |  SELECT e.dst AS node, CAST((15 * (SELECT b FROM base)) // 100
        |    + (85 * SUM(r.rank // d.outdeg)) // 100 AS BIGINT) AS rank
        |  FROM e JOIN it4 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1
        |)
        |SELECT CASE WHEN node % 2 = 0 THEN 'p:' || CAST(node // 2 AS VARCHAR)
        |            ELSE 's:' || CAST(node // 2 AS VARCHAR) END AS node, rank
        |FROM it5 ORDER BY rank DESC, node LIMIT 30""".stripMargin)),

    // Deterministic weighted sampling (A-ES / exponential-jitter keys):
    // priority = -ln(u)/w with u a (0,1] md5-hash uniform — the standard
    // one-pass weighted reservoir, as a top-k by priority. Both engines'
    // ln differ by at most an ulp; the measured relative gap between
    // rank-100 and rank-101 keys is 2.8e-3 (sf0.01), so the SELECTED SET
    // is stable and only hash-exact columns (key, weight) are output. At
    // 100 TB this is TakeOrderedAndProject: per-partition k-heaps, no
    // shuffle of the data itself.
    CatalogEntry("weighted_sample",
      (s, d) => T(s, d, "orders")
        // A-ES weights must be POSITIVE: w = 0 divides by zero, w < 0
        // inverts the priority order, w NULL is unweighable (round-10
        // sweep; the > 0 predicate excludes NULL on both engines)
        .where(col("o_totalprice") > 0)
        .withColumn("u",
          (ops.Replay.hash60(concat(lit("ws:"), col("o_orderkey").cast("string"))) + 1)
            / lit(1152921504606846976.0))
        .withColumn("k", -log(col("u")) / col("o_totalprice"))
        .orderBy(col("k"), col("o_orderkey")).limit(100)
        .select(col("o_orderkey"), col("o_totalprice")),
      Some("""WITH t AS (
        |  SELECT o_orderkey, o_totalprice,
        |    -ln((('0x' || substr(md5('ws:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT + 1)
        |        / 1152921504606846976.0) / o_totalprice AS k
        |  FROM orders WHERE o_totalprice > 0)
        |SELECT o_orderkey, o_totalprice FROM t ORDER BY k, o_orderkey LIMIT 100""".stripMargin)),

    // Shannon token entropy per document (the vocabulary-diversity quality
    // signal): H = log2(n) - sum(c*log2(c))/n over per-doc token counts —
    // two codegen hash aggregates, no window. Per-doc float sums differ
    // across engines only in accumulation order -> round(,6) parity
    // (stats_suite convention).
    CatalogEntry("token_entropy",
      (s, d) => {
        val tok = docs(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
        tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).cast("long").as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            round(log2(sum(col("c"))) - sum(col("c") * log2(col("c"))) / sum(col("c")), 6)
              .as("entropy"))
      },
      Some("""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), tc AS (
        |  SELECT doc_id, token, COUNT(*) AS c FROM tok WHERE token <> '' GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
        |  round(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6) AS entropy
        |FROM tc GROUP BY 1""".stripMargin)),

    // ANSI FILTER (WHERE ...) aggregate clause — per-aggregate predicates
    // in one pass (the declarative twin of the when/otherwise conditional
    // sums in tpch_q12). Dialect-shared text; empty filtered SUM is NULL
    // in both engines.
    CatalogEntry("filtered_aggs",
      (s, d) => {
        T(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(filteredAggsSql)
      },
      Some(filteredAggsSql)),

    // Stable CONTIGUOUS row ids via sort + zipWithIndex — the scalable
    // pattern monotonically_increasing_id cannot give (its ids jump by
    // partition stride). Sort gives a total order (range partitioning);
    // zipWithIndex then numbers rows with ONE tiny job collecting per-
    // partition counts — no single-partition coalesce, no window over the
    // whole table (row_number without PARTITION BY is the 1-partition
    // scale-killer the oracle uses, fine for DuckDB, wrong for Spark).
    CatalogEntry("row_ids",
      (s, d) => {
        val src = T(s, d, "supplier").orderBy(col("s_suppkey"))
        val schema = src.schema.add("row_id", org.apache.spark.sql.types.LongType)
        val rdd = src.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
        }
        s.createDataFrame(rdd, schema)
          .select(col("s_suppkey"), col("row_id"))
      },
      Some("""SELECT s_suppkey,
        |  row_number() OVER (ORDER BY s_suppkey) - 1 AS row_id
        |FROM supplier""".stripMargin)),

    // The custom physical operator (plans.TopKPerGroup: logical node ->
    // strategy -> partial/final bounded-heap execs): top-3 customers per
    // nation by balance. Same answer as a window row_number <= 3, but the
    // plan is heap-prune -> one hash exchange -> heap, never a full
    // partition sort. Ordering is total (acctbal desc, custkey asc), so the
    // result is deterministic and the oracle is the window form.
    CatalogEntry("topk_native",
      (s, d) => plans.TopKPerGroup(
          T(s, d, "customer"), Seq("c_nationkey"),
          Seq(("c_acctbal", true), ("c_custkey", false)), k = 3)
        .select(col("c_nationkey"), col("c_custkey"),
          col("c_acctbal").cast(DoubleType).as("acctbal")),
      Some("""SELECT c_nationkey, c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal
        |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
        |        row_number() OVER (PARTITION BY c_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer) ranked
        |WHERE rn <= 3""".stripMargin)),

    // Okapi BM25 retrieval scores against a fixed query term set. Every
    // arithmetic step is a double op the oracle mirrors verbatim (literals
    // cast to double on the SQL side — DuckDB would otherwise multiply
    // BIGINT·DECIMAL exactly where Spark multiplies doubles); only the
    // per-doc sum over matched terms is order-dependent -> round(,6).
    CatalogEntry("bm25_scores",
      (s, d) => ops.TextAnalysis.bm25Scores(docs(s, d),
        queryTerms = Seq("spark", "join", "window", "shuffle")),
      Some(raw"""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT (SELECT COUNT(*) FROM documents) AS n,
        |         (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(DISTINCT doc_id) FROM dl) AS avgdl
        |), qdf AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf
        |  WHERE term IN ('spark', 'join', 'window', 'shuffle') GROUP BY 1
        |)
        |SELECT tf.doc_id,
        |  round(SUM(ln(1e0 + (stats.n - qdf.df + 0.5) / (qdf.df + 0.5))
        |    * ((CAST(tf.tf AS DOUBLE) * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / stats.avgdl))))), 6) AS bm25,
        |  CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM tf JOIN qdf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |GROUP BY 1""".stripMargin)),

    // Per-source KL divergence from the corpus unigram distribution — the
    // data-mixture drift diagnostic. Probabilities are exact-count double
    // divisions; the per-source sum rounds to 6 (accumulation order).
    CatalogEntry("source_kl_divergence",
      (s, d) => ops.TextAnalysis.sourceKlDivergence(docs(s, d)),
      Some(raw"""WITH toks AS (
        |  SELECT source,
        |    unnest(string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents WHERE source IS NOT NULL
        |), tf AS (
        |  SELECT source, term, COUNT(*) AS cnt FROM toks WHERE length(term) > 0 GROUP BY 1, 2
        |), st AS (SELECT source, SUM(cnt) AS total FROM tf GROUP BY 1
        |), gt AS (SELECT term, SUM(cnt) AS gcnt FROM tf GROUP BY 1
        |), g AS (SELECT SUM(cnt) AS gtotal FROM tf)
        |SELECT tf.source,
        |  round(SUM((CAST(tf.cnt AS DOUBLE) / st.total)
        |    * ln((CAST(tf.cnt AS DOUBLE) / st.total) / (CAST(gt.gcnt AS DOUBLE) / g.gtotal))), 6) AS kl,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms
        |FROM tf JOIN st USING (source) JOIN gt USING (term) CROSS JOIN g
        |GROUP BY 1""".stripMargin)),

    // Boilerplate mining: word bigrams in ≥5% of documents. The threshold
    // compares via integer cross-multiplication on both sides — see the
    // operator scaladoc for the double-ceil tie hazard it avoids.
    CatalogEntry("boilerplate_ngrams",
      (s, d) => ops.TextAnalysis.boilerplateGrams(docs(s, d), n = 2, minDocPct = 5),
      Some(raw"""WITH toks AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(${lowerTextSql}, '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents
        |), grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[j:j+1], ' ') AS gram
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS j) u
        |  WHERE len(t) >= 2
        |)
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM grams GROUP BY 1
        |HAVING COUNT(*) * 100 >= 5 * (SELECT COUNT(*) FROM documents)""".stripMargin)),

    // Distinct count over a sliding frame: Spark windows reject DISTINCT
    // aggregates, so the idiom is collect_list over the frame ->
    // array_distinct -> size (bounded by the 10-row frame, so the per-row
    // buffer is constant). DuckDB states the same thing natively as
    // COUNT(DISTINCT) OVER — the oracle pins the workaround's semantics
    // against the native form.
    CatalogEntry("window_count_distinct",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").cast("date"), col("o_orderkey"))
          .rowsBetween(-9, Window.currentRow)
        T(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
          size(array_distinct(collect_list(col("o_orderpriority")).over(w))).as("n_prios"))
      },
      Some("""SELECT o_custkey, o_orderkey,
        |  COUNT(DISTINCT o_orderpriority) OVER (PARTITION BY o_custkey
        |    ORDER BY CAST(o_orderdate AS DATE) NULLS FIRST, o_orderkey
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS n_prios
        |FROM orders""".stripMargin)),

    // Training-mixture weights with temperature sampling (alpha = 0.5):
    // per-source sampling weight ∝ size^alpha — the standard multilingual/
    // multi-source rebalancing rule. sqrt is IEEE-exact in both engines;
    // only the 20-term normalizing sum is order-sensitive -> round(,6).
    // One tiny aggregate + a 1-row broadcast: nothing here grows with
    // corpus size except the first groupBy.
    CatalogEntry("mixture_weights",
      (s, d) => {
        val src = docs(s, d).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("n_chars"))
        val tot = src.agg(sum(sqrt(col("n_chars").cast("double"))).as("tw"))
        src.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_chars"),
            round(sqrt(col("n_chars").cast("double")) / col("tw"), 6).as("mix_weight"))
      },
      Some("""WITH src AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY 1
        |), w AS (
        |  SELECT source, n_docs, n_chars, sqrt(CAST(n_chars AS DOUBLE)) AS raw_w FROM src
        |)
        |SELECT source, n_docs, n_chars,
        |  round(raw_w / (SELECT SUM(raw_w) FROM w), 6) AS mix_weight
        |FROM w""".stripMargin)),

    // Passage-level exact dedup: fixed 20-token chunks per document,
    // repeated chunks surfaced with occurrence/document counts — the
    // within-and-across-document duplication signal paragraph dedup needs
    // when documents themselves are distinct. The chunking lambda runs per
    // CHUNK over a materialized token array (ROUNDLOG lesson 1 — never per
    // token); the aggregate shuffles chunk text once, and at 100 TB the
    // groupBy key would be the chunk md5, not the text.
    CatalogEntry("passage_dedup",
      (s, d) => docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, CAST(ceil(size(ts) / 20.0) AS INT) - 1), " +
            "i -> array_join(slice(ts, i * 20 + 1, 20), ' '))")).as("chunk"))
        .groupBy(col("chunk"))
        .agg(count(lit(1)).as("n_occurrences"), countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_occurrences") > 1),
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), chunks AS (
        |  SELECT doc_id, array_to_string(ts[(i*20+1):(i*20+20)], ' ') AS chunk
        |  FROM toks, LATERAL (SELECT unnest(range(0, CAST(ceil(len(ts)/20.0) AS INT))) AS i) g
        |)
        |SELECT chunk, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
        |FROM chunks GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin)),

    // Trailing EWMA (α=0.5) over the last 10 orders per customer: the
    // recursive smoother as a deterministic sequential fold over a bounded
    // ROWS frame (collect_list → aggregate). Both engines fold the same
    // list left-to-right in doubles, so values match bitwise. Unbounded
    // EWMA needs a stateful pass (see streaming.SessionStream) — the
    // windowed form is the shuffle-free batch approximation.
    CatalogEntry("ewma_trailing",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").cast("date"), col("o_orderkey"))
          .rowsBetween(-9, Window.currentRow)
        T(s, d, "orders")
          // null prices excluded on BOTH sides: DuckDB's list() keeps NULLs
          // (poisoning the fold), Spark's collect_list silently drops them —
          // an EWMA over an unmeasured value is undefined anyway
          .where(col("o_totalprice").isNotNull)
          .withColumn("xs", collect_list(col("o_totalprice")).over(w))
          .select(col("o_orderkey"), col("o_custkey"),
            when(size(col("xs")) === 1, element_at(col("xs"), 1))
              .otherwise(aggregate(
                slice(col("xs"), lit(2), size(col("xs")) - 1),
                element_at(col("xs"), 1),
                (acc, v) => acc * 0.5 + v * 0.5)).as("ewma"))
      },
      Some("""WITH t AS (
        |  SELECT o_orderkey, o_custkey,
        |    list(o_totalprice) OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_orderdate AS DATE) NULLS FIRST, o_orderkey
        |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS xs
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |)
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN len(xs) = 1 THEN xs[1]
        |       ELSE list_reduce(xs, (acc, v) -> acc * 0.5 + v * 0.5) END AS ewma
        |FROM t""".stripMargin)),

    // Percent-of-total (ratio_to_report): each nation's revenue share of
    // its region — exact decimal sums, ratio taken in doubles at the end
    CatalogEntry("revenue_share",
      (s, d) => {
        val joined = T(s, d, "customer")
          .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"))
          .join(T(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_regionkey"), col("n_name"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
        val w = Window.partitionBy(col("n_regionkey"))
        joined.select(col("n_regionkey"), col("n_name"),
          col("rev").cast(DoubleType).as("revenue"),
          (col("rev").cast(DoubleType) / sum(col("rev")).over(w).cast(DoubleType))
            .as("region_share"))
      },
      Some("""WITH t AS (
        |  SELECT n_regionkey, n_name,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2
        |)
        |SELECT n_regionkey, n_name, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER (PARTITION BY n_regionkey) AS DOUBLE)
        |    AS region_share
        |FROM t""".stripMargin)),

    // Native session windows: groupBy(session_window(ts, gap)) — the
    // engine-managed merge of overlapping [ts, ts+gap) intervals, vs the
    // lag/cumsum islands idiom in `sessionize` (same boundary convention).
    // Gap comparison is STRICT (> gap splits): Spark's native
    // session_window merges sessions that touch exactly (next.ts ==
    // last.ts + gap extends the session — fuzz seed 1 caught the oracle's
    // >= splitting there), the same inclusive-touch convention
    // Sessions.sessionize pins for the custom twin.
    CatalogEntry("session_window_agg",
      (s, d) => eventsTable(s, d)
        .where(col("ts").isNotNull) // the events_hourly no-event-time contract
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))
        .select(col("user_id"),
          expr("unix_micros(CAST(session_window.start AS TIMESTAMP))").as("session_start_us"),
          expr("unix_micros(CAST(session_window.end AS TIMESTAMP))").as("session_end_us"),
          col("n_events"), col("total_value")),
      Some("""WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events WHERE ts IS NOT NULL
        |), m AS (
        |  SELECT user_id, ts_us, value,
        |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
        |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |), s AS (
        |  SELECT user_id, ts_us, value,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM m
        |)
        |SELECT user_id, MIN(ts_us) AS session_start_us,
        |  MAX(ts_us) + 1800000000 AS session_end_us,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, seq""".stripMargin)),

    // One-pass column profiling (ops.Profiler): per-column null/distinct
    // counts from a single wide aggregate + stack() unpivot
    CatalogEntry("profile_lineitem",
      // pre-aggregate spread (r16): the 5-way COUNT(DISTINCT) Expand (6×
      // rows) was fused into a ONE-core scan stage (single row group per
      // testdata file); one hash repartition of the profiled columns lets
      // the expand + partial aggregation use the whole machine. This one IS
      // an extra exchange — worth it because the expand's own exchange
      // ships ~|input|×5 partially-aggregated rows anyway (high-cardinality
      // distinct keys defeat partial reduction), so the added raw-row hop
      // is a ~1/6 byte increase for full parallelism.
      (s, d) => ops.Profiler.profile(
        T(s, d, "lineitem").repartition(col("l_orderkey")),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_shipdate")),
      Some(Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_shipdate")
        .map(c => s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
          |  COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct FROM lineitem""".stripMargin)
        .mkString("\nUNION ALL\n"))),

    // Declarative DQ checks (etl.DataQuality): one row per check with its
    // violation count — uniqueness, referential integrity, accepted values,
    // range. Clean checks prove 0; dirty ones count real testdata rows.
    CatalogEntry("dq_checks",
      (s, d) => {
        import etl.DataQuality._
        val orders = T(s, d, "orders")
        val customer = T(s, d, "customer")
        report(Seq(
          Check("orders_pk_unique", unique(orders, Seq("o_orderkey"))),
          Check("orders_fk_customer", orphans(orders, "o_custkey", customer, "c_custkey")),
          Check("orderstatus_accepted", acceptedValues(orders, "o_orderstatus", Seq("F", "O"))),
          Check("acctbal_nonnegative", customer.filter(col("c_acctbal") < 0)),
          Check("cust_day_unique", unique(orders, Seq("o_custkey", "o_orderdate")))))
      },
      Some("""SELECT 'orders_pk_unique' AS check_name,
        |  CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_violations
        |  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
        |UNION ALL
        |SELECT 'orders_fk_customer', COUNT(*) FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |UNION ALL
        |SELECT 'orderstatus_accepted', COUNT(*) FROM orders
        |  WHERE o_orderstatus NOT IN ('F', 'O') OR o_orderstatus IS NULL
        |UNION ALL
        |SELECT 'acctbal_nonnegative', COUNT(*) FROM customer WHERE c_acctbal < 0
        |UNION ALL
        |SELECT 'cust_day_unique', CAST(COALESCE(SUM(c), 0) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_custkey, o_orderdate
        |        HAVING COUNT(*) > 1)""".stripMargin)),

    // Re-aggregatable partial state: daily partial aggregates merged to
    // monthly (sum-of-sums, min-of-mins, avg from merged sum/count) — the
    // incremental-materialization pattern; oracle aggregates raw directly,
    // proving the merge is lossless
    CatalogEntry("partial_agg_merge",
      (s, d) => {
        val daily = T(s, d, "orders")
          .withColumn("day", col("o_orderdate").cast("date"))
          .groupBy(col("o_custkey"), col("day"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sum_p"),
            min(col("o_totalprice")).as("min_p"),
            max(col("o_totalprice")).as("max_p"))
        daily
          .withColumn("month", date_trunc("month", col("day")).cast("date"))
          .groupBy(col("o_custkey"), col("month"))
          .agg(sum(col("cnt")).as("n_orders"),
            sum(col("sum_p")).cast(DoubleType).as("total_price"),
            min(col("min_p")).as("min_price"),
            max(col("max_p")).as("max_price"))
          .withColumn("avg_price", col("total_price") / col("n_orders"))
      },
      Some("""SELECT o_custkey,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM orders GROUP BY 1, 2""".stripMargin)),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys match
    // each other instead of dropping out
    CatalogEntry("null_safe_join",
      (s, d) => {
        val n = T(s, d, "nation").select(col("n_nationkey"),
          when(col("n_regionkey") % 2 === 0, col("n_regionkey")).as("rk"))
        val r = T(s, d, "region").select(
          when(col("r_regionkey") % 2 === 0, col("r_regionkey")).as("rk2"), col("r_name"))
        n.join(r, col("rk") <=> col("rk2"))
          .groupBy(col("r_name")).agg(count(lit(1)).as("n_matches"))
      },
      Some("""WITH n AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_regionkey % 2 = 0 THEN n_regionkey END AS rk FROM nation
        |), r AS (
        |  SELECT CASE WHEN r_regionkey % 2 = 0 THEN r_regionkey END AS rk2, r_name
        |  FROM region
        |)
        |SELECT r_name, COUNT(*) AS n_matches
        |FROM n JOIN r ON n.rk IS NOT DISTINCT FROM r.rk2
        |GROUP BY 1""".stripMargin)),

    // VARIANT (semi-structured type): parse_json → variant_get typed path
    // extraction, plus a to_json→parse_json round trip from relational
    // columns. At scale VARIANT scans beat string re-parsing per access —
    // the binary encoding is parsed once.
    CatalogEntry("variant_extract",
      (s, d) => eventsRaw(s, d).select(
        col("event_id"),
        variant_get(parse_json(col("props")), "$.k", "long").as("k"),
        variant_get(parse_json(to_json(struct(col("event_type"), col("value")))),
          "$.event_type", "string").as("etype"),
        variant_get(parse_json(to_json(struct(col("event_type"), col("value")))),
          "$.value", "double").as("value_dbl")),
      Some("""SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  event_type AS etype, CAST(value AS DOUBLE) AS value_dbl
        |FROM events""".stripMargin)),

    // Recursive CTE: ancestor walk over the implicit binary-heap tree on
    // n_nationkey (parent = floor((k-1)/2)) — transitive closure in one
    // dialect-shared recursive query
    CatalogEntry("recursive_cte",
      (s, d) => {
        T(s, d, "nation").createOrReplaceTempView("nation")
        s.sql(recursiveAncestorsSql)
      },
      Some(recursiveAncestorsSql)),

    // LATERAL correlated subquery (top-3 customers per nation) — the same
    // dialect-shared text runs on Spark's parser and DuckDB; ties broken by
    // c_custkey for determinism
    CatalogEntry("lateral_topk",
      (s, d) => {
        T(s, d, "nation").createOrReplaceTempView("nation")
        T(s, d, "customer").createOrReplaceTempView("customer")
        s.sql(lateralTopkSql)
      },
      Some(lateralTopkSql)),

    // Higher-order array functions (transform/filter/aggregate/array_max)
    // fused in one map-only projection over the embeddings table. The fold
    // is sequential per row on both engines, so double sums match bitwise.
    CatalogEntry("hof_suite",
      (s, d) => T(s, d, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("n_dims"),
        sqrt(aggregate(transform(col("embedding"), x => x.cast("double") * x),
          lit(0.0), (a, x) => a + x)).as("l2_norm"),
        size(org.apache.spark.sql.functions.filter(col("embedding"), x => x > 0f)).as("n_pos"),
        array_max(transform(col("embedding"), x => abs(x))).cast("double").as("max_abs")),
      Some("""SELECT vec_id, len(embedding) AS n_dims,
        |  sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)*x), (a,b) -> a+b)) AS l2_norm,
        |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
        |  CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS max_abs
        |FROM embeddings""".stripMargin)),

    // Exact interpolated percentiles per group: Spark median/percentile vs
    // DuckDB median/quantile_cont (both linear-interpolation definitions).
    // round(…, 6) guards the same last-ulp interpolation divergence the 2×
    // sweep caught on `percentiles` (see that entry's comment).
    CatalogEntry("median_pcts",
      (s, d) => T(s, d, "lineitem").groupBy(col("l_returnflag")).agg(
        round(expr("median(CAST(l_quantity AS DOUBLE))"), 6).as("med_qty"),
        round(expr("percentile(CAST(l_quantity AS DOUBLE), 0.25)"), 6).as("q1_qty"),
        round(expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.75)"), 6).as("q3_price")),
      Some("""SELECT l_returnflag,
        |  round(median(CAST(l_quantity AS DOUBLE)), 6) AS med_qty,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 6) AS q1_qty,
        |  round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75), 6) AS q3_price
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // Constant-memory twin of median_pcts (same pattern as agg_approx /
    // agg_suite): exact `percentile` buffers EVERY group value in one
    // aggregation buffer — at 100× scale that is a handful of reducers each
    // materializing billions of doubles (SCALE.md). approx_percentile is the
    // scale path: a bounded KLL-style sketch per group, mergeable map-side.
    // The gate pins exact values + a tolerance flag on the sketched ones
    // (sketch output is deterministic for fixed data but engine-specific, so
    // the oracle asserts the tolerance, not the sketch).
    // within_tol pins the sketch's REAL guarantee — approx_percentile
    // returns an element whose rank covers the middle of the group — not
    // a value distance: |approx − median| ≤ 1.0 is false for a tiny
    // even-sized group with a wide middle gap (median interpolates
    // between the two middle elements, the sketch returns one of them —
    // fuzz sweep, round 11). The membership check is a broadcast-join
    // second pass counting ranks below/at the approx value: the value's
    // rank interval [lt+1, le] must cover a middle order statistic, give
    // or take the sketch's guaranteed rank error n/accuracy (n div
    // 10000 — zero for groups under the accuracy, where the sketch is
    // exact). An all-null group (both aggregates NULL) passes.
    CatalogEntry("median_pcts_approx",
      (s, d) => {
        val li = T(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_quantity").cast("double").as("q"))
        val agg = li.groupBy(col("l_returnflag")).agg(
          expr("median(q)").as("med_qty"),
          expr("approx_percentile(q, 0.5, 10000)").as("approx_med"))
        li.as("l")
          .join(broadcast(agg).as("a"),
            col("l.l_returnflag") <=> col("a.l_returnflag"))
          .groupBy(col("a.l_returnflag"), col("a.med_qty"), col("a.approx_med"))
          .agg(count(col("l.q")).as("n"),
            count(when(col("l.q") < col("a.approx_med"), 1)).as("lt"),
            count(when(col("l.q") <= col("a.approx_med"), 1)).as("le"))
          .select(col("l_returnflag"),
            // round(…, 6): same interpolation-ulp guard as median_pcts
            round(col("med_qty"), 6).as("med_qty"),
            ((col("approx_med").isNull && col("med_qty").isNull) ||
              (col("lt") <= expr("n div 2 + n div 10000") &&
                col("le") >= expr("(n + 1) div 2 - n div 10000")))
              .as("within_tol"))
      },
      Some("""SELECT l_returnflag,
        |  round(median(CAST(l_quantity AS DOUBLE)), 6) AS med_qty,
        |  TRUE AS within_tol
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // Event-time RANGE frame with an INTERVAL bound (trailing 30 calendar
    // days, not 30 rows) — dialect-shared text on both engines
    CatalogEntry("window_interval_range",
      (s, d) => {
        T(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(intervalRangeSql)
      },
      Some(intervalRangeSql)),

    // Forward fill (last non-null carried forward) via IGNORE NULLS window —
    // the gap-repair idiom for sparse sensor/feature series
    CatalogEntry("forward_fill",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").cast("date"), col("o_orderkey"))
        T(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          last(when(col("o_orderkey") % 3 === 0, col("o_totalprice")),
            ignoreNulls = true).over(w).as("filled"))
      },
      Some("""SELECT o_orderkey, o_custkey,
        |  last_value(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END IGNORE NULLS) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE) NULLS FIRST, o_orderkey) AS filled
        |FROM orders""".stripMargin)),

    // Multiset set ops: INTERSECT ALL / EXCEPT ALL keep duplicate
    // multiplicity (the distinct forms are in set_ops)
    CatalogEntry("set_ops_all",
      (s, d) => {
        val o = T(s, d, "orders")
        val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
        f.intersectAll(p).withColumn("set_op", lit("both"))
          .union(f.exceptAll(p).withColumn("set_op", lit("f_only")))
      },
      Some("""SELECT o_custkey, 'both' AS set_op FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
        |UNION ALL
        |SELECT o_custkey, 'f_only' AS set_op FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')""".stripMargin)),

    // feature vector unpacked to scalar columns (array columns break the
    // driver's pandas sort in the rows-only check). The deterministic fake
    // decode (byte-moment stats + 64-bit rolling checksum) is replayed by
    // the oracle over ascii code points (the corpus is pure ASCII, so
    // bytes == code points); the checksum's wrapping multiply is HUGEINT
    // arithmetic mod 2^64 mapped back to signed.
    CatalogEntry("multimodal_features",
      (s, d) => ops.Multimodal.extractFeatures(ops.Multimodal.asMediaTable(docs(s, d))).toDF()
        .select(col("doc_id"), col("n_bytes"), col("checksum"),
          element_at(col("feature"), 1).as("f_mean"),
          element_at(col("feature"), 2).as("f_var"),
          element_at(col("feature"), 3).as("f_len")),
      Some("""WITH b AS (
        |  SELECT doc_id, strlen(coalesce(text, '')) AS len,
        |    flatten(list_transform(
        |      list_filter(string_split(coalesce(text, ''), ''), ch -> ch <> ''),
        |      c -> CASE
        |        WHEN ascii(c) < 128 THEN [CAST(ascii(c) AS BIGINT)]
        |        WHEN ascii(c) < 2048 THEN [
        |          CAST(192 + ascii(c) // 64 AS BIGINT),
        |          CAST(128 + ascii(c) % 64 AS BIGINT)]
        |        WHEN ascii(c) < 65536 THEN [
        |          CAST(224 + ascii(c) // 4096 AS BIGINT),
        |          CAST(128 + (ascii(c) // 64) % 64 AS BIGINT),
        |          CAST(128 + ascii(c) % 64 AS BIGINT)]
        |        ELSE [
        |          CAST(240 + ascii(c) // 262144 AS BIGINT),
        |          CAST(128 + (ascii(c) // 4096) % 64 AS BIGINT),
        |          CAST(128 + (ascii(c) // 64) % 64 AS BIGINT),
        |          CAST(128 + ascii(c) % 64 AS BIGINT)]
        |      END)) AS bytes
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, len,
        |    CAST(coalesce(list_sum(bytes), 0) AS DOUBLE) AS s,
        |    CAST(coalesce(list_sum(list_transform(bytes, x -> x * x)), 0) AS DOUBLE) AS sq,
        |    CAST(GREATEST(len, 1) AS DOUBLE) AS n,
        |    list_reduce(
        |      list_prepend(CAST(1125899906842597 AS HUGEINT),
        |                   list_transform(bytes, x -> CAST(x AS HUGEINT))),
        |      (acc, x) -> (acc * 31 + x) % CAST('18446744073709551616' AS HUGEINT)) AS csum
        |  FROM b
        |)
        |SELECT doc_id, CAST(len AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN csum >= CAST('9223372036854775808' AS HUGEINT)
        |            THEN csum - CAST('18446744073709551616' AS HUGEINT)
        |            ELSE csum END AS BIGINT) AS checksum,
        |  CAST(s / n AS FLOAT) AS f_mean,
        |  CAST(sq / n - (s / n) * (s / n) AS FLOAT) AS f_var,
        |  CAST(len AS FLOAT) AS f_len
        |FROM m""".stripMargin)),

    // frame metadata (doc_id, frame_idx, n_bytes) is pure chunk arithmetic
    // over the payload BYTE length (strlen — the payload is the text's
    // UTF-8 bytes, not its characters; round-10 sweep caught the char
    // model diverging on non-ASCII) — every-2nd 64-byte chunk — so the
    // oracle replays it with range() math; the payload stays Spark-side
    CatalogEntry("multimodal_frames",
      (s, d) => ops.Multimodal.sampleFrames(ops.Multimodal.asMediaTable(docs(s, d)))
        .toDF().drop("frame"),
      Some("""WITH t AS (
        |  SELECT doc_id, strlen(coalesce(text, '')) AS len FROM documents
        |), f AS (
        |  SELECT doc_id, unnest(range(0, CAST(ceil(len / 64.0) AS INT))) AS frame_idx, len
        |  FROM t WHERE len > 0
        |)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  LEAST(64, len - frame_idx * 64) AS n_bytes
        |FROM f WHERE frame_idx % 2 = 0""".stripMargin)),
  )

  def all: Seq[CatalogEntry] = parity ++ extensions ++ QueryCatalogR7.entries ++
    QueryCatalogStores.entries

  /** Entries that execute a Structured Streaming query (micro-batches +
    * state stores), as opposed to batch plans. The bench isolates these in
    * their own chunk with state-store teardown between queries: a loaded
    * provider's maintenance churn otherwise bleeds into NEIGHBOR timings
    * (r9 verdict item 1 — dsv2_stream_agg swung 1.86 vs 4.47 s across
    * passes purely from chunk-mates). Membership is spec-pinned against
    * the catalog (QueryCatalogSpec).
    */
  val streamingNames: Set[String] = Set(
    "events_hourly_stream", "events_stream_static_join",
    "events_stream_stream_join", "events_stream_left_join",
    "events_stream_dedup", "dsv2_stream_agg",
    // stateless (foreachBatch) but still a real StreamingQuery — keep it
    // in the isolated streaming chunk so any future provider load cannot
    // bleed into batch neighbors
    "dedup_incremental_stream", "knn_ivf_incremental_stream")

  /** Batch entries that build PERSISTED stores under temp directories
    * (generation-delta parquet churn, multi-append/tombstone fold jobs,
    * driver-side FS traffic). The bench isolates these in their own
    * chunk-with-fresh-JVM, like [[streamingNames]]: the r13 run mixed them
    * into the shared batch chunks and the 200 untouched queries drifted
    * ~1.16× calib-normalized with no code diff — store-entry JVM litter
    * (tempdir write jobs, persisted frames, GC pressure) is the prime
    * suspect the r13 verdict ordered adjudicated (item 2). Membership is
    * [[QueryCatalogStores]] less its streaming entries, checked against the
    * name pattern by QueryCatalogSpec. Lazy: those entries read this
    * object's oracle SQL, so neither object may need the other to be built.
    */
  lazy val storeBuildNames: Set[String] =
    QueryCatalogStores.entries.map(_.name).toSet -- streamingNames
}
