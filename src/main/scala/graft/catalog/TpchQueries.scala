package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.functions.Cols
import graft.functions.Cols.moneySumSql
import CatalogInputs._

/** TPC-H query shapes over the sf tables, Q1 (`pricing_summary`) through
  * Q22. Where the schema lacks a TPC-H column (partsupp, commit dates,
  * phone), each SQL names its stand-in; the plan shape is the original's.
  */
private[graft] object TpchQueries {

  val entries: Seq[CatalogEntry] = Seq(

    // TPC-H Q1-shaped pricing summary: filter + wide aggregate, the classic
    // scan-dominated plan (predicate pushed to parquet, partial+final agg)
    CatalogEntry("pricing_summary",
      (s, d) => T(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Cols.moneySum(col("l_quantity")).as("sum_qty"),
          Cols.moneySum(col("l_extendedprice")).as("sum_base_price"),
          Cols.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("sum_disc_price"),
          // 3×2-dp factors ⇒ exactly 6 decimal digits: scale 6 is lossless;
          // scale 4 would round at a tie and Spark (shortest-string) vs
          // DuckDB (binary) disagree on ties
          Cols.moneySum(
            col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6)
            .as("sum_charge"),
          Cols.moneyAvg(col("l_quantity")).as("avg_qty"),
          Cols.moneyAvg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order")),
      Some(s"""SELECT l_returnflag, l_linestatus,
        |  ${moneySumSql("l_quantity")} AS sum_qty,
        |  ${moneySumSql("l_extendedprice")} AS sum_base_price,
        |  ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
        |  ${moneySumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
        |  ${moneySumSql("l_quantity")} / COUNT(l_quantity) AS avg_qty,
        |  ${moneySumSql("l_extendedprice")} / COUNT(l_extendedprice) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= '1998-09-02'
        |GROUP BY 1, 2""".stripMargin)),

    // TPC-H Q3/Q5 shapes as dialect-shared SQL — the canonical selective
    // multi-join aggregates; filters push to every scan, dims broadcast.
    // Q3 is shipping-priority revenue: the schema has no o_shippriority, so
    // o_orderpriority stands in. Ties at the LIMIT boundary broken by
    // l_orderkey.
    sharedSqlEntry("tpch_q3", Seq("customer", "orders", "lineitem"),
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin),

    // Dialect-shared TPC-H Q5 shape (local-supplier volume).
    sharedSqlEntry("tpch_q5", Seq("customer", "orders", "lineitem", "supplier", "nation", "region"),
      s"""SELECT n_name,
        |  ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
        |GROUP BY 1""".stripMargin),

    // Dialect-shared TPC-H Q18 shape (large-volume customers): a large IN
    // subquery over an aggregate HAVING — planned as a shuffle-free semi-join
    // of orders against the re-aggregated lineitem. Group key includes
    // o_orderkey, so the LIMIT tie-break on (total_price, o_orderkey) is
    // deterministic.
    sharedSqlEntry("tpch_q18", Seq("customer", "orders", "lineitem"),
      s"""SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(o_totalprice AS DOUBLE) AS total_price,
        |  ${moneySumSql("l_quantity")} AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY total_price DESC, o_orderkey
        |LIMIT 100""".stripMargin),

    // Dialect-shared TPC-H Q20 shape (the correlated nested-aggregate
    // subquery): suppliers who shipped > 40% of a small part's 1995 volume.
    // The schema has no partsupp, so lineitem self-correlates on l_partkey —
    // same plan shape as the original's availqty test: IN semi-join feeding
    // a grouped HAVING whose bound is a correlated scalar aggregate.
    sharedSqlEntry("tpch_q20", Seq("supplier", "nation", "lineitem", "part"),
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
        |      AND CAST(l2.l_shipdate AS DATE) < DATE '1996-01-01'))""".stripMargin),

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
      Some(s"""SELECT supp_nation, cust_nation, l_year,
        |  ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
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
      Some(s"""SELECT c_custkey, c_name,
        |  ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
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
      Some(s"""SELECT CAST(100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |  / ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)}
        |  AS DOUBLE) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1995-09-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1995-10-01'""".stripMargin)),

    // Dialect-shared TPC-H Q2 shape (minimum-cost supplier): the schema has
    // no partsupp, so per-(part, supplier) unit cost derives from lineitem as
    // MIN(extendedprice/quantity) — a pure-double division, IEEE-identical in
    // both engines, so the correlated-MIN equality is exact. Plan shape is
    // the original's: a derived supply table joined to dims, filtered by a
    // correlated scalar MIN over the same derived table. A zero-quantity
    // line has no unit cost: NULLIF makes the division NULL (skipped by
    // MIN) in both engines — under ANSI Spark a bare /0 throws while
    // DuckDB's double division yields inf, silently corrupting the MIN
    // (fuzz sweep, round 11). The ps CTE is tiny relative to lineitem (one
    // row per (part, supplier) seen) — at 100 TB it aggregates map-side first.
    sharedSqlEntry("tpch_q2", Seq("part", "supplier", "nation", "region", "lineitem"),
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
        |      WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')""".stripMargin),

    // Dialect-shared TPC-H Q4 shape (order-priority checking): EXISTS
    // semi-join against lineitem. The schema has no commit/receipt dates, so
    // "late" is shipdate > orderdate + 30 days — same semi-join plan.
    sharedSqlEntry("tpch_q4", Seq("orders", "lineitem"),
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
        |              AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 30 DAY)
        |GROUP BY 1""".stripMargin),

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
      Some(s"""SELECT ${moneySumSql("l_extendedprice * l_discount", 4)} AS revenue
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

    // Dialect-shared TPC-H Q11 shape (important stock): grouped HAVING
    // against an uncorrelated scalar aggregate over the same CTE (a
    // global-fraction cut). Value per (part, supplier) derives from lineitem
    // (no partsupp); both the group sums and the global sum accumulate as
    // exact decimals, and the fraction compare happens on one deterministic
    // double multiply each side.
    sharedSqlEntry("tpch_q11", Seq("lineitem", "supplier", "nation"),
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7'
        |  GROUP BY 1, 2)
        |SELECT l_partkey AS ps_partkey, CAST(SUM(val) AS DOUBLE) AS part_value
        |FROM ps GROUP BY 1
        |HAVING CAST(SUM(val) AS DOUBLE) > (SELECT CAST(SUM(val) AS DOUBLE) * 0.001 FROM ps)""".stripMargin),

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

    // Dialect-shared TPC-H Q15 shape (top supplier): CTE view + scalar MAX
    // subquery over it. total_revenue is an exact-decimal sum cast to double
    // on both sides, so the MAX equality is exact.
    sharedSqlEntry("tpch_q15", Seq("supplier", "lineitem"),
      s"""WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)} AS total_revenue
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)""".stripMargin),

    // Dialect-shared TPC-H Q16 shape (parts/supplier relationship count):
    // COUNT(DISTINCT) under a null-aware NOT IN anti-join (complaint
    // suppliers → negative account balance stands in for the comment LIKE).
    sharedSqlEntry("tpch_q16", Seq("part", "supplier", "lineitem"),
      """SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#3' AND p_type NOT IN ('PROMO', 'ECONOMY')
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin),

    // Dialect-shared TPC-H Q17 shape (small-quantity-order revenue): a
    // correlated scalar AVG per part. l_quantity is whole-valued, so the
    // double AVG is exact regardless of either engine's summation order, and
    // the 0.2× cut is one deterministic multiply.
    sharedSqlEntry("tpch_q17", Seq("part", "lineitem"),
      s"""SELECT CAST(${moneySumSql("l_extendedprice")} / 7.0 AS DOUBLE) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#5' AND p_type = 'SMALL'
        |  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin),

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
      Some(s"""SELECT ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // Dialect-shared TPC-H Q21 shape (suppliers who kept orders waiting):
    // the double-correlated EXISTS / NOT EXISTS pair on the same fact —
    // "this supplier shipped late on a multi-supplier order where no other
    // supplier was late". Late = shipdate > orderdate + 60 days (no
    // commit/receipt dates in the schema).
    sharedSqlEntry("tpch_q21", Seq("supplier", "lineitem", "orders", "nation"),
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
        |GROUP BY 1""".stripMargin),

    // Dialect-shared TPC-H Q22 shape (global sales opportunity): an
    // uncorrelated scalar-AVG cut plus a NOT EXISTS anti-join. No c_phone in
    // the schema, so country code = c_nationkey % 10; "no orders" becomes
    // "no open ('O') orders" (every synthetic customer has some order). The
    // AVG threshold is computed as exact-decimal SUM cast to double, divided
    // by the count — one IEEE division, identical both engines (a native
    // decimal AVG would round at engine-specific scales).
    sharedSqlEntry("tpch_q22", Seq("customer", "orders"),
      s"""SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  ${moneySumSql("c_acctbal")} AS totacctbal
        |FROM (
        |  SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal, c_custkey
        |  FROM customer
        |  WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)
        |    AND c_acctbal > (SELECT ${moneySumSql("c_acctbal")} / COUNT(*)
        |                     FROM customer
        |                     WHERE c_acctbal > 0.0 AND c_nationkey % 10 IN (1, 3, 5, 7, 9))
        |) custsale
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY 1""".stripMargin),
  )
}
