package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.etl.{Enrichment, Marts, Validation}
import graft.functions.Cols
import graft.functions.Cols.moneySumSql
import graft.io.Sources
import CatalogInputs._

/** Relational and mart queries: the reference pipeline's marts
  * (SURVEY.md §2 A/W/J/C families), joins of every kind, set operations,
  * projections and the scalar-function surface, upserts, SCD2 and CDC,
  * dialect-shared SQL (subqueries, LATERAL, recursive CTEs, LIMIT/OFFSET),
  * and the DataSourceV2 batch scan.
  */
private[graft] object RelationalQueries {

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
    s"""SELECT c_custkey AS customer_id, c_name AS full_name,
      |  substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS sales_month,
      |  ${moneySumSql("o_totalprice")} AS total_sales
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2, 3""".stripMargin

  val entries: Seq[CatalogEntry] = Seq(

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
      Some(s"""WITH t AS (
        |  SELECT c_nationkey AS store_id, o_custkey AS sales_person_id,
        |    substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS sales_month,
        |    ${moneySumSql("o_totalprice")} AS total_sales
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
      Some(s"""SELECT c_custkey,
        |  ${moneySumSql("COALESCE(o_totalprice, 0.0)")} AS spend_or_zero,
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
      Some(s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  ${moneySumSql("o_totalprice")} AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin)),

    // Full SQL surface: the same dialect-shared SQL text runs on Spark's
    // parser (over temp views) AND as the DuckDB oracle
    sharedSqlEntry("sql_revenue_by_segment", Seq("lineitem", "orders", "customer"),
      s"""SELECT c_mktsegment,
        |  COUNT(DISTINCT o_orderkey) AS n_orders,
        |  ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    // Correlated scalar subquery through the SQL parser (same text both
    // engines)
    sharedSqlEntry("sql_scalar_subquery", Seq("orders", "customer"),
      """SELECT o_orderkey, o_totalprice,
        |  (SELECT c_name FROM customer WHERE c_custkey = o_custkey) AS customer_name
        |FROM orders
        |WHERE o_orderstatus = 'P'""".stripMargin),

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
    sharedSqlEntry("exists_subquery", Seq("customer", "orders"),
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin),

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
      Some(s"""WITH bands(band_id, lo, hi) AS (
        |  VALUES (0, 0e0, 2e4), (1, 1e4, 3e4), (2, 25e3, 6e4), (3, 5e4, 1e5))
        |SELECT band_id, COUNT(*) AS cnt,
        |  ${moneySumSql("l_extendedprice")} AS sum_price
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
      Some(s"""SELECT s_nationkey, COUNT(*) AS cnt,
        |  ${moneySumSql("l_extendedprice")} AS sum_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin)),

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
      Some(s"""WITH f AS (
        |  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    o_totalprice
        |  FROM orders
        |  WHERE o_orderdate >= '1995-01-01'
        |    AND CAST(date_trunc('month', o_orderdate) AS DATE) <= DATE '1995-12-01'
        |), monthly AS (
        |  SELECT o_custkey, month, COUNT(*) AS n_rows,
        |    ${moneySumSql("o_totalprice")} AS total
        |  FROM f GROUP BY 1, 2
        |), spine AS (
        |  SELECT DISTINCT o_custkey, CAST(unnest(generate_series(
        |    DATE '1995-01-01', DATE '1995-12-01', INTERVAL 1 MONTH)) AS DATE) AS month
        |  FROM orders
        |)
        |SELECT spine.o_custkey, spine.month,
        |  COALESCE(n_rows, 0) AS n_rows, COALESCE(total, 0e0) AS total
        |FROM spine LEFT JOIN monthly USING (o_custkey, month)""".stripMargin)),

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
    // shared lead() window. NOTE the global-order window is one partition —
    // fine for the gate's id-space size; at 100 TB bucket ids by range first
    // and find gaps within buckets + at bucket borders.
    sharedSqlEntry("sequence_gaps", Seq("orders"),
      """SELECT k + 1 AS gap_start, next_k - 1 AS gap_end, next_k - k - 1 AS gap_len
        |FROM (SELECT o_orderkey AS k,
        |        lead(o_orderkey) OVER (ORDER BY o_orderkey) AS next_k
        |      FROM orders WHERE o_orderstatus = 'F') t
        |WHERE next_k > k + 1""".stripMargin),

    // Deterministic keyset-free pagination: ORDER BY unique key + LIMIT/
    // OFFSET (dialect-shared). At scale prefer keyset pagination (WHERE
    // key > last_seen) — OFFSET still sorts/skips the prefix.
    sharedSqlEntry("limit_offset", Seq("orders"),
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20 OFFSET 40""".stripMargin),

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
    sharedSqlEntry("recursive_cte", Seq("nation"),
      """WITH RECURSIVE anc AS (
        |  SELECT n_nationkey AS node, n_nationkey AS anc, 0 AS depth FROM nation
        |  UNION ALL
        |  SELECT node, CAST(floor((anc - 1) / 2) AS INT) AS anc, depth + 1 AS depth
        |  FROM anc WHERE anc > 0
        |)
        |SELECT node, anc, depth FROM anc""".stripMargin),

    // LATERAL correlated subquery (top-3 customers per nation) — the same
    // dialect-shared text runs on Spark's parser and DuckDB; ties broken by
    // c_custkey for determinism
    sharedSqlEntry("lateral_topk", Seq("nation", "customer"),
      """SELECT n_name, c.c_custkey, c.c_acctbal
        |FROM nation, LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c""".stripMargin),

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

    // Bloom-prefilter join: the fact side is pruned MAP-SIDE against a
    // 4 KB broadcast bitmap (3 md5-derived bit positions per key, all
    // codegen Column bit math — no explode, no UDF) before the exact join
    // removes the ~2-3% false positives. The oracle is the PLAIN join:
    // the bloom only prunes, so the result is identical by construction —
    // this pins the optimization as semantics-preserving. Bitmap build is
    // a dim-sized driver-side fold (the IVF static-init pattern).
    CatalogEntry("bloom_join",
      (s, d) => {
        // xxhash64, not the md5 replay kernel: the bloom is pure pruning
        // (the exact join removes FPs), so nothing needs cross-engine
        // replay and the fact-side probe stays a cheap codegen'd hash
        val m = 32768
        def posCol(i: Int, c: org.apache.spark.sql.Column) =
          pmod(xxhash64(lit(i), c), lit(m)).cast("int")
        val dim = T(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        val words = new Array[Long](m / 64)
        dim.select(explode(array((0 until 3).map(i =>
            posCol(i, col("o_orderkey"))): _*)).as("p"))
          .distinct().collect()
          .foreach { r => val p = r.getInt(0); words(p / 64) |= (1L << (p % 64)) }
        val hit = (0 until 3).map(i =>
          expr(s"(shiftright(element_at(bmp, CAST(p$i div 64 AS INT) + 1), " +
            s"CAST(p$i % 64 AS INT)) & 1) = 1")).reduce(_ && _)
        (0 until 3).foldLeft(
            T(s, d, "lineitem").withColumn("bmp", typedLit(words.toSeq))) {
            (df, i) => df.withColumn(s"p$i", posCol(i, col("l_orderkey")))
          }
          .filter(hit)
          .join(dim, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("cnt"),
            Cols.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS cnt,
        |  ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin)),

    // unionByName with missing columns — schema-evolution union (the
    // append that survives a column added to one source but not another)
    CatalogEntry("union_by_name",
      (s, d) => {
        val a = T(s, d, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val b = T(s, d, "orders").filter(col("o_orderstatus") === "P")
          .select(col("o_orderkey"), col("o_orderpriority"))
        a.unionByName(b, allowMissingColumns = true)
      },
      Some("""SELECT o_orderkey, o_totalprice, o_orderstatus,
        |  NULL AS o_orderpriority
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, NULL, NULL, o_orderpriority
        |FROM orders WHERE o_orderstatus = 'P'""".stripMargin)),

    // The custom DataSource V2 (sources.GeneratedTableProvider) under a
    // filtered aggregate: the id-range predicate pushes into the SOURCE
    // (the scan plans only the surviving generated interval — source-side
    // partition pruning, asserted in GeneratedSourceSpec) and the
    // projection prunes the produced columns. The generator is a pure
    // integer function of id, so DuckDB replays it from range().
    CatalogEntry("dsv2_generated_scan",
      (s, d) => s.read.format("graft-gen")
        .option("rows", "100000").option("parts", "8").load()
        .filter(col("id") >= 25000L && col("id") < 75000L)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"),
          Cols.moneySum(col("val"), 0).as("sum_val"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id")),
      Some(s"""WITH g AS (SELECT range AS id FROM range(0, 100000)),
        |v AS (
        |  SELECT id, CAST((id * 2654435761) % 1000003 AS DOUBLE) AS val,
        |    CAST(id % 16 AS INT) AS bucket
        |  FROM g WHERE id >= 25000 AND id < 75000
        |)
        |SELECT bucket, COUNT(*) AS cnt,
        |  ${moneySumSql("val", 0)} AS sum_val,
        |  CAST(MIN(id) AS BIGINT) AS min_id, CAST(MAX(id) AS BIGINT) AS max_id
        |FROM v GROUP BY 1""".stripMargin)),

    // Calendar dimension over the order-date span — the conformed date dim
    // every mart joins; only fields with identical cross-engine semantics
    // (ISO day-of-week via weekday()+1 / isodow; NOT dayofweek, whose week
    // start differs between engines)
    CatalogEntry("calendar_dim",
      (s, d) => {
        val span = T(s, d, "orders").agg(
          min(col("o_orderdate").cast("date")).as("d0"),
          max(col("o_orderdate").cast("date")).as("d1"))
        span.select(explode(sequence(col("d0"), col("d1"),
            expr("INTERVAL 1 DAY"))).as("cal_date"))
          .select(col("cal_date"),
            year(col("cal_date")).cast("long").as("cal_year"),
            month(col("cal_date")).cast("long").as("cal_month"),
            dayofmonth(col("cal_date")).cast("long").as("cal_day"),
            quarter(col("cal_date")).cast("long").as("cal_quarter"),
            (weekday(col("cal_date")) + 1).cast("long").as("isodow"),
            (weekday(col("cal_date")) >= 5).as("is_weekend"))
      },
      Some("""WITH span AS (
        |  SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
        |    MAX(CAST(o_orderdate AS DATE)) AS d1
        |  FROM orders
        |), days AS (
        |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS cal_date
        |  FROM span
        |)
        |SELECT cal_date,
        |  CAST(year(cal_date) AS BIGINT) AS cal_year,
        |  CAST(month(cal_date) AS BIGINT) AS cal_month,
        |  CAST(day(cal_date) AS BIGINT) AS cal_day,
        |  CAST(quarter(cal_date) AS BIGINT) AS cal_quarter,
        |  CAST(isodow(cal_date) AS BIGINT) AS isodow,
        |  isodow(cal_date) >= 6 AS is_weekend
        |FROM days""".stripMargin)),
  )
}
