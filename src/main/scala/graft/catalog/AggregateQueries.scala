package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.functions.Cols
import graft.functions.Cols.moneySumSql
import graft.functions.PortableSketches.hash60
import CatalogInputs._

/** Aggregates and windows: grouping lattices (rollup, cube, grouping
  * sets), filtered, bit and boolean aggregates, exact and approximate
  * percentiles, top-k per group, the ranking, navigation and frame window
  * family, column profiling, data-quality checks and weighted sampling.
  */
private[graft] object AggregateQueries {

  val entries: Seq[CatalogEntry] = Seq(

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
      Some(s"""SELECT l_returnflag, l_linestatus,
        |  ${moneySumSql("l_quantity")} AS sum_qty,
        |  ${moneySumSql("l_extendedprice")} AS sum_price,
        |  ${moneySumSql("l_quantity")} / COUNT(l_quantity) AS avg_qty,
        |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
        |  COUNT(*) AS cnt, COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY 1, 2""".stripMargin)),

    // Rollup with grouping_id — subtotal/grand-total lattice
    CatalogEntry("rollup_agg",
      (s, d) => T(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(Cols.moneySum(col("l_quantity")).as("sum_qty"),
          grouping_id().as("gid")),
      Some(s"""SELECT l_returnflag, l_linestatus,
        |  ${moneySumSql("l_quantity")} AS sum_qty,
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
      Some(s"""SELECT o_orderstatus, o_orderpriority,
        |  ${moneySumSql("o_totalprice")} AS total,
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

    // Ordered string aggregation (deterministic listagg)
    CatalogEntry("string_agg_sorted",
      (s, d) => T(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(concat_ws(",", array_sort(collect_set(col("o_orderpriority"))))
          .as("priorities")),
      Some("""SELECT o_orderstatus,
        |  COALESCE(string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority), '') AS priorities
        |FROM orders GROUP BY 1""".stripMargin)),

    // first/nth/last_value + cume_dist — dialect-shared SQL
    sharedSqlEntry("window_navigation", Seq("orders"),
      """SELECT o_orderkey, o_custkey,
        |  first_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
        |  nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price,
        |  last_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
        |  cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_totalprice NULLS FIRST) AS price_cume
        |FROM orders""".stripMargin),

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
    sharedSqlEntry("grouping_sets_agg", Seq("lineitem"),
      s"""SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
        |  COUNT(*) AS cnt,
        |  ${moneySumSql("l_quantity")} AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())""".stripMargin),

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
    sharedSqlEntry("group_by_all", Seq("orders"),
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
        |  ${moneySumSql("o_totalprice")} AS total
        |FROM orders GROUP BY ALL""".stripMargin),

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
          (hash60(concat(lit("ws:"), col("o_orderkey").cast("string"))) + 1)
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

    // ANSI FILTER (WHERE ...) aggregate clause — per-aggregate predicates
    // in one pass (the declarative twin of the when/otherwise conditional
    // sums in tpch_q12). Dialect-shared text; empty filtered SUM is NULL
    // in both engines.
    sharedSqlEntry("filtered_aggs", Seq("orders"),
      """SELECT o_orderpriority,
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_closed,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS sum_open,
        |  CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_pending_custs
        |FROM orders GROUP BY 1""".stripMargin),

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
      Some(s"""SELECT o_custkey,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
        |  COUNT(*) AS n_orders,
        |  ${moneySumSql("o_totalprice")} AS total_price,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        |  ${moneySumSql("o_totalprice")} / COUNT(*) AS avg_price
        |FROM orders GROUP BY 1, 2""".stripMargin)),

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
    sharedSqlEntry("window_interval_range", Seq("orders"),
      """SELECT o_orderkey, o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
        |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d
        |FROM orders""".stripMargin),

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

    // Per-group mode with a stated tie policy (count desc, then value asc,
    // NULLS FIRST — Spark's ascending default, pinned in the oracle per
    // the r10 null-ordering convention; fuzz seed 6 hit a NULL-vs-value
    // count tie) — the deterministic argmax-of-counts, NOT engine-native
    // mode() whose tie-breaking is unspecified
    CatalogEntry("mode_per_group",
      (s, d) => {
        val counts = T(s, d, "orders")
          .groupBy(col("o_custkey"), col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("cnt").desc, col("o_orderpriority"))
        counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderpriority").as("mode_priority"), col("cnt"))
      },
      Some("""SELECT o_custkey, o_orderpriority AS mode_priority, cnt FROM (
        |  SELECT o_custkey, o_orderpriority, COUNT(*) AS cnt,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY COUNT(*) DESC, o_orderpriority NULLS FIRST) AS rn
        |  FROM orders GROUP BY 1, 2) t
        |WHERE rn = 1""".stripMargin)),

    // Native ntile() window over the nation dim — the one place an
    // unpartitioned window is the RIGHT call (25 rows; dims stay dim-sized
    // at any corpus scale). Total order via (revenue desc, name). The
    // name tie-break needs NULLS FIRST in the oracle (Spark ascending
    // default vs DuckDB's NULLS LAST): a null-named nation whose revenue
    // exactly ties a named one would otherwise ntile differently — the
    // quotaAllocation seed-12 class, pinned here before a seed finds it.
    CatalogEntry("ntile_nations",
      (s, d) => {
        val rev = T(s, d, "orders")
          .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(T(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(Cols.moneySum(col("o_totalprice")).as("revenue"))
        // unpartitioned on purpose: the frame is the 25 nation rows of the group-by
        val w = Window.orderBy(col("revenue").desc, col("n_name"))
        rev.withColumn("quartile", ntile(4).over(w).cast("long"))
      },
      Some(s"""WITH rev AS (
        |  SELECT n_name,
        |    ${moneySumSql("o_totalprice")} AS revenue
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1
        |)
        |SELECT n_name, revenue,
        |  CAST(ntile(4) OVER (ORDER BY revenue DESC, n_name NULLS FIRST) AS BIGINT) AS quartile
        |FROM rev""".stripMargin)),

    // Join-fanout histogram (count-of-counts): how many join keys have
    // exactly k matching fact rows — THE pre-join skew diagnostic (a key
    // with 10^6 rows means a hot partition; run this before debugging a
    // slow join, not after)
    CatalogEntry("fanout_histogram",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("fanout"))
        .groupBy(col("fanout")).agg(count(lit(1)).as("n_keys")),
      Some("""SELECT fanout, COUNT(*) AS n_keys FROM (
        |  SELECT l_orderkey, COUNT(*) AS fanout FROM lineitem GROUP BY 1) t
        |GROUP BY 1""".stripMargin)),
  )
}
