package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import CatalogInputs._

/** Statistics: moments, regression and correlation, order statistics and
  * robust scale, distribution tests (chi-square, KS, PSI, AUC), effect
  * size, inequality measures (Gini, Lorenz, HHI), anomaly flags,
  * normalization, Benford digits, seasonality, the Pareto frontier,
  * equi-depth bucketing and largest-remainder allocation.
  *
  * Exact-integer or exact-decimal aggregation everywhere a sum crosses a
  * group; doubles only in final single-expression arithmetic with the op
  * order mirrored verbatim in the DuckDB SQL; ranks totally ordered with
  * explicit tie-breakers.
  */
private[graft] object StatisticsQueries {

  val entries: Seq[CatalogEntry] = Seq(

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

    // Exact equi-depth deciles of extended price: each decile's stats are
    // its two boundary order statistics, fetched via groupedSelect (NOT a
    // single-partition ntile window, NOT a global sort); integer bucket
    // arithmetic shared verbatim with the oracle
    CatalogEntry("equidepth_deciles",
      (s, d) => ops.Distribution.equiDepthBuckets(
        T(s, d, "lineitem"), col("l_extendedprice"),
        Seq(col("l_orderkey"), col("l_linenumber")), n = 10),
      Some("""WITH r AS (
        |  SELECT l_extendedprice AS v,
        |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) - 1 AS rank0,
        |    (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice IS NOT NULL) AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |)
        |SELECT CAST(rank0 * 10 // n + 1 AS BIGINT) AS bucket, COUNT(*) AS cnt,
        |  MIN(v) AS min_v, MAX(v) AS max_v
        |FROM r GROUP BY 1""".stripMargin)),

    // Largest-remainder (Hamilton) apportionment: 1000 "seats" split across
    // nations proportional to revenue — integer cross-multiplication only,
    // the allocation every engine reproduces bit-for-bit
    CatalogEntry("quota_alloc",
      (s, d) => {
        val weights = T(s, d, "orders")
          .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(T(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast("long").as("w_cents"))
        ops.Distribution.quotaAllocation(weights, "n_name", "w_cents", seats = 1000L)
          .select(col("key").as("n_name"), col("weight"), col("base_seats"),
            col("extra"), col("seats"))
      },
      Some("""WITH w AS (
        |  SELECT n_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS w
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1
        |), tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w
        |), b AS (
        |  SELECT n_name, w, (1000 * w) // (SELECT tw FROM tot) AS base_seats,
        |    1000 * w - ((1000 * w) // (SELECT tw FROM tot)) * (SELECT tw FROM tot) AS rem
        |  FROM w
        |), l AS (SELECT CAST(1000 - SUM(base_seats) AS BIGINT) AS leftover FROM b
        |), r AS (
        |  SELECT n_name, w, base_seats,
        |    CASE WHEN row_number() OVER (ORDER BY rem DESC, n_name NULLS FIRST)
        |              <= (SELECT leftover FROM l)
        |         THEN 1 ELSE 0 END AS extra
        |  FROM b
        |)
        |SELECT n_name, w AS weight, CAST(base_seats AS BIGINT) AS base_seats,
        |  CAST(extra AS BIGINT) AS extra,
        |  CAST(base_seats + extra AS BIGINT) AS seats
        |FROM r""".stripMargin)),

    // 2-D Pareto skyline of parts (cheapest price for each quality tier):
    // Spark runs the per-cost-group + prefix-max shape (Skyline scaladoc),
    // the oracle re-derives the same set with the naive NOT EXISTS
    // dominance test
    CatalogEntry("skyline_pareto",
      (s, d) => ops.Skyline.paretoFrontier(
          T(s, d, "part"), col("p_retailprice"), col("p_size"))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size")),
      Some("""SELECT p_partkey, p_retailprice, p_size
        |FROM part p
        |WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
        |  AND NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))""".stripMargin)),

    // Z-score anomaly flags per event type: the group moments aggregate in
    // exact DECIMAL (2-dp data, so sums and sum-of-squares are integers at
    // scale ≤4 — every unscaled value stays far below 2^53, making the
    // decimal→double casts exact in both engines); mean/variance/z are then
    // single double expressions in mirrored op order. The |z| > 3 cut has a
    // measured straddle margin of 1.59e-3 at sf0.01 — 12 orders above any
    // cross-engine double noise.
    CatalogEntry("anomaly_zscore",
      (s, d) => {
        val v2 = col("value").cast(DecimalType(18, 2))
        val st = eventsRaw(s, d)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(v2).as("s"), sum(v2 * v2).as("sq"))
        val mean = col("s").cast("double") / col("n")
        val variance = ((col("sq").cast("double")
          - col("s").cast("double") * col("s").cast("double") / col("n"))
          / (col("n") - 1))
        eventsRaw(s, d)
          .join(broadcast(st), "event_type")
          .withColumn("z", (col("value") - mean) / sqrt(variance))
          .filter(abs(col("z")) > 3.0)
          .select(col("event_id"), col("event_type"), col("value"),
            round(col("z"), 9).as("z"))
      },
      Some("""WITH st AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS s,
        |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sq
        |  FROM events GROUP BY 1
        |), j AS (
        |  SELECT e.event_id, e.event_type, e.value,
        |    (e.value - CAST(st.s AS DOUBLE) / st.n)
        |      / sqrt((CAST(st.sq AS DOUBLE)
        |          - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) / st.n) / (st.n - 1)) AS z
        |  FROM events e JOIN st USING (event_type)
        |)
        |SELECT event_id, event_type, value, round(z, 9) AS z
        |FROM j WHERE abs(z) > 3e0""".stripMargin)),

    // Winsorize (clip at exact p05/p95 order statistics) per event type.
    // The two cuts come from Distribution.groupedSelect — bucket counts
    // shuffle, only the cut-holding buckets rank; the fact is never
    // globally ordered. Cut indices are integer-ceil cross-
    // multiplications; no percentile interpolation anywhere, so both
    // engines pick identical bound rows.
    CatalogEntry("winsorize_clip",
      (s, d) => {
        val ev = eventsRaw(s, d)
          .select(col("event_id"), col("event_type"), col("value"))
        // each cut expression bound ONCE — the selection array and the
        // matchers must agree or the bound silently goes null (review r8)
        val kLo = expr("(5 * n + 99) div 100")
        val kHi = expr("(95 * n + 99) div 100")
        val sel = ops.Distribution.groupedSelect(
          ev, "event_type", col("value"), Seq(col("event_id")), array(kLo, kHi))
        val bounds = sel.groupBy(col("g"))
          .agg(min(when(col("rank") === kLo, col("v"))).as("lo"),
            min(when(col("rank") === kHi, col("v"))).as("hi"))
        ev.join(broadcast(bounds), ev("event_type") === bounds("g"))
          .select(col("event_id"), col("event_type"), col("value"),
            when(col("value") < col("lo"), col("lo"))
              .when(col("value") > col("hi"), col("hi"))
              .otherwise(col("value")).as("clipped"))
      },
      Some("""WITH r AS (
        |  SELECT event_id, event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rank,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL
        |), bounds AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN rank = (5 * n + 99) // 100 THEN value END) AS lo,
        |    MIN(CASE WHEN rank = (95 * n + 99) // 100 THEN value END) AS hi
        |  FROM r
        |  WHERE rank = (5 * n + 99) // 100 OR rank = (95 * n + 99) // 100
        |  GROUP BY 1
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN e.value < b.lo THEN b.lo
        |       WHEN e.value > b.hi THEN b.hi
        |       ELSE e.value END AS clipped
        |FROM events e JOIN bounds b USING (event_type)""".stripMargin)),

    // Min-max feature scaling per event type: group extrema broadcast back,
    // one mirrored double expression (exact — min/max are data values, the
    // subtraction/division order is identical in both engines)
    CatalogEntry("minmax_scale",
      (s, d) => {
        val st = eventsRaw(s, d).groupBy(col("event_type"))
          .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
        eventsRaw(s, d)
          .join(broadcast(st), "event_type")
          .select(col("event_id"), col("event_type"), col("value"),
            when(col("mx") === col("mn"), 0.5)
              .otherwise((col("value") - col("mn")) / (col("mx") - col("mn")))
              .as("scaled"))
      },
      Some("""WITH st AS (
        |  SELECT event_type, MIN(value) AS mn, MAX(value) AS mx
        |  FROM events GROUP BY 1
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN st.mx = st.mn THEN 5e-1
        |       ELSE (e.value - st.mn) / (st.mx - st.mn) END AS scaled
        |FROM events e JOIN st USING (event_type)""".stripMargin)),

    // Chi-square independence test (event_type × user bucket) with
    // Cramér's V. Observed/marginal counts are exact integers; each cell's
    // (o−e)²/e is one mirrored double expression ROUNDED TO 9 DP AND SUMMED
    // AS DECIMAL — summing raw doubles would be order-dependent and
    // disagree across engines, the one place naive stats translations die
    CatalogEntry("chisq_independence",
      (s, d) => {
        val o = eventsRaw(s, d)
          .groupBy(col("event_type"), expr("user_id % 4").as("bucket"))
          .agg(count(lit(1)).as("o"))
        val rowt = o.groupBy(col("event_type")).agg(sum(col("o")).as("row_tot"))
        val colt = o.groupBy(col("bucket")).agg(sum(col("o")).as("col_tot"))
        val tot = o.agg(sum(col("o")).as("n"))
        o.join(broadcast(rowt), "event_type")
          .join(broadcast(colt), "bucket")
          .crossJoin(broadcast(tot))
          .withColumn("e", (col("row_tot").cast("double") * col("col_tot")) / col("n"))
          .withColumn("cell",
            round((col("o") - col("e")) * (col("o") - col("e")) / col("e"), 9)
              .cast(DecimalType(28, 9)))
          .agg(max(col("n")).as("n"),
            countDistinct(col("event_type")).as("r"),
            countDistinct(col("bucket")).as("c"),
            sum(col("cell")).as("chi2_dec"))
          .select(col("n"), col("r"), col("c"),
            ((col("r") - 1) * (col("c") - 1)).as("dof"),
            col("chi2_dec").cast("double").as("chi2"),
            sqrt(col("chi2_dec").cast("double")
              / (col("n") * least(col("r") - 1, col("c") - 1))).as("cramers_v"))
      },
      Some("""WITH o AS (
        |  SELECT event_type, user_id % 4 AS bucket, COUNT(*) AS o
        |  FROM events GROUP BY 1, 2
        |), rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS row_tot FROM o GROUP BY 1
        |), ct AS (SELECT bucket, CAST(SUM(o) AS BIGINT) AS col_tot FROM o GROUP BY 1
        |), n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM o
        |), cells AS (
        |  SELECT o.o, rt.row_tot, ct.col_tot, n.n,
        |    (CAST(rt.row_tot AS DOUBLE) * ct.col_tot) / n.n AS e,
        |    o.event_type, o.bucket
        |  FROM o JOIN rt USING (event_type) JOIN ct USING (bucket), n
        |), agg AS (
        |  SELECT MAX(n) AS n,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r,
        |    CAST(COUNT(DISTINCT bucket) AS BIGINT) AS c,
        |    SUM(CAST(round((o - e) * (o - e) / e, 9) AS DECIMAL(28,9))) AS chi2_dec
        |  FROM cells
        |)
        |SELECT n, r, c, (r - 1) * (c - 1) AS dof,
        |  CAST(chi2_dec AS DOUBLE) AS chi2,
        |  sqrt(CAST(chi2_dec AS DOUBLE) / (n * LEAST(r - 1, c - 1))) AS cramers_v
        |FROM agg""".stripMargin)),

    // Benford first-digit screening (fraud/data-quality classic). The
    // leading digit comes from the INTEGER cents rendering (power-of-ten
    // scaling preserves the leading digit; stringifying a DOUBLE would
    // hit engine-specific float formatting). Expected frequencies are
    // log10(1+1/d) rounded to 9 dp — measured boundary distance ≥ 8e-12,
    // five orders above cross-engine libm ulp noise.
    CatalogEntry("benford_digits",
      (s, d) => {
        val cents = col("o_totalprice").cast(DecimalType(18, 2)) * 100
        // Benford's law applies to POSITIVE magnitudes: a negative value's
        // "leading digit" is '-' (cast throws on both engines) and zero's
        // is 0 (exp_p divides by it). The filter tests the ROUNDED cents,
        // not the raw price — a sub-cent positive price (0 < p < 0.005)
        // still rounds to zero cents and would reintroduce digit 0
        // (round-10 review)
        val pos = T(s, d, "orders").where(cents.cast("long") >= 1)
        val tot = pos.agg(count(lit(1)).as("n"))
        pos
          .withColumn("digit",
            substring(cents.cast("long").cast("string"), 1, 1).cast("int"))
          .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(tot))
          .select(col("digit"), col("cnt"),
            (col("cnt").cast("double") / col("n")).as("obs_p"),
            round(log10(lit(1.0) + lit(1.0) / col("digit")), 9).as("exp_p"))
      },
      Some("""WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) >= 1
        |), c AS (SELECT digit, COUNT(*) AS cnt FROM d GROUP BY 1
        |), n AS (SELECT COUNT(*) AS n FROM orders
        |         WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) >= 1)
        |SELECT digit, cnt,
        |  CAST(cnt AS DOUBLE) / (SELECT n FROM n) AS obs_p,
        |  round(log10(1e0 + 1e0 / digit), 9) AS exp_p
        |FROM c""".stripMargin)),

    // Pearson correlation from EXACT decimal moments (quantity is
    // integer-valued, price 2-dp, so all five sums are exact decimals);
    // the final expression is mirrored doubles rounded to 9 dp — the
    // decimal->double casts of the big squared sums can differ by an ulp
    // across engines (DuckDB divides int128 by 10^s in doubles, the JVM
    // parses the decimal string), and 9 dp absorbs that
    CatalogEntry("corr_moments",
      (s, d) => {
        val q = col("l_quantity").cast(DecimalType(18, 0))
        val p = col("l_extendedprice").cast(DecimalType(18, 2))
        T(s, d, "lineitem").groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(q).as("sq"), sum(p).as("sp"),
            sum(q * q).as("sqq"), sum(p * p).as("spp"), sum(q * p).as("sqp"))
          .select(col("l_returnflag"), col("n"),
            // try_divide: a 1-row group has zero variance -> NULL corr
            // (DuckDB's division-by-zero result), not an ANSI throw
            round(try_divide(col("n") * col("sqp").cast("double")
                - col("sq").cast("double") * col("sp").cast("double"),
              sqrt(col("n") * col("sqq").cast("double")
                  - col("sq").cast("double") * col("sq").cast("double"))
                * sqrt(col("n") * col("spp").cast("double")
                  - col("sp").cast("double") * col("sp").cast("double"))), 9)
              .as("corr_qp"))
      },
      Some("""WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(18,0))) AS sq,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
        |    SUM(CAST(l_quantity AS DECIMAL(18,0)) * CAST(l_quantity AS DECIMAL(18,0))) AS sqq,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS spp,
        |    SUM(CAST(l_quantity AS DECIMAL(18,0)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqp
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_returnflag, n,
        |  round((n * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
        |    / (sqrt(n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
        |      * sqrt(n * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 9)
        |    AS corr_qp
        |FROM m""".stripMargin)),

    // Gini coefficient of customer spend — G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n
    // over ascending-sorted integer cents. Σ(i·xᵢ) stays exact in longs
    // (≤ ~1.4e15 at sf0.1); it consumes EVERY rank, so the ranks come from
    // the DISTRIBUTED bucket-rank machinery under a constant group (the
    // auc_rank pattern) — an unpartitioned row_number window would drag
    // the whole per-customer frame into ONE task (billions of rows at
    // 100 TB)
    CatalogEntry("gini_coefficient",
      (s, d) => {
        val spend = T(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast("long").as("cents"))
          .withColumn("one", lit("all"))
        ops.Distribution.groupedRanks(spend, "one", col("cents"), Seq(col("o_custkey")))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_x"),
            sum(col("rank") * col("v")).as("sum_ix"))
          .select(col("n"), col("sum_x"),
            ((col("sum_ix") * 2).cast("double")
              / (col("n").cast("double") * col("sum_x"))
              - (col("n") + 1).cast("double") / col("n")).as("gini"))
      },
      Some("""WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS i FROM spend
        |  WHERE cents IS NOT NULL
        |), m AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_x,
        |    CAST(SUM(i * cents) AS BIGINT) AS sum_ix
        |  FROM r
        |)
        |SELECT n, sum_x,
        |  CAST(sum_ix * 2 AS DOUBLE) / (CAST(n AS DOUBLE) * sum_x)
        |    - CAST(n + 1 AS DOUBLE) / n AS gini
        |FROM m""".stripMargin)),

    // Herfindahl–Hirschman market concentration per segment: supplier
    // revenue shares squared and summed. w² runs in DECIMAL(38,0) (1e26
    // fits; Spark caps the product type at 38 digits, DuckDB uses
    // HUGEINT) and the final share division is rounded to 9 dp — the
    // >2^53 decimal→double casts can differ in the last ulp across
    // engines (same note as corr_moments)
    CatalogEntry("hhi_concentration",
      (s, d) => {
        val rev = T(s, d, "lineitem")
          .join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("l_suppkey"))
          .agg((sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
              .cast(DecimalType(18, 4))) * 10000)
            .cast(DecimalType(38, 0)).as("w"))
        rev.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_suppliers"),
            sum(col("w")).as("tot"), sum(col("w") * col("w")).as("sum_w2"))
          .select(col("c_mktsegment"), col("n_suppliers"),
            round(col("sum_w2").cast("double")
              / (col("tot").cast("double") * col("tot").cast("double")), 9).as("hhi"))
      },
      Some("""WITH rev AS (
        |  SELECT c_mktsegment, l_suppkey,
        |    CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000 AS DECIMAL(38,0)) AS HUGEINT) AS w
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2
        |)
        |SELECT c_mktsegment, COUNT(*) AS n_suppliers,
        |  round(CAST(SUM(w * w) AS DOUBLE)
        |    / (CAST(SUM(w) AS DOUBLE) * CAST(SUM(w) AS DOUBLE)), 9) AS hhi
        |FROM rev GROUP BY 1""".stripMargin)),

    // Mann-Whitney AUC between two event classes by rank sum: ranks are
    // integers under the (value, event_id) total order, so
    // U = R1 − n1(n1+1)/2 is exact and AUC is one division. The global
    // rank comes from the DISTRIBUTED bucket-rank machinery (groupedRanks
    // under a constant group — a bare row_number() window would drag both
    // classes into one task); the class label rides along as a tie column
    // behind the already-unique event_id.
    CatalogEntry("auc_rank",
      (s, d) => {
        val base = eventsRaw(s, d)
          .filter(col("event_type").isin("purchase", "click")
            && col("value").isNotNull) // totals share the ranks' null contract
          .select(lit("all").as("one"), col("event_type"), col("value"), col("event_id"))
        val ranked = ops.Distribution.groupedRanks(
          base, "one", col("value"), Seq(col("event_id"), col("event_type")))
        ranked.agg(
            sum(when(col("t1") === "purchase", 1L).otherwise(0L)).as("n1"),
            sum(when(col("t1") =!= "purchase", 1L).otherwise(0L)).as("n2"),
            sum(when(col("t1") === "purchase", col("rank"))
              .otherwise(0L)).as("r1"))
          .select(col("n1"), col("n2"),
            ((col("r1") - col("n1") * (col("n1") + 1) / 2).cast("double")
              / (col("n1") * col("n2")).cast("double")).as("auc"))
      },
      Some("""WITH f AS (
        |  SELECT event_type, value, event_id,
        |    CAST(row_number() OVER (ORDER BY value, event_id) AS BIGINT) AS r
        |  FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        |), m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN r ELSE 0 END) AS BIGINT) AS r1
        |  FROM f
        |)
        |SELECT n1, n2,
        |  CAST(r1 - n1 * (n1 + 1) // 2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS auc
        |FROM m""".stripMargin)),

    // Kolmogorov-Smirnov distance between the same two classes: the CDF
    // difference maximized as an INTEGER cross-multiplication
    // |c1·n2 − c2·n1|, divided once at the end. The supremum lands on a
    // data point, so per-row cumulative counts suffice — and both come
    // from DISTRIBUTED ranks: c_own = the row's rank within its own class,
    // c_other = global rank − c_own. No global-order window anywhere.
    CatalogEntry("ks_test",
      (s, d) => {
        val base = eventsRaw(s, d)
          .filter(col("event_type").isin("purchase", "click")
            && col("value").isNotNull) // totals share the ranks' null contract
          .select(lit("all").as("one"), col("event_type"), col("value"), col("event_id"))
        val globalRank = ops.Distribution.groupedRanks(
            base, "one", col("value"), Seq(col("event_id"), col("event_type")))
          .select(col("t0").as("event_id"), col("t1").as("event_type"),
            col("rank").as("r"))
        val classRank = ops.Distribution.groupedRanks(
            base.drop("one"), "event_type", col("value"), Seq(col("event_id")))
          .select(col("t0").as("event_id"), col("rank").as("rc"))
        val tot = base.agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n1"),
          sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L)).as("n2"))
        globalRank.join(classRank, "event_id")
          .withColumn("c1", when(col("event_type") === "purchase", col("rc"))
            .otherwise(col("r") - col("rc")))
          .withColumn("c2", col("r") - col("c1"))
          .crossJoin(broadcast(tot))
          .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
            max(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("num"))
          .select(col("n1"), col("n2"),
            (col("num").cast("double")
              / (col("n1") * col("n2")).cast("double")).as("ks_d"))
      },
      Some("""WITH f AS (
        |  SELECT event_type, value, event_id FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        |), c AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (ORDER BY value, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
        |      OVER (ORDER BY value, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c2
        |  FROM f
        |), t AS (
        |  SELECT (SELECT MAX(c1) FROM c) AS n1, (SELECT MAX(c2) FROM c) AS n2
        |), m AS (
        |  SELECT CAST(MAX(abs(c1 * (SELECT n2 FROM t) - c2 * (SELECT n1 FROM t))) AS BIGINT) AS num
        |  FROM c
        |)
        |SELECT (SELECT n1 FROM t) AS n1, (SELECT n2 FROM t) AS n2,
        |  CAST(num AS DOUBLE) / CAST((SELECT n1 FROM t) * (SELECT n2 FROM t) AS DOUBLE) AS ks_d
        |FROM m""".stripMargin)),

    // Exact per-group percentile profile WITHOUT percentile()'s
    // buffer-every-value aggregation: three order-statistic selections on
    // Distribution.groupedSelect — bucket counts shuffle, only the
    // cut-holding buckets rank, integer-ceil cut indices
    CatalogEntry("exact_percentile_profile",
      (s, d) => {
        val ev = eventsRaw(s, d)
          .select(col("event_id"), col("event_type"), col("value"))
          // explicit statement of the groupedSelect contract (NULL group/
          // value rows are excluded), mirrored in the oracle's WHERE —
          // unlike the winsorize/mad twins, this query emits the groups
          // DIRECTLY, so a NULL group has nowhere to fall out via a join
          .filter(col("event_type").isNotNull && col("value").isNotNull)
        // cut expressions bound once (selection + matcher share the tree)
        val cuts = Seq("p50" -> expr("(50 * n + 99) div 100"),
          "p90" -> expr("(90 * n + 99) div 100"),
          "p99" -> expr("(99 * n + 99) div 100"))
        val sel = ops.Distribution.groupedSelect(
          ev, "event_type", col("value"), Seq(col("event_id")),
          array(cuts.map(_._2): _*))
        sel.groupBy(col("g").as("event_type"))
          .agg(max(col("n")).as("n"),
            cuts.map { case (name, k) =>
              min(when(col("rank") === k, col("v"))).as(name) }: _*)
      },
      Some("""WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rank,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  MIN(CASE WHEN rank = (50 * n + 99) // 100 THEN value END) AS p50,
        |  MIN(CASE WHEN rank = (90 * n + 99) // 100 THEN value END) AS p90,
        |  MIN(CASE WHEN rank = (99 * n + 99) // 100 THEN value END) AS p99
        |FROM r
        |WHERE rank = (50 * n + 99) // 100 OR rank = (90 * n + 99) // 100
        |   OR rank = (99 * n + 99) // 100
        |GROUP BY 1""".stripMargin)),

    // Quantile normalization (batch-effect correction): every value maps
    // to the POOLED order statistic at its in-group quantile position —
    // index arithmetic is integer cross-multiplied ceil(rg·N/ng), the
    // lookup is a join on the index, and both rank passes run on the
    // distributed bucket-rank machinery. Zero interpolation, zero FP until
    // the values themselves.
    CatalogEntry("quantile_normalize",
      (s, d) => {
        val ev = eventsRaw(s, d)
          .select(col("event_id"), col("event_type"), col("value"))
          // sizes AND the pooled pass share the ranks' null contract: rows
          // with a NULL value or NULL group are excluded everywhere, so the
          // per-group and pooled rank populations agree (round-10 sweep)
          .filter(col("value").isNotNull && col("event_type").isNotNull)
        val grouped = ops.Distribution.groupedRanks(
            ev, "event_type", col("value"), Seq(col("event_id")))
          .select(col("g").as("event_type"), col("v").as("value"),
            col("t0").as("event_id"), col("rank").as("rg"))
        val pooledBase = ev.select(lit("all").as("one"), col("value"), col("event_id"))
        val pooled = ops.Distribution.groupedRanks(
            pooledBase, "one", col("value"), Seq(col("event_id")))
          .select(col("rank").as("idx"), col("v").as("pooled_v"))
        val sizes = ev.groupBy(col("event_type")).agg(count(lit(1)).as("ng"))
        val total = ev.agg(count(lit(1)).as("nn"))
        grouped
          .join(broadcast(sizes), "event_type")
          .crossJoin(broadcast(total))
          .withColumn("idx", expr("(rg * nn + ng - 1) div ng"))
          .join(pooled, "idx")
          .select(col("event_id"), col("event_type"), col("value"),
            col("pooled_v").as("normalized"))
      },
      Some("""WITH ranked AS (
        |  SELECT event_id, event_type, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS BIGINT) AS rg,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS ng,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS nn
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |), pooled AS (
        |  SELECT CAST(row_number() OVER (ORDER BY value, event_id) AS BIGINT) AS idx,
        |    value AS pooled_v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |)
        |SELECT r.event_id, r.event_type, r.value, p.pooled_v AS normalized
        |FROM ranked r JOIN pooled p
        |  ON p.idx = (r.rg * r.nn + r.ng - 1) // r.ng""".stripMargin)),

    // Population-stability index between the first and second half of the
    // event stream (distribution drift over time): 10 equal-width global
    // value bins, integer bin counts Laplace-smoothed by +1 (an empty bin
    // otherwise puts ln(0) in the cell — DuckDB errors, Spark nulls), and
    // the (p1−p2)·ln(p1/p2) cells ROUNDED TO 9 DP AND SUMMED AS DECIMAL
    // (the chisq_independence recipe — raw double cell sums are
    // order-dependent across engines)
    CatalogEntry("psi_stability",
      (s, d) => {
        val ev = eventsRaw(s, d)
        val st = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"),
          min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
        val binned = ev.crossJoin(broadcast(st))
          .withColumn("half",
            when(col("ts_us") * 2 < col("t0") + col("t1"), "h1").otherwise("h2"))
          .withColumn("bin", least(
            floor((col("value") - col("mn")) / (col("mx") - col("mn")) * 10),
            lit(9L)).cast("long"))
        val counts = binned.groupBy(col("bin"))
          .agg(sum(when(col("half") === "h1", 1L).otherwise(0L)).as("c1"),
            sum(when(col("half") === "h2", 1L).otherwise(0L)).as("c2"))
        val tots = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
        counts.crossJoin(broadcast(tots))
          .withColumn("p1", (col("c1") + 1).cast("double") / (col("n1") + 10))
          .withColumn("p2", (col("c2") + 1).cast("double") / (col("n2") + 10))
          .withColumn("cell",
            round((col("p1") - col("p2")) * log(col("p1") / col("p2")), 9)
              .cast(DecimalType(28, 9)))
          .agg(count(lit(1)).as("n_bins"), sum(col("cell")).as("psi_dec"))
          .select(col("n_bins"), col("psi_dec").cast("double").as("psi"))
      },
      Some("""WITH st AS (
        |  SELECT MIN(value) AS mn, MAX(value) AS mx,
        |    MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
        |  FROM events
        |), b AS (
        |  SELECT CASE WHEN epoch_us(ts) * 2 < (SELECT t0 + t1 FROM st)
        |              THEN 'h1' ELSE 'h2' END AS half,
        |    LEAST(CAST(floor((value - (SELECT mn FROM st))
        |      / ((SELECT mx FROM st) - (SELECT mn FROM st)) * 10) AS BIGINT), 9) AS bin
        |  FROM events
        |), c AS (
        |  SELECT bin,
        |    CAST(SUM(CASE WHEN half = 'h1' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN half = 'h2' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM b GROUP BY 1
        |), t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM c
        |), cells AS (
        |  SELECT CAST(c1 + 1 AS DOUBLE) / ((SELECT n1 FROM t) + 10) AS p1,
        |    CAST(c2 + 1 AS DOUBLE) / ((SELECT n2 FROM t) + 10) AS p2
        |  FROM c
        |)
        |SELECT COUNT(*) AS n_bins,
        |  CAST(SUM(CAST(round((p1 - p2) * ln(p1 / p2), 9) AS DECIMAL(28,9))) AS DOUBLE) AS psi
        |FROM cells""".stripMargin)),

    // Lorenz curve by customer-spend decile (the curve behind the
    // gini_coefficient scalar): cumulative integer cents over equi-depth
    // deciles, shares as single divisions. Every row needs its decile, so
    // ranks come from the DISTRIBUTED bucket-rank machinery (constant
    // group), n from a 1-row broadcast instead of a driver count();
    // cumulative sums run over the 10-row decile frame.
    CatalogEntry("lorenz_deciles",
      (s, d) => {
        // unpartitioned on purpose: the frame is the 10 decile rows
        val wc = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // a customer whose every order is null-priced has NO defined spend:
        // excluded from n AND the ranks (groupedRanks drops null values by
        // contract — an unfiltered nTot would silently shift every decile)
        val spend = T(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast("long").as("cents"))
          .filter(col("cents").isNotNull)
        val nTot = spend.agg(count(lit(1)).as("n"))
        val deciles = ops.Distribution.groupedRanks(
            spend.withColumn("one", lit("all")), "one", col("cents"),
            Seq(col("o_custkey")))
          .crossJoin(broadcast(nTot))
          .withColumn("decile", expr("(rank - 1) * 10 div n + 1"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_customers"), sum(col("v")).as("decile_cents"))
        val tot = deciles.agg(sum(col("decile_cents")).as("total_cents"))
        deciles
          .withColumn("cum_cents", sum(col("decile_cents")).over(wc))
          .crossJoin(broadcast(tot))
          .select(col("decile"), col("n_customers"), col("decile_cents"),
            (col("decile_cents").cast("double") / col("total_cents")).as("share"),
            (col("cum_cents").cast("double") / col("total_cents")).as("cum_share"))
      },
      Some("""WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |  HAVING SUM(CAST(o_totalprice AS DECIMAL(18,2))) IS NOT NULL
        |), r AS (
        |  SELECT cents,
        |    row_number() OVER (ORDER BY cents, o_custkey) - 1 AS rank0,
        |    (SELECT COUNT(*) FROM spend) AS n
        |  FROM spend
        |), dec AS (
        |  SELECT CAST(rank0 * 10 // n + 1 AS BIGINT) AS decile,
        |    COUNT(*) AS n_customers, CAST(SUM(cents) AS BIGINT) AS decile_cents
        |  FROM r GROUP BY 1
        |), t AS (SELECT CAST(SUM(decile_cents) AS BIGINT) AS total_cents FROM dec)
        |SELECT decile, n_customers, decile_cents,
        |  CAST(decile_cents AS DOUBLE) / (SELECT total_cents FROM t) AS share,
        |  CAST(SUM(decile_cents) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / (SELECT total_cents FROM t) AS cum_share
        |FROM dec""".stripMargin)),

    // Cohen's d effect size between the two event classes: pooled-variance
    // standardized mean difference from EXACT decimal moments (the
    // anomaly_zscore recipe), one mirrored double expression at the end
    CatalogEntry("cohens_d",
      (s, d) => {
        val v2 = col("value").cast(DecimalType(18, 2))
        val st = eventsRaw(s, d)
          // value IS NOT NULL mirrors the oracle: count(*) would include a
          // null-value row the sums skip, deflating mean and variance
          // (review r9 — the oracle guarded, the pipeline didn't)
          .filter(col("event_type").isin("purchase", "click")
            && col("value").isNotNull)
          .withColumn("cls", when(col("event_type") === "purchase", 1).otherwise(2))
          .groupBy(col("cls"))
          .agg(count(lit(1)).as("n"), sum(v2).as("s"), sum(v2 * v2).as("sq"))
        val a = st.filter(col("cls") === 1)
          .select(col("n").as("n1"), col("s").as("s1"), col("sq").as("sq1"))
        val b = st.filter(col("cls") === 2)
          .select(col("n").as("n2"), col("s").as("s2"), col("sq").as("sq2"))
        val m1 = col("s1").cast("double") / col("n1")
        val m2 = col("s2").cast("double") / col("n2")
        val ss1 = (col("sq1").cast("double")
          - col("s1").cast("double") * col("s1").cast("double") / col("n1"))
        val ss2 = (col("sq2").cast("double")
          - col("s2").cast("double") * col("s2").cast("double") / col("n2"))
        a.crossJoin(b).select(col("n1"), col("n2"),
          ((m1 - m2) / sqrt((ss1 + ss2) / (col("n1") + col("n2") - 2))).as("cohens_d"))
      },
      Some("""WITH st AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS cls,
        |    COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS s,
        |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sq
        |  FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        |  GROUP BY 1
        |), a AS (SELECT n AS n1, s AS s1, sq AS sq1 FROM st WHERE cls = 1
        |), b AS (SELECT n AS n2, s AS s2, sq AS sq2 FROM st WHERE cls = 2)
        |SELECT n1, n2,
        |  ((CAST(s1 AS DOUBLE) / n1) - (CAST(s2 AS DOUBLE) / n2))
        |    / sqrt(((CAST(sq1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
        |          + (CAST(sq2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2))
        |        / (n1 + n2 - 2)) AS cohens_d
        |FROM a, b""".stripMargin)),

    // Median absolute deviation per event type — the robust dispersion
    // behind outlier fences that survive heavy tails. The FUSED
    // Distribution.groupedMedianMad (r8 verdict item 3): one extrema probe,
    // one median selection (collected, |event_type| rows), one deviation
    // selection with bounds derived from the first probe — only bucket
    // counts shuffle and only median-holding buckets get ranked, never the
    // full fact, and no subplan executes twice. Discrete selection only
    // (no averaging of middle pairs), so both engines pick identical rows.
    CatalogEntry("mad_robust",
      (s, d) => ops.Distribution.groupedMedianMad(
        eventsRaw(s, d)
          .select(col("event_id"), col("event_type"), col("value")),
        "event_type", col("value"), Seq(col("event_id")))
        .select(col("g").as("event_type"), col("median"), col("mad")),
      Some("""WITH r1 AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL
        |), med AS (
        |  SELECT event_type, value AS med FROM r1 WHERE rk = (n + 1) // 2
        |), dev AS (
        |  SELECT e.event_type, e.event_id, abs(e.value - m.med) AS adev, m.med
        |  FROM events e JOIN med m USING (event_type)
        |  WHERE e.value IS NOT NULL
        |), r2 AS (
        |  SELECT event_type, adev, med,
        |    row_number() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev
        |)
        |SELECT event_type, med AS median, adev AS mad
        |FROM r2 WHERE rk = (n + 1) // 2""".stripMargin)),

    // Month-of-year seasonality index: each calendar month's average
    // daily revenue relative to the all-months average — exact integer
    // cents with cross-month division at the very end
    CatalogEntry("seasonality_index",
      (s, d) => {
        val monthly = T(s, d, "orders")
          .groupBy(month(col("o_orderdate").cast("date")).cast("long").as("cal_month"))
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast("long").as("cents"),
            countDistinct(col("o_orderdate").cast("date")).as("n_days"))
        val tot = monthly.agg(sum(col("cents")).as("tot_cents"),
          sum(col("n_days")).as("tot_days"))
        monthly.crossJoin(broadcast(tot))
          .select(col("cal_month"), col("cents"), col("n_days"),
            // try_divide: the NULL-month group (null dates) counts ZERO
            // distinct days -> NULL index (DuckDB's /0), not an ANSI throw
            try_divide(try_divide(col("cents").cast("double"), col("n_days")),
              col("tot_cents").cast("double") / col("tot_days")).as("seasonal_idx"))
      },
      Some("""WITH m AS (
        |  SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS cal_month,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
        |    CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_days
        |  FROM orders GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(cents) AS BIGINT) AS tot_cents,
        |    CAST(SUM(n_days) AS BIGINT) AS tot_days FROM m
        |)
        |SELECT cal_month, cents, n_days,
        |  (CAST(cents AS DOUBLE) / n_days)
        |    / (CAST((SELECT tot_cents FROM t) AS DOUBLE) / (SELECT tot_days FROM t)) AS seasonal_idx
        |FROM m""".stripMargin)),
  )
}
