package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.functions.Cols

/** The two data marts, one rule each, over the caller's column mapping.
  *
  * Reference semantics: the customer mart
  * (src/main/transformations/customer_mart_sql_tranform_write.py:10-27) sums
  * each customer's purchases per month; the sales-team mart
  * (sales_mart_sql_transformation_file.py:11-39) sums each (store,
  * salesperson, month), then `rank()`s the sellers per (store, month) by
  * total and pays the rank-1 seller 1% of it. (The reference's comment says
  * "top 1% performers" but the code implements rank==1 — we implement the
  * code's semantics, see SURVEY.md §2.8.)
  *
  * A mapping is the mart's key columns — named as the mart's output columns,
  * the month bucket ([[Cols.monthBucket]]) among them — and its money
  * column. `Pipeline.run` maps the reference star schema
  * ([[SalesEnrichment]]); the catalog maps the TPC-H transplant
  * (`customer_mart`, `customer_mart_window`, `sales_mart_incentive`).
  *
  * Scale notes: [[monthlyTotals]] is one partial+final hash aggregate
  * (map-side combine, one shuffle on the keys). [[monthlyTotalsWindowIdiom]]
  * is the reference's window+distinct idiom, kept to prove W1/A3 parity: a
  * window shuffle PLUS a full-row hash-distinct, strictly worse physically,
  * identical results. The rank window of [[withIncentive]] re-shuffles on
  * (store_id, sales_month) over the *aggregated* rows, orders of magnitude
  * fewer than the facts.
  */
object Marts {

  /** Per-key total sales: `rows` grouped by `keys`, `money` summed by the
    * exact-decimal money rule into `total_sales`. */
  def monthlyTotals(rows: DataFrame, keys: Seq[Column], money: Column): DataFrame =
    rows.groupBy(keys: _*).agg(Cols.moneySum(money).as("total_sales"))

  /** [[monthlyTotals]] by the reference's idiom: an unordered window sum
    * (whole-partition frame) over the keys, then `distinct()`. */
  def monthlyTotalsWindowIdiom(rows: DataFrame, keys: Seq[Column], money: Column): DataFrame = {
    val keyed = rows.select(keys :+ money.as("total_sales"): _*)
    val w = Window.partitionBy(keyed.columns.init.toSeq.map(col): _*)
    keyed
      .withColumn("total_sales",
        sum(col("total_sales").cast(DecimalType(18, 2))).over(w).cast(DoubleType))
      .distinct()
  }

  /** Rank per (store_id, sales_month) by total_sales desc; rank 1 earns a
    * 1% incentive, the rest 0. Rank (not row_number), so tied top sellers
    * share rank 1 and each earns the incentive.
    * (reference: sales_mart_sql_transformation_file.py:24-30)
    */
  def withIncentive(totals: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("store_id"), col("sales_month"))
      .orderBy(col("total_sales").desc)
    totals
      .withColumn("rnk", rank().over(w).cast(LongType))
      .withColumn(
        "incentive",
        when(col("rnk") === 1, col("total_sales") * lit(0.01)).otherwise(lit(0.0)))
  }
}
