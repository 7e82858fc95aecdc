package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Cols

/** Reference-schema enrichment + marts: the three-way dimension join
  * (src/main/transformations/dimension_tables_join.py:4-55) and both marts
  * (customer_mart_sql_tranform_write.py:10-27,
  * sales_mart_sql_transformation_file.py:11-39) over the reference's own
  * star schema (FIXTURES.md §§1-3).
  *
  * The reference's qualified `drop("s3_data.customer_id")` calls are silent
  * no-ops (SURVEY.md §2.3 P2), leaving duplicate columns it later
  * re-qualifies around; we emit the *intended* observable schema with one
  * explicit aliased select — which also gives Catalyst exact pruning.
  * Dims broadcast: facts never shuffle during enrichment.
  */
object SalesEnrichment {

  /** J1×J2×J3: fact × customer × store × sales_team (all inner equi-joins).
    * Adds the `sales_month` bucket (C3/C4) so both marts and the partitioned
    * sink derive from one enriched frame.
    */
  def enrich(fact: DataFrame, customer: DataFrame, store: DataFrame,
      salesTeam: DataFrame): DataFrame =
    fact.as("f")
      .join(broadcast(customer.as("ct")), col("f.customer_id") === col("ct.customer_id"), "inner")
      .join(broadcast(store.as("s")), col("s.id") === col("f.store_id"), "inner")
      .join(broadcast(salesTeam.as("st")), col("st.id") === col("f.sales_person_id"), "inner")
      .select(
        col("f.customer_id"),
        col("ct.first_name").as("customer_first_name"),
        col("ct.last_name").as("customer_last_name"),
        col("ct.address").as("customer_address"),
        col("ct.phone_number"),
        col("f.store_id"),
        col("s.store_manager_name"),
        col("f.sales_person_id"),
        col("st.first_name").as("sales_person_first_name"),
        col("st.last_name").as("sales_person_last_name"),
        col("f.sales_date"),
        Cols.monthBucket(col("f.sales_date")).as("sales_month"),
        col("f.total_cost"))

  /** customers_data_mart (table_scripts.sql:148-155): per customer per month
    * total purchases. groupBy form — identical results to the reference's
    * window+distinct, one shuffle (SURVEY.md §4).
    */
  def customerMart(enriched: DataFrame): DataFrame =
    enriched
      .groupBy(
        col("customer_id"),
        concat(col("customer_first_name"), lit(" "), col("customer_last_name")).as("full_name"),
        col("customer_address").as("address"),
        col("phone_number"),
        col("sales_month").as("sales_date_month"))
      .agg(Cols.moneySum(col("total_cost")).as("total_sales"))

  /** sales_team_data_mart (table_scripts.sql:160-167): per (store,
    * salesperson, month) total; rank-1 seller per (store, month) earns 1%
    * incentive, rest 0 (rank ties share the incentive — reference
    * sales_mart_sql_transformation_file.py:24-30; code semantics, not the
    * "top 1%" comment — SURVEY.md §2.8). The rank-1 rule is
    * [[SalesMart.withIncentive]]'s, shared with the catalog's mart.
    */
  def salesMart(enriched: DataFrame): DataFrame = {
    val totals = enriched
      .groupBy(
        col("store_id"),
        col("sales_person_id"),
        concat(col("sales_person_first_name"), lit(" "), col("sales_person_last_name"))
          .as("full_name"),
        col("sales_month"))
      .agg(Cols.moneySum(col("total_cost")).as("total_sales"))
    SalesMart.withIncentive(totals).drop("rnk")
  }
}
