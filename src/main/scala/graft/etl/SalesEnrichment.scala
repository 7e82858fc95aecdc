package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Cols

/** Reference-schema enrichment: the three-way dimension join
  * (src/main/transformations/dimension_tables_join.py:4-55) over the
  * reference's own star schema (FIXTURES.md §§1-3), and the column mapping
  * of both [[Marts]] over its output.
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

  /** customers_data_mart's keys (table_scripts.sql:148-155) over
    * [[enrich]]'s output: per customer per month. */
  val customerMartKeys: Seq[Column] = Seq(
    col("customer_id"),
    concat(col("customer_first_name"), lit(" "), col("customer_last_name")).as("full_name"),
    col("customer_address").as("address"),
    col("phone_number"),
    col("sales_month").as("sales_date_month"))

  /** sales_team_data_mart's keys (table_scripts.sql:160-167) over
    * [[enrich]]'s output: per (store, salesperson, month). */
  val salesMartKeys: Seq[Column] = Seq(
    col("store_id"),
    col("sales_person_id"),
    concat(col("sales_person_first_name"), lit(" "), col("sales_person_last_name"))
      .as("full_name"),
    col("sales_month"))

  /** Both marts' money column. */
  val money: Column = col("total_cost")
}
