package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query definitions live in [[QueryCatalog]]; this object just adapts them
  * to the driver's Map-shaped contract.
  */
object SparkEntry {

  /** Flagship query: the catalog's `customer_mart` (the customer mart's
    * [[graft.etl.Marts.monthlyTotals]] over the TPC-H transplant) on the
    * sf0.001 tables; its smoke check expects rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    QueryCatalog.customerMart(spark, dir)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryCatalog.all.map(e => e.name -> e.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries get a rows-only check. */
  def oracleSql: Map[String, String] =
    QueryCatalog.all.collect { case CatalogEntry(n, _, Some(sql)) => n -> sql }.toMap
}
