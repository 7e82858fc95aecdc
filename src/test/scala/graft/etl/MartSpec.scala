package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class MartSpec extends SparkSpec {

  private lazy val orders = Tables(spark, sf(), "orders")
  private lazy val customer = Tables(spark, sf(), "customer")

  private def catalog(name: String) =
    graft.QueryCatalog.all.find(_.name == name).get.run(spark, sf())

  test("mart schemas: names, column order and types") {
    def fields(name: String) = catalog(name).schema.map(f => f.name -> f.dataType.simpleString)
    val customerMart = Seq("customer_id" -> "bigint", "full_name" -> "string",
      "sales_month" -> "string", "total_sales" -> "double")
    assert(fields("customer_mart") === customerMart)
    assert(fields("customer_mart_window") === customerMart)
    assert(fields("sales_mart_incentive") === Seq("store_id" -> "int",
      "sales_person_id" -> "bigint", "sales_month" -> "string", "total_sales" -> "double",
      "rnk" -> "bigint", "incentive" -> "double"))
  }

  test("groupBy mart and window-idiom mart are identical") {
    def same(a: DataFrame, b: DataFrame): Unit = {
      assert(a.count() > 0)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    // the TPC-H transplant the oracle checks
    same(catalog("customer_mart"), catalog("customer_mart_window"))
    // the reference star schema Pipeline.run writes, over the pipeline fixture
    val (customerDim, storeDim, teamDim) = PipelineSpec.dims(spark)
    val enriched = SalesEnrichment.enrich(
      PipelineSpec.fact(spark, PipelineSpec.batchRows ++ PipelineSpec.tiedRows),
      customerDim, storeDim, teamDim)
    Seq(SalesEnrichment.customerMartKeys, SalesEnrichment.salesMartKeys).foreach { keys =>
      same(Marts.monthlyTotals(enriched, keys, SalesEnrichment.money),
        Marts.monthlyTotalsWindowIdiom(enriched, keys, SalesEnrichment.money))
    }
  }

  test("customer mart totals sum to the grand total") {
    val mart = catalog("customer_mart")
    val martTotal = mart.agg(sum("total_sales")).head().getDouble(0)
    val factTotal = orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .agg(graft.functions.Cols.moneySum(col("o_totalprice"))).head().getDouble(0)
    assert(math.abs(martTotal - factTotal) < 1e-6 * factTotal)
  }

  test("sales mart: exactly the top seller(s) per (store, month) get rank 1 and 1% incentive") {
    val m = catalog("sales_mart_incentive")
    // every (store, month) group has at least one rank-1 row
    val groups = m.select("store_id", "sales_month").distinct().count()
    val rank1 = m.filter(col("rnk") === 1).select("store_id", "sales_month").distinct().count()
    assert(groups === rank1)
    // rank 1 is exactly the rows with the max total (ties included), and
    // they carry incentive = 1% of it; others carry 0
    val bad = m.withColumn("mx",
      max(col("total_sales")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("store_id", "sales_month")))
      .filter(
        ((col("rnk") === 1) =!= (col("total_sales") === col("mx"))) ||
        (col("rnk") === 1 && abs(col("incentive") - col("total_sales") * 0.01) > 1e-9) ||
        (col("rnk") =!= 1 && col("incentive") =!= 0.0))
    assert(bad.isEmpty)
  }

  test("enrichment three-way join preserves fact row count (FK integrity)") {
    val li = Tables(spark, sf(), "lineitem")
    val enriched = Enrichment.enrich(li, orders, customer)
    assert(enriched.count() === li.count())
    assert(enriched.columns.toSet.contains("customer_name"))
  }
}
