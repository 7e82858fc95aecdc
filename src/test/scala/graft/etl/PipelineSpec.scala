package graft.etl

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end run of the composed reference pipeline over reference-shaped
  * fixtures: happy + extra-column files ingest, missing-column file
  * quarantines, marts land, ledger flips A→I, inputs archive.
  */
class PipelineSpec extends SparkSpec {

  import spark.implicits._

  private def mkLayout(): Pipeline.Layout = {
    val root = Files.createTempDirectory("graft-pipeline").toString
    Seq("inbox", "error", "archive", "out").foreach(d => Files.createDirectories(Paths.get(root, d)))
    Pipeline.Layout(s"$root/inbox", s"$root/error", s"$root/archive", s"$root/out", s"$root/ledger")
  }

  private def write(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), String.join("\n", lines: _*).getBytes)

  /** The names in `dir` that start with `prefix`. */
  private def ls(dir: String, prefix: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.startsWith(prefix))

  private def okCsv(dir: String): Unit =
    write(dir, "sales_ok.csv", Seq(
      "customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost",
      "1,121,quaker oats,2023-03-03,1,212.0,2,424.0",
      "2,122,sugar,2023-03-04,4,50.0,1,50.0"))

  private lazy val (customerDim, storeDim, teamDim) = PipelineSpec.dims(spark)

  test("full batch: ingest, quarantine, marts, archive, ledger") {
    val layout = mkLayout()
    write(layout.inboxDir, "sales_ok.csv", PipelineSpec.header +: PipelineSpec.batchRows.init)
    write(layout.inboxDir, "sales_extra.csv", Seq(
      "customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost,payment_mode",
      "2,122,maida,2023-03-05,4,20.0,3,60.0,UPI"))
    write(layout.inboxDir, "sales_bad.csv", Seq(
      "customer_id,product_name,sales_date,sales_person_id,price,quantity,total_cost",
      "9,besan,2023-03-06,2,52.0,1,52.0"))

    val report = Pipeline.run(spark, layout, batchId = "b1",
      now = Timestamp.valueOf("2026-08-12 00:00:00"),
      customerDim, storeDim, teamDim)

    assert(report.quarantinedFiles.size === 1)
    assert(report.factRows === 4)
    // customer 1 has two months (2023-03, 2023-04); customer 2 one month
    assert(report.customerMartRows === 3)

    val cm = spark.read.parquet(s"${layout.outputDir}/customers_data_mart")
    val c1mar = cm.filter(col("customer_id") === 1 && col("sales_date_month") === "2023-03").head()
    assert(c1mar.getAs[String]("full_name") === "Ava Ng")
    assert(c1mar.getAs[Double]("total_sales") === 424.0)

    val sm = spark.read.parquet(s"${layout.outputDir}/sales_team_data_mart")
    // store 122, 2023-03: only seller 4 (total 110) → rank 1, incentive 1.1
    val top = sm.filter(col("store_id") === 122 && col("sales_month") === "2023-03").head()
    assert(top.getAs[Long]("sales_person_id") === 4L)
    assert(math.abs(top.getAs[Double]("incentive") - 1.10) < 1e-9)

    // mart schemas: names, column order and types
    def fields(df: DataFrame) = df.schema.map(f => f.name -> f.dataType.simpleString)
    assert(fields(cm) === Seq("customer_id" -> "int", "full_name" -> "string",
      "address" -> "string", "phone_number" -> "string", "sales_date_month" -> "string",
      "total_sales" -> "double"))
    assert(fields(sm) === Seq("store_id" -> "int", "sales_person_id" -> "int",
      "full_name" -> "string", "sales_month" -> "string", "total_sales" -> "double",
      "incentive" -> "double"))

    // partitioned sink has month/store partition dirs (read-side pruning keys)
    assert(Files.exists(Paths.get(
      s"${layout.outputDir}/sales_partitioned/sales_month=2023-03/store_id=121")))
    // one part file per partition directory (the rebalance in front of the write)
    val sink = s"${layout.outputDir}/sales_partitioned"
    val partDirs = for (m <- ls(sink, "sales_month="); st <- ls(s"$sink/$m", "store_id="))
      yield s"$sink/$m/$st"
    assert(partDirs.size === 3)
    partDirs.foreach(d => assert(ls(d, "part-").count(_.endsWith(".parquet")) === 1, d))
    // mart row counts observed on the writes equal the written marts
    assert(report.customerMartRows === cm.count())
    assert(report.salesMartRows === sm.count())
    // inbox drained: correct files archived, bad file quarantined
    assert(graft.io.FileLifecycle.list(layout.inboxDir, ".csv").isEmpty)
    assert(graft.io.FileLifecycle.list(layout.archiveDir, ".csv").size === 2)
    assert(graft.io.FileLifecycle.list(layout.errorDir, ".csv").size === 1)
    // ledger: nothing left ACTIVE
    assert(new graft.meta.Staging(spark, layout.ledgerPath).activeFiles().isEmpty)
  }

  test("tied top sellers in one store-month both earn the 1% incentive") {
    val layout = mkLayout()
    write(layout.inboxDir, "sales_tied.csv", PipelineSpec.header +: PipelineSpec.tiedRows)

    Pipeline.run(spark, layout, "b-tied", Timestamp.valueOf("2026-08-12 00:00:00"),
      customerDim, storeDim, teamDim)

    val sm = spark.read.parquet(s"${layout.outputDir}/sales_team_data_mart")
    val got = sm.filter(col("store_id") === 121 && col("sales_month") === "2023-05")
      .select("sales_person_id", "total_sales", "incentive").as[(Int, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._2)) === Seq((1, 100.0), (4, 100.0)))
    got.foreach(r => assert(math.abs(r._3 - 1.0) < 1e-9, s"seller ${r._1}"))
  }

  test("file:// scheme-qualified layout runs through the Hadoop FS path") {
    val root = Files.createTempDirectory("graft-pipeline-uri").toString
    Seq("inbox", "error", "archive", "out").foreach(d => Files.createDirectories(Paths.get(root, d)))
    // every dir scheme-qualified: FileLifecycle must resolve them through the
    // Hadoop FileSystem API (same code path an s3a:// or hdfs:// URI takes)
    val layout = Pipeline.Layout(s"file://$root/inbox", s"file://$root/error",
      s"file://$root/archive", s"file://$root/out", s"file://$root/ledger")
    okCsv(s"$root/inbox")
    write(s"$root/inbox", "sales_bad.csv", Seq(
      "customer_id,product_name,sales_date,sales_person_id,price,quantity,total_cost",
      "9,besan,2023-03-06,2,52.0,1,52.0"))

    val report = Pipeline.run(spark, layout, batchId = "b-uri",
      now = Timestamp.valueOf("2026-08-12 00:00:00"),
      customerDim, storeDim, teamDim)

    assert(report.factRows === 2)
    assert(report.quarantinedFiles.size === 1)
    // outputs land under the qualified URI and are readable back
    assert(spark.read.parquet(s"${layout.outputDir}/customers_data_mart").count() === 2)
    // lifecycle listings resolve through Hadoop FS and keep the caller's form
    assert(graft.io.FileLifecycle.list(layout.inboxDir, ".csv").isEmpty)
    val archived = graft.io.FileLifecycle.list(layout.archiveDir, ".csv")
    assert(archived.size === 1)
    assert(archived.forall(_.startsWith("file:")))
    assert(graft.io.FileLifecycle.list(layout.errorDir, ".csv").size === 1)
    assert(new graft.meta.Staging(spark, layout.ledgerPath).activeFiles().isEmpty)
  }

  test("pre-flight blocks a re-run while files are still ACTIVE") {
    val layout = mkLayout()
    write(layout.inboxDir, "sales_ok.csv", Seq(
      "customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost",
      "1,121,sugar,2023-03-04,1,50.0,1,50.0"))
    val st = new graft.meta.Staging(spark, layout.ledgerPath)
    st.markActive("crashed", Seq("sales_ok.csv"), Timestamp.valueOf("2026-08-11 00:00:00"))
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, layout, "b2", Timestamp.valueOf("2026-08-12 00:00:00"),
        customerDim, storeDim, teamDim)
    }
    assert(e.getMessage.contains("pre-flight"))
  }

  test("an all-quarantined batch fails without touching the ledger") {
    val layout = mkLayout()
    write(layout.inboxDir, "sales_bad.csv", Seq(
      "customer_id,product_name,sales_date,sales_person_id,price,quantity,total_cost",
      "9,besan,2023-03-06,2,52.0,1,52.0"))
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, layout, "b-bad", Timestamp.valueOf("2026-08-12 00:00:00"),
        customerDim, storeDim, teamDim)
    }
    assert(e.getMessage.contains("no correct files to ingest"))
    assert(graft.io.FileLifecycle.list(layout.errorDir, ".csv").size === 1)
    // no generation was minted for the empty correct-file list: no ledger file
    assert(!Files.exists(Paths.get(layout.ledgerPath)))
  }

  test("a failed sink releases both batch caches") {
    val layout = mkLayout()
    okCsv(layout.inboxDir)
    // the output dir is a regular file: the first mart write cannot create under it
    val out = Paths.get(layout.outputDir)
    Files.delete(out)
    Files.write(out, "not a directory".getBytes)
    spark.catalog.clearCache()
    val base = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception] {
      Pipeline.run(spark, layout, "b-fail", Timestamp.valueOf("2026-08-12 00:00:00"),
        customerDim, storeDim, teamDim)
    }
    // the batch got past staging (files ACTIVE) before the sink threw
    assert(new graft.meta.Staging(spark, layout.ledgerPath).activeFiles() === Seq("sales_ok.csv"))
    assert(spark.sparkContext.getPersistentRDDs.size === base)
  }

  test("a batch matching no dimension row completes with empty marts") {
    val layout = mkLayout()
    // customer 9, store 999 and seller 7 are in no dimension: the inner joins drop every row
    write(layout.inboxDir, "sales_orphan.csv", Seq(
      "customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost",
      "9,999,sugar,2023-03-04,7,50.0,1,50.0",
      "9,999,besan,2023-03-05,7,52.0,2,104.0"))

    val report = Pipeline.run(spark, layout, "b-orphan", Timestamp.valueOf("2026-08-12 00:00:00"),
      customerDim, storeDim, teamDim)

    assert(report.factRows === 2)
    assert(report.customerMartRows === 0)
    assert(report.salesMartRows === 0)
    assert(spark.read.parquet(s"${layout.outputDir}/customers_data_mart").count() === 0)
    assert(spark.read.parquet(s"${layout.outputDir}/sales_team_data_mart").count() === 0)
    assert(new graft.meta.Staging(spark, layout.ledgerPath).activeFiles().isEmpty)
  }
}

object PipelineSpec {

  val header = "customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost"

  /** The correct rows of the full batch: three from `sales_ok.csv`, then
    * `sales_extra.csv`'s row without its extra column. */
  val batchRows = Seq(
    "1,121,quaker oats,2023-03-03,1,212.0,2,424.0",
    "2,122,sugar,2023-03-04,4,50.0,1,50.0",
    "1,121,sugar,2023-04-10,1,50.0,2,100.0",
    "2,122,maida,2023-03-05,4,20.0,3,60.0")

  /** Sellers 1 and 4 both total 100.0 in store 121, 2023-05. */
  val tiedRows = Seq(
    "1,121,sugar,2023-05-02,1,50.0,1,50.0",
    "2,121,oats,2023-05-09,1,25.0,2,50.0",
    "2,121,maida,2023-05-03,4,20.0,5,100.0")

  /** `rows` under [[header]] as the typed fact `Pipeline.run` reads from CSV. */
  def fact(spark: SparkSession, rows: Seq[String]): DataFrame = {
    import spark.implicits._
    Validation.conformTyped(
      spark.read.option("header", "true").csv((header +: rows).toDS()))
  }

  /** The reference-schema customer, store and sales-team dimensions. */
  def dims(spark: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val customer = Seq(
      (1, "Ava", "Ng", "12 Elm St", "560001", "555-0101", Date.valueOf("2021-01-01")),
      (2, "Ben", "Ray", "9 Oak Ave", "560002", "555-0102", Date.valueOf("2021-02-01")))
      .toDF("customer_id", "first_name", "last_name", "address", "pincode",
        "phone_number", "customer_joining_date")
    val store = Seq(
      (121, "MG Road", "560001", "Dana Kim", Date.valueOf("2020-01-01"), "good"),
      (122, "Hill St", "560004", "Eli Ward", Date.valueOf("2020-06-01"), "ok"))
      .toDF("id", "address", "store_pincode", "store_manager_name",
        "store_opening_date", "reviews")
    val team = Seq(
      (1, "Sam", "Lee", 10, "N", "3 Pine Rd", "560003", Date.valueOf("2022-01-01")),
      (4, "Kit", "Doe", 10, "N", "7 Fir Ln", "560005", Date.valueOf("2022-03-01")))
      .toDF("id", "first_name", "last_name", "manager_id", "is_manager",
        "address", "pincode", "joining_date")
    (customer, store, team)
  }
}
