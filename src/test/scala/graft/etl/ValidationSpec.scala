package graft.etl

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.io.FileLifecycle
import graft.model.Schemas

/** Reference-shaped ingest fixtures (FIXTURES.md §1): happy-path, extra
  * column (conform), missing column (quarantine).
  */
class ValidationSpec extends SparkSpec {

  private val dir = Files.createTempDirectory("graft-ingest").toString

  private def write(name: String, lines: Seq[String]): String = {
    val p = Paths.get(dir, name)
    Files.write(p, String.join("\n", lines: _*).getBytes)
    p.toString
  }

  private lazy val happy = write("sales_data.csv", Seq(
    "customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost",
    "1,121,quaker oats,2023-03-03,1,212.0,2,424.0",
    "2,122,sugar,2023-03-04,4,50.0,1,50.0"))

  private lazy val extra = write("sales_data_extra.csv", Seq(
    "customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost,payment_mode",
    "3,123,maida,2023-03-05,7,20.0,3,60.0,UPI"))

  private lazy val missing = write("sales_data_less.csv", Seq(
    "customer_id,product_name,sales_date,sales_person_id,price,quantity,total_cost,payment_mode",
    "4,besan,2023-03-06,2,52.0,1,52.0,cash"))

  test("partitionFiles splits correct vs missing-mandatory files") {
    val split = Validation.partitionFiles(spark, Seq(happy, extra, missing))
    assert(split.correct.toSet === Set(happy, extra))
    assert(split.error === Seq(missing))
    assert(split.missing(missing) === Set("store_id"))
  }

  test("partitionFiles probes headers without running a Spark job") {
    val (split, jobs) = jobsRun(Validation.partitionFiles(spark, Seq(happy, extra, missing)))
    assert(split.error === Seq(missing))
    assert(jobs === 0)
  }

  test("probeColumns names columns exactly as Spark's CSV header read does") {
    val headers = Seq(
      "plain" -> "customer_id,store_id,price\n1,121,2.0\n",
      "case_dups" -> "a,a,B,b\n1,2,3,4\n",
      "empty_name" -> "a,,c\n1,2,3\n",
      "quoted_comma" -> "\"x,y\",z\n1,2\n",
      "blank_lines" -> "\n\n  \ncustomer_id,store_id\n1,2\n",
      "crlf" -> "a,b\r\n1,2\r\n",
      "bom" -> "\uFEFFa,b\n1,2\n",
      "header_only" -> "a,b",
      "zero_byte" -> "",
      "padded" -> " a , b ,c \n1,2,3\n")
    val probeDir = Files.createTempDirectory("graft-probe")
    val expected = Map("case_dups" -> Seq("a0", "a1", "B2", "b3"),
      "empty_name" -> Seq("a", "_c1", "c"))
    headers.foreach { case (name, text) =>
      val p = probeDir.resolve(s"$name.csv")
      Files.write(p, text.getBytes("UTF-8"))
      val bySpark = spark.read.option("header", "true").csv(p.toString).columns.toSeq
      assert(Validation.probeColumns(spark, p.toString) === bySpark, name)
      expected.get(name).foreach(cols => assert(bySpark === cols, name))
    }
  }

  test("conformed union: fixed 9-column schema, extras folded, null fill") {
    val df = Validation.readConformedUnion(spark, Seq(happy, extra))
    assert(df.schema === Schemas.salesFact)
    assert(df.count() === 3)
    val extraRow = df.filter(df("customer_id") === 3).head()
    assert(extraRow.getAs[String]("additional_column") === "UPI")
    assert(df.filter(df("customer_id") === 1).head().getAs[String]("additional_column") == null)
  }

  test("quarantine moves error files out of the inbox") {
    val split = Validation.partitionFiles(spark, Seq(happy, extra, missing))
    val errDir = s"$dir/error"
    val moved = FileLifecycle.moveTo(split.error, errDir)
    assert(moved.forall(m => Files.exists(Paths.get(m))))
    assert(!Files.exists(Paths.get(missing)))
    assert(FileLifecycle.list(errDir, ".csv").size === 1)
    // restore for other tests (fixture is lazy-shared)
    FileLifecycle.moveTo(moved, dir)
  }
}
