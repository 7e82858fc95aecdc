package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class SourcesSpec extends SparkSpec {

  test("csvWithSchema routes malformed rows to the corrupt-record column") {
    val dir = Files.createTempDirectory("graft-csv").toString
    Files.write(Paths.get(dir, "mixed.csv"), String.join("\n",
      "customer_id,quantity,price",
      "1,2,10.5",
      "2,notanumber,3.25",
      "3,4,7.0").getBytes)
    val schema = StructType(Seq(
      StructField("customer_id", IntegerType),
      StructField("quantity", IntegerType),
      StructField("price", DoubleType),
      StructField("_bad", StringType)))
    val df = Sources.csvWithSchema(spark, schema, Seq(s"$dir/mixed.csv"),
      corruptCol = Some("_bad")).cache()
    assert(df.count() === 3)
    val bad = df.filter(col("_bad").isNotNull)
    assert(bad.count() === 1)
    assert(bad.head().getAs[String]("_bad").contains("notanumber"))
    // good rows parse with full types
    assert(df.filter(col("_bad").isNull && col("quantity").isNotNull).count() === 2)
  }

  private def partFiles(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))

  test("dynamicPartitionOverwrite replaces only the written partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dyn").toString
    Sinks.partitionedParquet(
      Seq(("2024-01", 1L, 10.0), ("2024-02", 2L, 20.0)).toDF("month", "id", "v"),
      dir, Seq("month"))
    // overwrite ONLY 2024-02; 2024-01 must survive (static mode drops it)
    Sinks.dynamicPartitionOverwrite(
      Seq(("2024-02", 3L, 30.0)).toDF("month", "id", "v"), dir, Seq("month"))
    val back = spark.read.parquet(dir)
    assert(back.count() === 2)
    assert(back.filter(col("month") === "2024-01").count() === 1)
    assert(back.filter(col("month") === "2024-02").select("id").head().getLong(0) === 3L)
    // the conf is restored afterwards (scoped override)
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode") !== "dynamic")
    // both partitioned writes rebalance: one part file per month= directory
    Seq("2024-01", "2024-02").foreach(m => assert(partFiles(s"$dir/month=$m").size === 1, m))
  }

  test("partitioned writes put one part file in each partition directory") {
    val dir = Files.createTempDirectory("graft-rebalance").toString
    // four input partitions, each holding rows of both months
    val df = spark.range(0, 100, 1, 4).select(
      when(col("id") % 2 === 0, "2024-01").otherwise("2024-02").as("month"), col("id"))
    Sinks.partitionedParquet(df, s"$dir/static", Seq("month"))
    Sinks.dynamicPartitionOverwrite(df, s"$dir/dynamic", Seq("month"))
    for (w <- Seq("static", "dynamic"); m <- Seq("2024-01", "2024-02"))
      assert(partFiles(s"$dir/$w/month=$m").size === 1, s"$w $m")
    assert(spark.read.parquet(s"$dir/dynamic").count() === 100)
  }

  test("mergeSchema unions drifted parquet batch schemas") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/batch=1")
    Seq((2L, "b", 9.5)).toDF("id", "name", "score").write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("id", "name", "score", "batch"))
    // old batch's missing column reads as null, not an error
    assert(merged.filter(col("id") === 1).head().getAs[Any]("score") == null)
    assert(merged.count() === 2)
  }

  test("json and orc sinks round-trip through their sources") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    val jdir = Files.createTempDirectory("graft-json").toString + "/out"
    Sinks.json(df, jdir)
    val jback = Sources.json(spark, Seq(jdir), Some(df.schema))
    assert(jback.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
    val odir = Files.createTempDirectory("graft-orc").toString + "/out"
    Sinks.orc(df, odir)
    val oback = Sources.orc(spark, odir)
    assert(oback.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
    // ORC scans push filters like parquet (columnar pruning intact)
    val plan = oback.filter(col("id") === 2L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("orc"))
  }

  test("empty relation has the requested schema and zero rows") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val df = Sources.empty(spark, schema)
    assert(df.schema === schema)
    assert(df.isEmpty)
  }
}
