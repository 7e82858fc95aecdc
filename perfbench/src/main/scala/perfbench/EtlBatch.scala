package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Pipeline
import graft.meta.Staging

import Main.{Op, listFiles, timed}

/** Repeated `Pipeline.run` batches over the same seeded sales CSVs, with one
  * staging ledger reused across batches. Before each batch the pristine
  * files are copied into the inbox under batch-unique names and the ledger
  * is put back to its state after the untimed batches, so every timed batch
  * meets a ledger of the same depth however many batches the run fits;
  * after it the archive and error directories are emptied. None of this is
  * timed. */
final class EtlBatch(inputs: String, root: String, seed: Long,
    params: Map[String, String]) extends Main.Workload {

  private var layout: Pipeline.Layout = _
  private var files: Seq[java.io.File] = Nil
  private var dims: (DataFrame, DataFrame, DataFrame) = _
  private val now = Timestamp.valueOf("2026-01-01 00:00:00")

  private def open(spark: SparkSession, round: Int): Unit = {
    val base = s"$root/etl/r$round"
    Seq("inbox", "error", "archive", "out").foreach(d => Files.createDirectories(Paths.get(base, d)))
    layout = Pipeline.Layout(s"$base/inbox", s"$base/error", s"$base/archive",
      s"$base/out", s"$base/ledger")
    files = listFiles(s"$inputs/files").filter(_.getName.endsWith(".csv")).sortBy(_.getName)
    def dim(n: String) = spark.read.parquet(s"$inputs/dims/$n.parquet")
    dims = (dim("customer"), dim("store"), dim("sales_team"))
  }

  private def stage(id: String, inputs: Seq[java.io.File] = files): Unit =
    inputs.foreach(f => Files.copy(f.toPath, Paths.get(layout.inboxDir, s"${id}_${f.getName}"),
      StandardCopyOption.REPLACE_EXISTING))

  private def batch(spark: SparkSession, id: String): Pipeline.RunReport = {
    val (c, s, t) = dims
    Pipeline.run(spark, layout, id, now, c, s, t)
  }

  private def tidy(): Unit =
    Seq(layout.archiveDir, layout.errorDir).flatMap(listFiles).foreach(_.delete())

  /** Warm-up: a batch over the first file only, the same code path at a
    * quarter of the cost. */
  def setup(spark: SparkSession, round: Int): Unit = {
    open(spark, round)
    stage(s"warm$round", files.take(1))
    batch(spark, s"warm$round")
    tidy()
  }

  private def ledgerFiles(): Int =
    listFiles(layout.ledgerPath).count(_.getName.endsWith(".parquet"))

  private def copyTree(from: String, to: String): Unit =
    listFiles(from).foreach { f =>
      val dst = Paths.get(to).resolve(Paths.get(from).relativize(f.toPath))
      Files.createDirectories(dst.getParent)
      Files.copy(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  private def ledgerSnapshot = s"${layout.ledgerPath}.snapshot"
  private var snapshotFiles = 0

  /** Two untimed full batches before timing (the first full batches of a
    * JVM are still slowed by JIT compilation); the ledger they leave is the
    * one every timed batch starts from. */
  override def prepare(spark: SparkSession): Map[String, Any] = {
    Seq("settle0", "settle1").foreach { id =>
      stage(id)
      batch(spark, id)
      tidy()
    }
    copyTree(layout.ledgerPath, ledgerSnapshot)
    snapshotFiles = ledgerFiles()
    Map("ledger_files_at_start" -> snapshotFiles)
  }

  private def restoreLedger(): Unit = {
    listFiles(layout.ledgerPath).foreach(_.delete())
    copyTree(ledgerSnapshot, layout.ledgerPath)
  }

  def step(spark: SparkSession, t: Tracer, rep: Int, more: () => Boolean): Seq[Op] = {
    val id = f"b$rep%03d"
    var report: Pipeline.RunReport = null
    stage(id)
    restoreLedger()
    val op = timed(spark, t, "batch", rep, 0) {
      report = t.span("etl.pipeline_run", "etl") { batch(spark, id) }
    }
    tidy()
    Seq(op.copy(detail = if (report == null) Map.empty else Map(
      "fact_rows" -> report.factRows,
      "quarantined" -> report.quarantinedFiles.map(p => Paths.get(p).getFileName.toString
        .stripPrefix(s"${id}_")).sorted,
      "customer_mart_rows" -> report.customerMartRows,
      "sales_mart_rows" -> report.salesMartRows,
      "files_written" -> listFiles(layout.outputDir).count(_.getName.endsWith(".parquet")),
      "ledger_files_added" -> (ledgerFiles() - snapshotFiles))))
  }

  def finish(spark: SparkSession): Map[String, Any] = {
    val cm = spark.read.parquet(s"${layout.outputDir}/customers_data_mart")
      .agg(count(lit(1)), sum(round(col("total_sales") * 100).cast("long"))).head()
    val sm = spark.read.parquet(s"${layout.outputDir}/sales_team_data_mart")
      .agg(count(lit(1)), sum(round(col("total_sales") * 100).cast("long")),
        sum(when(col("incentive") > 0, round(col("incentive") * 10000).cast("long"))),
        count(when(col("incentive") > 0, 1))).head()
    Map(
      "customer_mart_rows" -> cm.getLong(0), "customer_mart_total_cents" -> cm.getLong(1),
      "sales_mart_rows" -> sm.getLong(0), "sales_mart_total_cents" -> sm.getLong(1),
      "rank1_incentive_cents" -> sm.getLong(2), "rank1_rows" -> sm.getLong(3),
      "active_files" -> new Staging(spark, layout.ledgerPath).activeFiles(),
      "ledger_files" -> ledgerFiles(),
      "files_per_batch" -> files.size)
  }

  def layers(traced: Seq[Tracer.OpTrace], ops: Seq[Op]): Map[String, Double] = {
    val n = traced.size.max(1).toDouble
    def mean(f: Tracer.OpTrace => Double) = traced.map(f).sum / n
    def at(prefix: String)(o: Tracer.OpTrace) = o.coveredBy(o.at(prefix))
    val files = this.files.size.max(1).toDouble
    def perOp(key: String) = {
      val xs = ops.flatMap(_.detail.get(key)).map(_.toString.toDouble)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    Map(
      "io.sink_partitioned_s" -> mean(at("Sinks.partitionedParquet")),
      "io.sink_parquet_s" -> mean(at("Sinks.parquet")),
      "io.files_written" -> perOp("files_written"),
      "io.bytes_written" -> mean(_.inLayer("io").map(_.output.toDouble).sum),
      "etl.validate_s" -> mean(at("Validation.")),
      "etl.validate_jobs" -> mean(_.at("Validation.").map(_.jobs).sum / files),
      "etl.ingest_s" -> mean(at("Pipeline.")),
      "meta.staging_s" -> mean(o => o.coveredBy(o.inLayer("meta"))),
      "meta.staging_jobs" -> mean(_.inLayer("meta").map(_.jobs).sum.toDouble),
      "meta.staging_ledger_files" -> perOp("ledger_files_added"))
  }
}

object EtlBatch {
  /** The per-layer metric names [[EtlBatch.layers]] reports. */
  val layerKeys: Seq[String] = Seq(
    "io.sink_partitioned_s", "io.sink_parquet_s", "io.files_written",
    "io.bytes_written", "etl.validate_s", "etl.validate_jobs", "etl.ingest_s",
    "meta.staging_s", "meta.staging_jobs", "meta.staging_ledger_files")
}
