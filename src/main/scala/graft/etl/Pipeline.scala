package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

import graft.io.{FileLifecycle, Sinks}
import graft.meta.Staging

/** The composed batch pipeline — the reference's end-to-end run
  * (src/main/transformations/main.py top-to-bottom, SURVEY.md §3.1) as one
  * idempotent library call:
  *
  *  pre-flight (leftover ACTIVE files) → list inbox → validate headers →
  *  quarantine bad files → stage ACTIVE → conform+union correct files →
  *  enrich with dimensions → customer & sales marts → parquet sinks
  *  (plain + partitioned) → archive inputs → stage INACTIVE.
  *
  * Differences from the reference, by design:
  *  - union covers ALL correct files (the reference's loop-indentation bug
  *    keeps only the last — SURVEY.md §2.9);
  *  - staging is an append-only ledger, not in-place UPDATEs (object-store
  *    safe, idempotent re-runs — graft.meta.Staging);
  *  - no interactive `input()` hold; failures propagate instead of being
  *    swallowed.
  *
  * Dirs are generic paths (local fs in tests; object-store mounts on a
  * cluster). Dimension joins accept any dim DataFrames (parquet, JDBC, …).
  */
object Pipeline {

  case class Layout(
      inboxDir: String,
      errorDir: String,
      archiveDir: String,
      outputDir: String,
      ledgerPath: String)

  case class RunReport(
      batchId: String,
      correctFiles: Seq[String],
      quarantinedFiles: Seq[String],
      factRows: Long,
      customerMartRows: Long,
      salesMartRows: Long)

  /** Run one batch over every CSV currently in the inbox. */
  def run(spark: SparkSession, layout: Layout, batchId: String, now: Timestamp,
      customerDim: DataFrame, storeDim: DataFrame, salesTeamDim: DataFrame): RunReport = {

    val staging = new Staging(spark, layout.ledgerPath)
    val leftover = staging.activeFiles()
    require(leftover.isEmpty,
      s"pre-flight: previous run left ACTIVE files ${leftover.mkString(",")} — investigate before re-running")

    val inbox = FileLifecycle.list(layout.inboxDir, ".csv")
    require(inbox.nonEmpty, s"no CSV files in ${layout.inboxDir}")

    val split = Validation.partitionFiles(spark, inbox)
    val quarantined = FileLifecycle.moveTo(split.error, layout.errorDir)

    staging.markActive(batchId, split.correct.map(fileName), now)

    // probe results from validation feed the union (no second header pass);
    // the cached fact is read once from CSV (an all-string schema from the
    // probed headers, no inferSchema pass) and reused by the count and the
    // enrichment; the cached enriched frame runs the three broadcast joins
    // once for all three sinks
    val fact = Validation
      .readConformedUnion(spark, split.correct, knownColumns = split.columns)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val enriched = SalesEnrichment.enrich(fact, customerDim, storeDim, salesTeamDim)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (factRows, cmRows, smRows) =
      try {
        val factRows = fact.count()
        // mart row counts observed on the mart writes themselves, not a
        // second listing + count job over the parquet just written
        val cmRows = writeCounted(
          Marts.monthlyTotals(enriched, SalesEnrichment.customerMartKeys, SalesEnrichment.money),
          s"${layout.outputDir}/customers_data_mart")
        val salesTotals =
          Marts.monthlyTotals(enriched, SalesEnrichment.salesMartKeys, SalesEnrichment.money)
        val smRows = writeCounted(Marts.withIncentive(salesTotals).drop("rnk"),
          s"${layout.outputDir}/sales_team_data_mart")
        Sinks.partitionedParquet(
          enriched, s"${layout.outputDir}/sales_partitioned",
          Seq("sales_month", "store_id"))
        (factRows, cmRows, smRows)
      } finally {
        // dependent cache first: a non-cascading uncache of fact would
        // rebuild the enriched cache before dropping it
        enriched.unpersist()
        fact.unpersist()
      }

    FileLifecycle.moveTo(split.correct, layout.archiveDir)
    staging.markInactive(batchId, split.correct.map(fileName), now)

    RunReport(batchId, split.correct, quarantined, factRows, cmRows, smRows)
  }

  /** Write `df` as parquet and return its row count, taken by an
    * Observation on the write itself (no job beyond the write). */
  private def writeCounted(df: DataFrame, path: String): Long = {
    val rows = Observation()
    Sinks.parquet(df.observe(rows, count(lit(1)).as("rows")), path)
    rows.get("rows").asInstanceOf[Long]
  }

  private def fileName(path: String): String =
    new org.apache.hadoop.fs.Path(path).getName
}
