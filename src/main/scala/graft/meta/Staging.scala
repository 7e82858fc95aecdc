package graft.meta

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Run-state bookkeeping: the reference's MySQL staging table
  * (product_staging_table, status 'A' active → 'I' inactive;
  * src/main/transformations/main.py:196-225,428-448, pre-flight :46-75).
  *
  * Re-expressed as an append-only parquet ledger keyed by (batch_id,
  * file_name): a run appends ACTIVE rows before processing and INACTIVE rows
  * after success; the *latest* status per file wins. Append-only makes the
  * state machine idempotent and cluster-safe (no in-place UPDATE, which
  * object stores can't do transactionally) — re-running a failed batch
  * appends a fresh ACTIVE generation instead of mutating rows. The
  * pre-flight check is a window over a shuffle by file name; the same scan
  * observes the ledger's max(seq), so a batch reads its ledger once.
  *
  * CONCURRENCY CONTRACT (ADVICE r8): concurrent writers are safe as long
  * as their FILE SETS don't overlap — appends never corrupt (append-only),
  * and the writer nonce keeps latest-wins deterministic under any
  * interleaving. Mints continue from the batch's one read: the pre-flight
  * records the ledger's max(seq), `markActive` mints the next seq and
  * `markInactive` the one after its own ACTIVE seq; an instance that has
  * neither read nor minted runs that same read first. Another writer's
  * appends after that read can therefore carry the same seqs, which on
  * disjoint files changes no file's latest row. Two writers racing on the
  * SAME file are out of contract:
  * the pre-flight `activeFiles` guard is a read-then-act check with no
  * cross-writer lock, so one writer's in-flight ACTIVE generation can be
  * shadowed by the other's INACTIVE on the nonce tie-break and both may
  * process the file (determinism ≠ mutual exclusion). Like the reference
  * (whose MySQL pre-flight has the same read-then-act window,
  * main.py:56-75), single-writer-per-file scheduling is the caller's
  * responsibility — partition the ingest prefix per writer, or serialize
  * batches that share files.
  */
class Staging(spark: SparkSession, ledgerPath: String) {
  import Staging._

  private def ledger: Option[DataFrame] = {
    // only a missing ledger means "no prior runs"; any other failure
    // (corruption, permissions, schema drift) must propagate — treating it
    // as empty would silently defeat the pre-flight double-processing guard
    val path = new org.apache.hadoop.fs.Path(ledgerPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else Some(spark.read.schema(schema).parquet(ledgerPath))
  }

  private val book = new Book(spark, () => ledger,
    _.write.mode(SaveMode.Append).parquet(ledgerPath))

  /** Stage files ACTIVE before processing (reference main.py:196-219). */
  def markActive(batchId: String, files: Seq[String], now: Timestamp): Unit =
    book.mark(batchId, files, Active, now)

  /** Flip to INACTIVE after success (reference main.py:428-448). */
  def markInactive(batchId: String, files: Seq[String], now: Timestamp): Unit =
    book.mark(batchId, files, Inactive, now)

  /** Pre-flight: files whose most recent status is still ACTIVE — evidence of
    * a prior failed run (reference main.py:56-75).
    */
  def activeFiles(): Seq[String] = book.activeFiles()
}

object Staging {
  val Active = "A"
  val Inactive = "I"

  /** `seq` is a per-append monotonic ordinal: wall clocks can be coarse or
    * caller-supplied, so latest-wins ordering is (updatedAt, seq) — a fresh
    * ACTIVE generation beats an older INACTIVE row even at the exact same
    * timestamp. `writer` is a per-Staging-instance nonce: a mint continues
    * from the instance's last ledger read, so two CONCURRENT writers can
    * mint the same seq; the nonce makes the ordering key total, so
    * latest-wins stays deterministic under interleaving (each writer's own
    * A→I flow is correctly ordered by seq because its INACTIVE mint follows
    * its own ACTIVE one). `status` desc remains only as a final tie-break
    * WITHIN one append generation (activation + completion recorded in one
    * instant). Ledgers written before the nonce existed read back with a
    * null writer — ordered after nonced rows at the same (updatedAt, seq),
    * which can only matter for ties that were already ambiguous.
    */
  case class StagingRow(batchId: String, fileName: String, status: String,
      updatedAt: Timestamp, seq: Long, writer: String = "")

  private[meta] val schema: StructType = Encoders.product[StagingRow].schema

  /** The latest-wins reads and seq mints of one ledger store; the parquet
    * and the JDBC ledger differ only in how they `read` (None: no ledger
    * yet) and `append` a mark's frame. The instance keeps the highest seq
    * it has read or minted (see the concurrency contract on [[Staging]]).
    */
  private[meta] final class Book(spark: SparkSession, read: () => Option[DataFrame],
      append: DataFrame => Unit) {
    // collision disambiguator: concurrent writers can mint the SAME seq
    // (ADVICE r7). Appends are still safe (append-only ledger), and
    // latest-wins stays deterministic because the writer nonce breaks
    // (updatedAt, seq) ties totally — no two rows from different writers
    // ever compare equal on the full ordering key.
    private val writerId = java.util.UUID.randomUUID().toString
    private var lastSeq: Option[Long] = None

    def activeFiles(): Seq[String] = {
      val (active, seen) = read().fold((Seq.empty[String], 0L))(scan)
      lastSeq = Some(lastSeq.fold(seen)(math.max(_, seen)))
      active
    }

    /** Append one generation of `files` at `status`; no files, no append.
      * An instance that has neither read nor minted runs the pre-flight
      * read first, so max(seq) has one read path.
      */
    def mark(batchId: String, files: Seq[String], status: String, now: Timestamp): Unit =
      if (files.nonEmpty) {
        val s = lastSeq.getOrElse { activeFiles(); lastSeq.get } + 1L
        lastSeq = Some(s)
        // one partition: a mark is a few rows, and one task writes one file
        append(spark.createDataFrame(
          files.map(f => StagingRow(batchId, f, status, now, s, writerId))).coalesce(1))
      }
  }

  /** The latest-wins ACTIVE files, sorted, and the ledger's max(seq) (0
    * when empty), from one scan: the max is an Observation on the scan
    * that feeds the window.
    */
  private[meta] def scan(ledger: DataFrame): (Seq[String], Long) = {
    val seqs = Observation()
    val w = Window
      .partitionBy(col("fileName"))
      .orderBy(col("updatedAt").desc, col("seq").desc,
        col("writer").desc_nulls_last, col("status").desc)
    val active = ledger
      .observe(seqs, max(col("seq")).as("seq"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("status") === Active)
      .select("fileName")
      .collect().map(_.getString(0)).toSeq.sorted
    // an empty ledger observes a null max, or no value at all when Spark
    // folds the empty scan away. A JDBC ledger reads with the table's own
    // schema, so an integral seq column may come back as Int or Decimal;
    // anything that is not a number is a broken ledger, not "no runs yet"
    val seen = seqs.get.get("seq") match {
      case None | Some(null) => 0L
      case Some(n: java.lang.Number) => n.longValue
      case Some(other) => throw new IllegalStateException(
        s"staging ledger seq is not a number: $other (${other.getClass.getName})")
    }
    (active, seen)
  }
}

/** The same append-only A/I ledger over a JDBC table — the literal analog of
  * the reference's MySQL product_staging_table (table_scripts.sql:6-13),
  * minus the in-place UPDATEs: appends + latest-wins reads keep it
  * idempotent under retries exactly like the parquet ledger.
  */
class JdbcStaging(spark: SparkSession, url: String, table: String,
    props: java.util.Properties) {
  import Staging._

  // Missing-table detection across dialects (review r9): MySQL — the
  // reference's actual database — says "Table 'x.y' doesn't exist"
  // (SQLSTATE 42S02), Postgres 42P01, Derby "Table/View does not exist"
  // (42X05). Walk the cause chain: Spark wraps the driver's SQLException.
  // SQLSTATE decides; the message heuristic is a last resort applied ONLY
  // to the innermost SQLException — matched against every throwable's
  // message it also swallowed non-missing-table failures that merely
  // contain the phrase ("database does not exist", auth errors), turning
  // them into a silent empty ledger (ADVICE r9). When the heuristic does
  // decide, log loudly: an empty-ledger pre-flight on a wrong guess would
  // report nothing active instead of surfacing the real error.
  private def missingTable(e: Throwable): Boolean = {
    var t: Throwable = e
    var innermostSql: java.sql.SQLException = null
    while (t != null) {
      t match {
        case s: java.sql.SQLException =>
          s.getSQLState match {
            case "42S02" | "42P01" | "42X05" => return true
            case _ =>
          }
          innermostSql = s
        case _ =>
      }
      t = t.getCause
    }
    val byMessage = innermostSql != null && {
      val m = Option(innermostSql.getMessage).getOrElse("")
      m.contains("does not exist") || m.contains("doesn't exist")
    }
    if (byMessage)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"JdbcStaging: treating table '$table' as missing via the message " +
          s"heuristic (no missing-table SQLSTATE in the cause chain): " +
          innermostSql.getMessage)
    byMessage
  }

  private def ledger: Option[DataFrame] = {
    val read =
      try Some(graft.io.Sources.jdbc(spark, url, table, props))
      catch {
        // first run: the table doesn't exist yet → no ledger
        case e: Exception if missingTable(e) => None
      }
    // a JDBC ledger reads with the TABLE's schema (unlike the parquet path's
    // explicit one): pre-nonce tables lack the writer column, which would
    // make activeFiles' ordering fail to resolve (review r8) — surface it
    // as null; the doc'd null-writer ordering then applies. Appends migrate
    // the table first (ensureWriterColumn).
    // Unquoted DDL uppercases the identifier on Derby/H2/Oracle, so the
    // migrated column reads back as WRITER — match case-insensitively or
    // withColumn (which resolves case-insensitively) would null the real
    // nonce values out of every read.
    read.map(df =>
      if (df.columns.exists(_.equalsIgnoreCase("writer"))) df
      else df.withColumn("writer", lit(null).cast("string")))
  }

  // Legacy (pre-nonce) tables lack the writer column, so jdbcAppend would
  // die mid-append with an opaque driver error (ADVICE r8). Detect once per
  // instance and issue the one-time ALTER TABLE ... ADD COLUMN — additive
  // and nullable, so existing rows read back as null writer with the
  // documented ordering; a missing table needs nothing (the first append
  // creates it with the full schema).
  private var schemaEnsured = false
  private def ensureWriterColumn(): Unit = if (!schemaEnsured) {
    // Case-insensitive: the unquoted ALTER below stores WRITER on databases
    // that uppercase identifiers, and re-issuing it there throws
    // "column already exists" on every append from a fresh instance.
    val needsAlter =
      try !graft.io.Sources.jdbc(spark, url, table, props)
        .columns.exists(_.equalsIgnoreCase("writer"))
      catch {
        // only a MISSING table needs nothing (first append creates the full
        // schema); any other probe failure is transient — rethrow without
        // latching schemaEnsured, so the next append re-probes instead of
        // dying mid-append against an unmigrated table forever after.
        case e: Exception if missingTable(e) => false
      }
    if (needsAlter) {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val st = conn.createStatement()
        try st.executeUpdate(s"ALTER TABLE $table ADD COLUMN writer VARCHAR(36)")
        finally st.close()
      } finally conn.close()
    }
    schemaEnsured = true
  }

  private val book = new Book(spark, () => ledger, { mark =>
    ensureWriterColumn()
    graft.io.Sinks.jdbcAppend(mark, url, table, props)
  })

  def markActive(batchId: String, files: Seq[String], now: Timestamp): Unit =
    book.mark(batchId, files, Active, now)

  def markInactive(batchId: String, files: Seq[String], now: Timestamp): Unit =
    book.mark(batchId, files, Inactive, now)

  def activeFiles(): Seq[String] = book.activeFiles()
}
