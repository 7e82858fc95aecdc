package graft.etl

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.model.Schemas

/** CSV ingest: per-file schema validation, quarantine split, extra-column
  * conforming, and union into one fact DataFrame.
  *
  * Reference path (src/main/transformations/main.py:142-267):
  *  - header-probe each file (S1), set-diff against the 8 mandatory columns;
  *    files missing any → error list, quarantined (D7)
  *  - extra columns folded into one `additional_column` via concat_ws (C1),
  *    or null-filled (C5), so every file conforms to the fixed 9-column fact
  *  - conformed files unioned (U1). NB the reference has an indentation bug
  *    that keeps only the LAST file (main.py:267 vs loop at :248) — we
  *    implement the documented intent (union all; main.py:138-140).
  *
  * Scale notes: the header probe reads one line per file on the driver,
  * with Spark's own CSV header machinery (no file index, plan or job per
  * file), and the full reads are batched by *column-set group* — all files
  * sharing a header are read in ONE multi-path `spark.read.csv` call, so
  * Spark builds one scan per shape instead of one per file, and the union
  * is a handful of branches, not thousands.
  */
object Validation {

  case class FileSplit(correct: Seq[String], error: Seq[String],
      missing: Map[String, Set[String]], columns: Map[String, Seq[String]] = Map.empty)

  /** Header-only probe: the columns a CSV file declares (S1), exactly as
    * `spark.read.option("header", "true").csv(path).columns` names them.
    * It reads the header on the driver the way Spark's schema inference
    * does: the first non-blank line, tokenized by the univocity parser with
    * Spark's CSV settings, then de-duplicated and blank-filled by
    * `makeSafeHeader`. No Spark job runs; an empty file has no columns.
    */
  def probeColumns(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sessionState.conf
    val opts = new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    CSVUtils.readHeaderLine(new Path(path), opts, spark.sessionState.newHadoopConf())
      .fold(Seq.empty[String]) { line =>
        val tokens = new CsvParser(opts.asParserSettings).parseLine(line)
        CSVUtils.makeSafeHeader(tokens, conf.caseSensitiveAnalysis, opts).toSeq
      }
  }

  /** Partition files into correct (all mandatory columns present) vs error. */
  def partitionFiles(spark: SparkSession, paths: Seq[String],
      mandatory: Seq[String] = Schemas.mandatoryColumns): FileSplit = {
    val probed = paths.map(p => p -> probeColumns(spark, p))
    val withMissing = probed.map { case (p, cols) => (p, cols, mandatory.toSet -- cols.toSet) }
    FileSplit(
      correct = withMissing.collect { case (p, _, m) if m.isEmpty => p },
      error = withMissing.collect { case (p, _, m) if m.nonEmpty => p },
      missing = withMissing.collect { case (p, _, m) if m.nonEmpty => p -> m }.toMap,
      columns = probed.toMap)
  }

  /** Conform a raw per-file DataFrame to the fixed 9-column fact: mandatory
    * columns in contract order, extras folded into `additional_column`
    * (concat_ws) or null when none. (reference: main.py:254-265)
    */
  def conform(df: DataFrame, mandatory: Seq[String] = Schemas.mandatoryColumns): DataFrame = {
    val extras = df.columns.filterNot(mandatory.contains).sorted
    val additional =
      if (extras.isEmpty) lit(null).cast(StringType)
      else concat_ws(",", extras.map(col): _*)
    df.select(mandatory.map(col) :+ additional.as("additional_column"): _*)
  }

  /** Read all correct files and union them into one conformed fact DF.
    * Files are grouped by their exact column set; each group becomes a single
    * multi-path scan (one Spark job per *shape*, not per file).
    */
  def readConformedUnion(spark: SparkSession, correctFiles: Seq[String],
      mandatory: Seq[String] = Schemas.mandatoryColumns,
      knownColumns: Map[String, Seq[String]] = Map.empty): DataFrame = {
    require(correctFiles.nonEmpty, "no correct files to ingest")
    val byShape = correctFiles
      .map(p => knownColumns.getOrElse(p, probeColumns(spark, p)) -> p)
      .groupMap(_._1)(_._2)
    byShape.toSeq
      .sortBy(_._1.mkString(","))
      .map { case (cols, paths) =>
        // ONE pass, not two: inferSchema forces a full extra scan of every
        // file to guess types that conformTyped immediately casts to the
        // contract anyway (review r9 — doubled ingest I/O at scale). The
        // group's exact header IS the grouping key, so read everything as
        // string in that column order and let the contract casts type it.
        val schema = org.apache.spark.sql.types.StructType(
          cols.map(c => org.apache.spark.sql.types.StructField(c, StringType)))
        val raw = spark.read
          .option("header", "true").schema(schema)
          .csv(paths: _*)
        conformTyped(raw, mandatory)
      }
      .reduce(_.union(_))
  }

  /** conform + cast to the contract fact schema so unions line up by type. */
  def conformTyped(df: DataFrame, mandatory: Seq[String] = Schemas.mandatoryColumns): DataFrame = {
    val conformed = conform(df, mandatory)
    val casts = Schemas.salesFact.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
    conformed.select(casts.toSeq: _*)
  }
}
