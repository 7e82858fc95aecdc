package graft.io

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** Sink operators (SURVEY.md §2.2).
  *
  * K3 note: the reference swallows JDBC write errors
  * (src/main/write/database_write.py:16-17) — we deliberately let failures
  * propagate; a silent mart-write failure is data loss.
  */
object Sinks {

  /** K1: parquet overwrite (reference: src/main/write/parquet_writer.py:10-19). */
  def parquet(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).parquet(path)

  /** K2: partitioned parquet (reference: main.py:363-368). Partition columns
    * choose the read-side pruning keys; (sales_month, store_id) lets monthly
    * per-store queries touch 1/(months×stores) of the data. At 100 TB keep
    * partition cardinality bounded (months × stores, not e.g. customer_id).
    *
    * A REBALANCE on the partition columns sends each partition directory's
    * rows to one writer task, so a small directory gets one file instead of
    * one per input task. AQE then sizes the writers: it splits a skewed
    * directory's rows across several tasks and coalesces small directories
    * into one task — unlike a plain `repartition`, which fixes the count.
    */
  def partitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.hint("rebalance", partitionCols.map(col): _*)
      .write.partitionBy(partitionCols: _*).mode(mode).parquet(path)

  /** Dynamic partition overwrite: replace ONLY the partitions present in
    * `df`, leaving sibling partitions untouched — the idempotent daily-
    * backfill write (static overwrite mode would drop the whole table
    * root). Session-conf scoped to this call and restored after.
    */
  def dynamicPartitionOverwrite(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try partitionedParquet(df, path, partitionCols)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** K3: JDBC append (reference: src/main/write/database_write.py:8-15). */
  def jdbcAppend(df: DataFrame, url: String, table: String, props: Properties): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  /** CSV sink (used by tests/fixtures). */
  def csv(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.option("header", "true").mode(mode).csv(path)

  /** JSON-lines sink (interchange with non-columnar consumers). */
  def json(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** ORC sink — columnar twin of [[parquet]] for ORC-standard lakes. */
  def orc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)
}
