package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs shared by every catalog family: the sf tables (read through
  * [[graft.Tables]]), the documents and embeddings tables, the two views
  * of the events table, and the dialect-shared SQL entry. It reads
  * nothing else in the catalog.
  */
private[graft] object CatalogInputs {

  def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)
  def docs(s: SparkSession, d: String): DataFrame = T(s, d, "documents")
  def embs(s: SparkSession, d: String): DataFrame = T(s, d, "embeddings")

  /** An entry whose one SQL text runs verbatim on Spark's parser, over temp
    * views of `tables`, and on DuckDB as its own oracle. */
  def sharedSqlEntry(name: String, tables: Seq[String], sql: String): CatalogEntry =
    CatalogEntry(name, (s, d) => {
      tables.foreach(t => T(s, d, t).createOrReplaceTempView(t))
      s.sql(sql)
    }, Some(sql))

  /** events.parquet stores ts as TIMESTAMP(MICROS), no-tz → TIMESTAMP_NTZ
    * on read (the r9 driver corpus; earlier corpora wrote TIMESTAMP(NANOS),
    * which Spark's reader rejects without the nanosAsLong legacy conf and
    * an exact integer `ts div 1000` µs rebuild — the native µs read needs
    * neither, and lands on the same NTZ µs type the rebuild produced).
    */
  def eventsTable(s: SparkSession, dir: String): DataFrame = T(s, dir, "events")

  /** Raw events with ts as microsecond longs — the exact epoch unit DuckDB's
    * `epoch_us(ts)` yields, so oracle arithmetic stays in integer space.
    * The NTZ→LTZ cast is the epoch identity only under UTC, so the session
    * timezone is asserted here rather than trusted to each entry point
    * (ADVICE r9 — every graft main pins UTC, library callers may not).
    */
  def eventsRaw(s: SparkSession, dir: String): DataFrame = {
    Tables.requireUtcSession(s, "eventsRaw")
    T(s, dir, "events")
      .withColumn("ts_us", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
      .drop("ts")
  }

  /** Exact integer FLOOR-division time bucket of a µs epoch column.
    *
    * The bucket contract is CALENDAR semantics — floor toward the past —
    * the convention `date_trunc`/`window()` already pin for the rest of
    * the events family. A bare `div` (and DuckDB's integer `//`) truncates
    * toward ZERO instead, which agrees with floor only for ts ≥ epoch; a
    * pre-epoch (negative-µs) event would land one bucket too late, and
    * worse, `(-b, b)` would collapse into one double-width bucket 0.
    * `x - pmod(x, b)` is the largest multiple of b ≤ x (pmod ≥ 0 at any
    * sign), so the `div` is exact — all integer ops, codegen-friendly,
    * no double-division boundary misrounding (adjacent day-bucket
    * quotients are ~1e-11 apart at µs scale, inside double error).
    * Oracles replay it as `epoch_us(date_trunc(unit, ts)) // b` —
    * date_trunc floors, making the `//` exact on a multiple.
    */
  def usBucket(c: String, bucketUs: Long): Column =
    expr(s"($c - pmod($c, $bucketUs)) div $bucketUs")

  /** Query embedding: the vector of vec_id = 0 (driver-side 1-row lookup). */
  def queryVec(s: SparkSession, d: String): Seq[Float] =
    embs(s, d).filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)
}
