package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}

/** Column helpers shared across operators.
  *
  * Money aggregation: summing doubles is order-dependent across partitions,
  * so a double `sum` is not reproducible run-to-run (and never hash-matches a
  * DuckDB oracle). We round each value to exact decimal cents first; decimal
  * addition is exact and associative, so the aggregate is deterministic under
  * any partitioning. Cast the final sum back to double for a stable,
  * engine-neutral output type. The DuckDB oracle uses the same
  * `CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)` shape, rendered by
  * [[moneySumSql]].
  */
object Cols {

  /** Deterministic money sum: exact decimal accumulate, double result.
    *
    * Range contract: a value with > 18−scale integral digits overflows the
    * DECIMAL(18,s) cast — a loud error under ANSI mode (the Spark 4
    * default), a silently-dropped null (and a count/sum mismatch in
    * [[moneyAvg]]) only if a deployment turns ANSI off. Money columns at
    * 10^16 are corrupt input; keep ANSI on rather than widening every
    * aggregate to DECIMAL(38,·) and halving codegen throughput.
    */
  def moneySum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** The oracle-SQL twin of [[moneySum]]: renders
    * `CAST(SUM(CAST(<sqlExpr> AS DECIMAL(18,<scale>))) AS DOUBLE)`. */
  def moneySumSql(sqlExpr: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($sqlExpr AS DECIMAL(18,$scale))) AS DOUBLE)"

  /** Deterministic average = decimal sum / non-null count (double / long). */
  def moneyAvg(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType) / count(c)

  /** `yyyy-MM` month bucket from a date/timestamp column, reproducing the
    * reference's `substring(col, 1, 7)`-over-implicit-string-cast idiom
    * (reference: src/main/transformations/customer_mart_sql_tranform_write.py:12-13).
    * Kept as substring-of-cast (not `date_format`) for oracle parity:
    * DuckDB `substr(CAST(ts AS VARCHAR), 1, 7)` yields the same bytes.
    */
  def monthBucket(c: Column): Column = substring(c.cast(StringType), 1, 7)
}
