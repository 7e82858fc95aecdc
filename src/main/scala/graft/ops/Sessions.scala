package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Cols

/** Gap-based sessionization of the events table (batch form; the streaming
  * twin with flatMapGroupsWithState lives in graft.streaming).
  *
  * Window shape: one shuffle on user_id, then lag + running sum inside the
  * partition sort — linear in events per user. At 100 TB the per-user
  * partition fits easily (users ≪ events); a single viral user would be the
  * skew case, handled by AQE skew-split on the shuffle.
  */
object Sessions {

  /** events must carry raw microsecond ts as long (`ts_us`). A gap greater
    * than `gapMicros` (or the first event) opens a new session.
    *
    * Events with a NULL `ts_us` are EXCLUDED: an event without a time
    * cannot be placed in a gap-based timeline, and leaving it to engine
    * defaults diverges (Spark windows sort NULLs first ascending, DuckDB
    * last) — Spark's own `session_window` drops such rows too, so this
    * filter makes the batch op match both the streaming twin and the
    * oracle's `WHERE ts IS NOT NULL` (adversarial-corpus sweep, round 10).
    */
  def sessionize(events: DataFrame, gapMicros: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .filter(col("ts_us").isNotNull)
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || (col("ts_us") - col("prev_ts")) > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_sess")).over(running))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        Cols.moneySum(col("value"), 6).as("total_value"))
  }

  /** Ordered funnel per user over `stages` event types: first timestamp of
    * each stage, and the deepest stage reached IN ORDER (stage k counts only
    * if its first occurrence is at or after stage k-1's first occurrence).
    *
    * One hash aggregate over (user), conditional-min per stage — the
    * classic "count users through view → click → purchase" question without
    * a self-join per stage: at 100 TB it is a single pass + one shuffle of
    * |users| rows.
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val firsts = stages.zipWithIndex.map { case (st, i) =>
      min(when(col("event_type") === st, col("ts_us"))).as(s"t$i")
    }
    val base = events.groupBy(col("user_id")).agg(firsts.head, firsts.tail: _*)
    // deepest in-order stage: t0..tk all present and non-decreasing
    val depth = stages.indices.foldLeft(lit(0)) { (acc, i) =>
      val inOrder = (0 to i).map(j => col(s"t$j").isNotNull).reduce(_ && _) &&
        (1 to i).map(j => col(s"t${j - 1}") <= col(s"t$j")).foldLeft(lit(true))(_ && _)
      when(inOrder, i + 1).otherwise(acc)
    }
    base.withColumn("funnel_depth", depth)
      .select((col("user_id") +: stages.indices.map(i => col(s"t$i")) :+ col("funnel_depth")): _*)
  }
}
