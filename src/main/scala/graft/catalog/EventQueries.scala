package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Cols
import graft.functions.Cols.moneySumSql
import CatalogInputs._

/** Events and streaming: event-time windows (tumbling, sliding, session),
  * sessionization, funnels, as-of joins, cohorts, transitions and
  * forecasts over the events table, and the Structured Streaming entries
  * (stateful aggregation, stream-static and stream-stream joins, dedup,
  * the DataSourceV2 stream).
  */
private[graft] object EventQueries {

  /** Hourly event counts and value totals: the oracle of `events_hourly`
    * and of its streaming twin `events_hourly_stream`. */
  private val eventsHourlySql =
    s"""SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |  COUNT(*) AS cnt,
      |  ${moneySumSql("value", 6)} AS total_value
      |FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""".stripMargin

  val entries: Seq[CatalogEntry] = Seq(

    // Tumbling event-time window (batch twin of the streaming op).
    // ts IS NOT NULL on both sides: Spark's window generator silently
    // emits nothing for a NULL event time while SQL date_trunc keeps a
    // NULL group — the explicit filter makes "no event time → no window"
    // a stated contract instead of an engine accident (round-10 sweep)
    CatalogEntry("events_hourly",
      (s, d) => eventsTable(s, d)
        .where(col("ts").isNotNull)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          Cols.moneySum(col("value"), 6).as("total_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("cnt"), col("total_value")),
      Some(eventsHourlySql)),

    CatalogEntry("sessionize",
      (s, d) => ops.Sessions.sessionize(eventsRaw(s, d), gapMicros = 1800L * 1000 * 1000),
      Some(s"""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
        |  WHERE ts IS NOT NULL
        |), m AS (
        |  SELECT user_id, event_id, ts_us, value,
        |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
        |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |), s AS (
        |  SELECT user_id, ts_us, value,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM m
        |)
        |SELECT user_id, session_seq,
        |  MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
        |  COUNT(*) AS n_events,
        |  ${moneySumSql("value", 6)} AS total_value
        |FROM s GROUP BY 1, 2""".stripMargin)),

    // Sliding event-time windows (1h window, 30min slide): each event lands
    // in two windows; oracle reconstructs the grid with a two-bucket union
    CatalogEntry("events_sliding",
      (s, d) => eventsTable(s, d)
        .where(col("ts").isNotNull) // the events_hourly no-event-time contract
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          Cols.moneySum(col("value"), 6).as("total_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("cnt"), col("total_value")),
      Some(s"""WITH b AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS win_start, event_type, value
        |  FROM events WHERE ts IS NOT NULL
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type, value
        |  FROM events WHERE ts IS NOT NULL
        |)
        |SELECT win_start, event_type, COUNT(*) AS cnt,
        |  ${moneySumSql("value", 6)} AS total_value
        |FROM b GROUP BY 1, 2""".stripMargin)),

    // Backward as-of join: each purchase picks up the value of the user's
    // most recent prior-or-simultaneous error (composed single-sort plan,
    // see ops.AsOf)
    CatalogEntry("asof_join",
      (s, d) => {
        val ev = eventsRaw(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
        val errors = ev.filter(col("event_type") === "error")
        ops.AsOf.join(purchases, errors, "user_id", "ts_us", "event_id", "value")
      },
      // ts IS NOT NULL mirrors AsOf.join's null-time exclusion; the
      // carried marker replays the engine's STRUCT wrap — a null-VALUE
      // error row is still the most recent observation (asof_value NULL),
      // where a bare-value IGNORE NULLS would skip it and resurface an
      // older, stale value (fuzz sweep, round 11)
      Some("""WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events WHERE ts IS NOT NULL
        |), u AS (
        |  SELECT event_id, user_id, ts_us, value, event_type,
        |    last_value(CASE WHEN event_type = 'error' THEN {'v': value} END IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts_us, CASE WHEN event_type = 'error' THEN 0 ELSE 1 END, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_struct
        |  FROM e WHERE event_type IN ('purchase', 'error')
        |)
        |SELECT event_id, user_id, ts_us, value, struct_extract(asof_struct, 'v') AS asof_value
        |FROM u WHERE event_type = 'purchase'""".stripMargin)),

    CatalogEntry("events_hourly_stream",
      (s, d) => streaming.EventsStream.hourlyCounts(s, d),
      Some(eventsHourlySql)),

    CatalogEntry("events_stream_static_join",
      (s, d) => streaming.EventsStream.segmentTotals(s, d),
      Some(s"""SELECT c_mktsegment, COUNT(*) AS cnt,
        |  ${moneySumSql("value", 6)} AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin)),

    // Stream-stream interval join (attribution): purchases × same-user
    // clicks in the preceding hour, watermarked on both sides; oracle is
    // the equivalent batch self-join
    CatalogEntry("events_stream_stream_join",
      (s, d) => streaming.EventsStream.purchaseClickJoin(s, d),
      Some("""WITH e AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events
        |  WHERE ts >= TIMESTAMP '1970-01-01'
        |)
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        |  (p.ts_us // 1000000) - (c.ts_us // 1000000) AS lag_secs
        |FROM e p JOIN e c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts_us BETWEEN p.ts_us - 3600000000 AND p.ts_us""".stripMargin)),

    // Stream-stream LEFT OUTER interval join: null-side rows emit on state
    // eviction, so both the stream and the oracle keep only purchases below
    // the conservative watermark cutoff (see EventsStream scaladoc).
    CatalogEntry("events_stream_left_join",
      (s, d) => streaming.EventsStream.purchaseClickLeftJoin(s, d),
      Some("""WITH e AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events
        |  WHERE ts >= TIMESTAMP '1970-01-01'
        |), p AS (SELECT * FROM e WHERE event_type = 'purchase'
        |), c AS (SELECT * FROM e WHERE event_type = 'click'
        |), cut AS (SELECT least((SELECT max(ts_us) FROM p),
        |                        (SELECT max(ts_us) FROM c)) - 9000000000 AS cutoff)
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        |  (p.ts_us // 1000000) - (c.ts_us // 1000000) AS lag_secs
        |FROM p LEFT JOIN c
        |  ON p.user_id = c.user_id
        | AND c.ts_us BETWEEN p.ts_us - 3600000000 AND p.ts_us
        |CROSS JOIN cut
        |WHERE p.ts_us < cut.cutoff""".stripMargin)),

    // Ordered funnel (ops.Sessions.funnel): deepest in-order stage per user,
    // one conditional-min aggregate — no per-stage self-joins
    CatalogEntry("funnel_stages",
      (s, d) => ops.Sessions.funnel(eventsRaw(s, d), Seq("view", "click", "purchase")),
      Some("""WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t0,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t1,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t2
        |  FROM events GROUP BY user_id)
        |SELECT user_id, t0, t1, t2,
        |  CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL
        |         AND t0 <= t1 AND t1 <= t2 THEN 3
        |       WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 <= t1 THEN 2
        |       WHEN t0 IS NOT NULL THEN 1
        |       ELSE 0 END AS funnel_depth
        |FROM f""".stripMargin)),

    // Streaming exactly-once dedup: doubled delivery collapsed by
    // dropDuplicatesWithinWatermark; oracle = single-delivery batch counts
    // Epoch contract (see EventsStream scaladoc): watermarked streaming
    // state lifetimes are measured against an initial watermark of epoch
    // 0, so a pre-epoch event's dedup state is expired-on-arrival and its
    // redelivery would double-count — both sides exclude ts < epoch.
    CatalogEntry("events_stream_dedup",
      (s, d) => streaming.EventsStream.dedupedCounts(s, d),
      Some(s"""SELECT event_type, COUNT(*) AS cnt,
        |  ${moneySumSql("value", 6)} AS total_value
        |FROM events WHERE ts >= TIMESTAMP '1970-01-01' GROUP BY 1""".stripMargin)),

    // Cohort retention: users bucketed by first-seen day (cohort), counted
    // per days-since-cohort offset — the classic product-analytics matrix.
    // Two aggregates: first-seen per user (shuffle on user), then the
    // cohort × offset rollup (shuffle on the much smaller pair key).
    CatalogEntry("cohort_retention",
      (s, d) => {
        val e = eventsRaw(s, d)
          .select(col("user_id"), usBucket("ts_us", 86400000000L).as("day"))
        val first = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
        e.join(first, "user_id")
          .select(col("user_id"), col("cohort_day"),
            (col("day") - col("cohort_day")).as("day_offset"))
          .distinct()
          .groupBy(col("cohort_day"), col("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      },
      Some("""WITH e AS (
        |  SELECT user_id, epoch_us(date_trunc('day', ts)) // 86400000000 AS day FROM events
        |), f AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT e.user_id, cohort_day, day - cohort_day AS day_offset
        |  FROM e JOIN f USING (user_id)
        |)
        |SELECT cohort_day, day_offset, COUNT(DISTINCT user_id) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin)),

    // Exact distinct users per hourly window (the exact twin of the HLL
    // variant in agg_approx; one Expand-free distinct aggregate)
    CatalogEntry("events_hourly_users",
      (s, d) => eventsRaw(s, d)
        .select(usBucket("ts_us", 3600000000L).as("hour"), col("user_id"))
        .groupBy(col("hour"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events")),
      Some("""SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hour,
        |  COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin)),

    // Native session windows: groupBy(session_window(ts, gap)) — the
    // engine-managed merge of overlapping [ts, ts+gap) intervals, vs the
    // lag/cumsum islands idiom in `sessionize` (same boundary convention).
    // Gap comparison is STRICT (> gap splits): Spark's native
    // session_window merges sessions that touch exactly (next.ts ==
    // last.ts + gap extends the session — fuzz seed 1 caught the oracle's
    // >= splitting there), the same inclusive-touch convention
    // Sessions.sessionize pins for the custom twin.
    CatalogEntry("session_window_agg",
      (s, d) => eventsTable(s, d)
        .where(col("ts").isNotNull) // the events_hourly no-event-time contract
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          Cols.moneySum(col("value"), 6).as("total_value"))
        .select(col("user_id"),
          expr("unix_micros(CAST(session_window.start AS TIMESTAMP))").as("session_start_us"),
          expr("unix_micros(CAST(session_window.end AS TIMESTAMP))").as("session_end_us"),
          col("n_events"), col("total_value")),
      Some(s"""WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events WHERE ts IS NOT NULL
        |), m AS (
        |  SELECT user_id, ts_us, value,
        |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
        |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |), s AS (
        |  SELECT user_id, ts_us, value,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM m
        |)
        |SELECT user_id, MIN(ts_us) AS session_start_us,
        |  MAX(ts_us) + 1800000000 AS session_end_us,
        |  COUNT(*) AS n_events,
        |  ${moneySumSql("value", 6)} AS total_value
        |FROM s GROUP BY user_id, seq""".stripMargin)),

    // Interval occupancy: how many 7-day order-handling windows are active
    // per day, rolled up to per-month peak. Bounded explode (≤7 rows per
    // interval) + hash aggregate — the distributed replacement for a
    // global-order sweep line (Intervals scaladoc).
    CatalogEntry("interval_occupancy",
      (s, d) => ops.Intervals.monthlyPeak(T(s, d, "orders"), col("o_orderdate"), 7),
      Some("""WITH days AS (
        |  SELECT CAST(unnest(generate_series(CAST(o_orderdate AS DATE),
        |    CAST(o_orderdate AS DATE) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM orders
        |), occ AS (SELECT day, COUNT(*) AS n_active FROM days GROUP BY 1)
        |SELECT strftime(day, '%Y-%m') AS month,
        |  CAST(MAX(n_active) AS BIGINT) AS peak_active,
        |  COUNT(*) AS active_days
        |FROM occ GROUP BY 1""".stripMargin)),

    // Time-weighted average event value per user: each value weighted by
    // the whole seconds until the user's next event. Decimal×integer
    // products keep every aggregate exact; the only double op is the final
    // division, mirrored verbatim.
    CatalogEntry("time_weighted_avg",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        eventsRaw(s, d)
          .filter(col("ts_us").isNotNull) // no event time -> no timeline segment
          .withColumn("next_us", lead(col("ts_us"), 1).over(w))
          .filter(col("next_us").isNotNull)
          .withColumn("gap_s", expr("(next_us - ts_us) div 1000000"))
          .withColumn("v2", col("value").cast(DecimalType(18, 2)))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_segments"),
            sum(col("v2") * col("gap_s")).as("sp"),
            sum(col("gap_s")).as("sw"))
          .filter(col("sw") > 0)
          .select(col("user_id"), col("n_segments"),
            (col("sp").cast("double") / col("sw").cast("double")).as("twa"))
      },
      Some("""WITH seg AS (
        |  SELECT user_id, event_id, CAST(value AS DECIMAL(18,2)) AS v2,
        |    (epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |      - epoch_us(ts)) // 1000000 AS gap_s
        |  FROM events WHERE ts IS NOT NULL
        |)
        |SELECT user_id, COUNT(*) AS n_segments,
        |  CAST(SUM(v2 * gap_s) AS DOUBLE) / CAST(SUM(gap_s) AS DOUBLE) AS twa
        |FROM seg WHERE gap_s IS NOT NULL
        |GROUP BY 1 HAVING SUM(gap_s) > 0""".stripMargin)),

    // First-order Markov transition matrix over per-user event sequences:
    // lead() within user (distributed by user), then a (prev, next) count
    // aggregate; the conditional probability normalizes per prev state
    // over the tiny state×state frame
    CatalogEntry("event_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val wp = Window.partitionBy(col("prev_type"))
        eventsRaw(s, d)
          .filter(col("ts_us").isNotNull) // no event time -> no sequence position
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("prev_type"), col("next_type"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("p", col("cnt").cast("double")
            / sum(col("cnt")).over(wp).cast("double"))
      },
      Some("""WITH seq AS (
        |  SELECT event_type AS prev_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events WHERE ts IS NOT NULL
        |), c AS (
        |  SELECT prev_type, next_type, COUNT(*) AS cnt FROM seq
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT prev_type, next_type, cnt,
        |  CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        |FROM c""".stripMargin)),

    // Seasonal-naive forecast baseline: hourly event counts vs the count
    // 24 hours earlier, joined on the INTEGER hour index (a lag() over a
    // dense-ified series would misalign across gap hours). MAE is exact
    // integers until one final division.
    CatalogEntry("forecast_baseline_mae",
      (s, d) => {
        val hourly = eventsRaw(s, d)
          .groupBy(col("event_type"),
            usBucket("ts_us", 3600000000L).as("h"))
          .agg(count(lit(1)).as("cnt"))
        hourly.join(
            hourly.select(col("event_type"), (col("h") + 24).as("h"),
              col("cnt").as("prev_cnt")),
            Seq("event_type", "h"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_hours"),
            sum(abs(col("cnt") - col("prev_cnt"))).as("abs_err"))
          .select(col("event_type"), col("n_hours"),
            (col("abs_err").cast("double") / col("n_hours")).as("mae"))
      },
      Some("""WITH hourly AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) // 3600000000 AS h, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), j AS (
        |  SELECT a.event_type, a.cnt, p.cnt AS prev_cnt
        |  FROM hourly a JOIN hourly p
        |    ON a.event_type = p.event_type AND a.h = p.h + 24
        |)
        |SELECT event_type, COUNT(*) AS n_hours,
        |  CAST(CAST(SUM(abs(cnt - prev_cnt)) AS BIGINT) AS DOUBLE) / COUNT(*) AS mae
        |FROM j GROUP BY 1""".stripMargin)),

    // Nucleus (top-p) filtering over the event-transition matrix: per prev
    // state, keep the minimal probability-desc prefix whose cumulative mass
    // reaches 0.9 (the row that CROSSES the threshold is kept). The cumsum
    // and the cut run on INTEGER counts (p desc ≡ cnt desc under one
    // denominator; threshold as cross-multiplication) — a windowed SUM of
    // doubles is NOT portable even in a pinned order, because engines are
    // free to accumulate frames tree-wise rather than sequentially.
    CatalogEntry("topp_nucleus",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val wp = Window.partitionBy(col("prev_type"))
        val wcum = Window.partitionBy(col("prev_type"))
          .orderBy(col("cnt").desc, col("next_type"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        eventsRaw(s, d)
          .filter(col("ts_us").isNotNull) // no event time -> no sequence position
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("prev_type"), col("next_type"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("tot", sum(col("cnt")).over(wp))
          .withColumn("cum_cnt", sum(col("cnt")).over(wcum))
          .filter((col("cum_cnt") - col("cnt")) * 10 < col("tot") * 9)
          .select(col("prev_type"), col("next_type"), col("cnt"),
            (col("cnt").cast("double") / col("tot").cast("double")).as("p"),
            (col("cum_cnt").cast("double") / col("tot").cast("double")).as("cum_p"))
      },
      Some("""WITH seq AS (
        |  SELECT event_type AS prev_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events WHERE ts IS NOT NULL
        |), c AS (
        |  SELECT prev_type, next_type, COUNT(*) AS cnt FROM seq
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2
        |), cm AS (
        |  SELECT prev_type, next_type, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY prev_type) AS BIGINT) AS tot,
        |    CAST(SUM(cnt) OVER (PARTITION BY prev_type ORDER BY cnt DESC, next_type
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt
        |  FROM c
        |)
        |SELECT prev_type, next_type, cnt,
        |  CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS p,
        |  CAST(cum_cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_p
        |FROM cm WHERE (cum_cnt - cnt) * 10 < tot * 9""".stripMargin)),

    // The custom MICRO-BATCH source under the oracle gate: the stream is
    // driven through ~3 rate-limited batches to completion and the final
    // complete-mode aggregate must equal DuckDB's replay of the generator
    // — stream/batch parity for a custom connector, same contract the
    // events_hourly_stream twin pins for the file source. 3 batches (not
    // more) because the contract is "multi-batch with rate-limit cuts",
    // and every extra complete-mode batch re-emits full state (~0.7 s of
    // pure trigger overhead on the local harness).
    CatalogEntry("dsv2_stream_agg",
      (s, d) => graft.streaming.StreamingConf.withShufflePartitions(s, 4) {
        graft.streaming.StreamingConf.withStateBackend(s) {
        // 4 state stores, not the session-wide 32 (ROUNDLOG lesson 8 —
        // the last harness streaming entry still paying 32 stores'
        // open/commit × 3 batches for a 16-group state)
        import org.apache.spark.sql.streaming.Trigger
        val sink = "dsv2_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val ckpt = java.nio.file.Files.createTempDirectory(
          graft.streaming.StreamingConf.scratchBase, "graft_dsv2_ckpt_").toFile
        val q = s.readStream.format("graft-gen")
          .option("rows", "20000").option("parts", "4").option("batchRows", "8192")
          .load()
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("id")).as("sum_id"),
            Cols.moneySum(col("val"), 0).as("sum_val"))
          .writeStream.outputMode("complete").format("memory").queryName(sink)
          // throwaway checkpoint on tmpfs scratch (round-11 item 5): the
          // default disk-backed checkpoint pays per-batch WAL fsyncs —
          // pure fixed cost × 3 batches for a single-shot harness query;
          // deleted eagerly (tmpfs is RAM — leaks would outlive the JVM)
          .option("checkpointLocation", ckpt.getAbsolutePath)
          .trigger(Trigger.ProcessingTime(0)).start()
        try q.processAllAvailable() finally {
          // the delete must run even when stop() itself throws — a leaked
          // checkpoint on tmpfs is RAM held past the JVM
          try q.stop()
          finally org.apache.hadoop.fs.FileUtil.fullyDelete(ckpt)
        }
        val out = s.table(sink)
        val copied = s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(out.collect(): _*)), out.schema)
        s.catalog.dropTempView(sink)
        copied
        }
      },
      Some(s"""WITH g AS (SELECT range AS id FROM range(0, 20000)),
        |v AS (
        |  SELECT id, CAST((id * 2654435761) % 1000003 AS DOUBLE) AS val,
        |    CAST(id % 16 AS INT) AS bucket
        |  FROM g
        |)
        |SELECT bucket, COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_id,
        |  ${moneySumSql("val", 0)} AS sum_val
        |FROM v GROUP BY 1""".stripMargin)),

    // Churn labeling for supervised training: a user is churned if silent
    // for the last 7 days of the observation window — exact integer-µs
    // timestamp compare, one aggregate per user plus a 1-row broadcast
    CatalogEntry("churn_labels",
      (s, d) => {
        val ev = eventsRaw(s, d)
        val horizon = ev.agg(max(col("ts_us")).as("max_ts"))
        ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"), max(col("ts_us")).as("last_ts"))
          .crossJoin(broadcast(horizon))
          .select(col("user_id"), col("n_events"),
            (col("last_ts") < col("max_ts") - 604800000000L).as("churned"))
      },
      Some("""WITH h AS (SELECT MAX(epoch_us(ts)) AS max_ts FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  MAX(epoch_us(ts)) < (SELECT max_ts FROM h) - 604800000000 AS churned
        |FROM events GROUP BY 1""".stripMargin)),
  )
}
