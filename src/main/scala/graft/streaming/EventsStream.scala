package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.functions.Cols

/** Structured Streaming over the events table.
  *
  * The reference is batch-only (SURVEY.md §2.11); this is the extension the
  * events table exists for. Streaming and batch share the same transform, so
  * the streaming result is oracle-verifiable against the batch GROUP BY.
  *
  * ==Epoch contract for watermarked state==
  * Spark's event-time watermark starts at epoch 0, and per-key state
  * lifetimes are measured against it: a PRE-EPOCH event's dedup state
  * (`ts + delay < 0`) is expired-on-arrival — its redelivered copy finds
  * no state and double-counts — and a pre-epoch unmatched outer-join row
  * can be evicted without its null-side emission. These are machinery
  * semantics, not tunables, so the watermarked entries (dedup and both
  * stream-stream joins) EXCLUDE `ts < 1970-01-01` on every stream side,
  * and their oracles mirror the filter (fuzz boundary-date wave, round
  * 11). Complete-mode aggregates are structurally immune — group state is
  * never expired-on-arrival and complete output re-emits all of it — so
  * they keep pre-epoch rows (oracle parity with the batch twin pins it).
  */
object EventsStream {

  /** The watermarked-entry input contract: see "Epoch contract" above.
    * Stated on the RAW NTZ column (not through the LTZ cast) so it pushes
    * to the parquet scan as a plain GreaterThanOrEqual without depending
    * on a cast-unwrapping optimizer rule or the session timezone (Spark
    * 4.1 unwraps the cast-wrapped spelling too in UTC — both spellings'
    * pushdown is pinned by PlanShapeSpec; a predicate that fell back to a
    * post-scan Filter would be a full-table pass at 100 TB). UTC session
    * pins NTZ '1970-01-01' == epoch (requireUtcSession guards every
    * entry).
    */
  private val epochOk = expr("ts >= TIMESTAMP_NTZ '1970-01-01'")

  /** Raw parquet schema of events.parquet — ts is TIMESTAMP(MICROS), no-tz
    * → TIMESTAMP_NTZ (the r9 driver corpus; same as the batch path).
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Hourly tumbling-window aggregate as a streaming query over the events
    * parquet, driven to completion with Trigger.AvailableNow against a
    * memory sink, returning the final result — identical to the batch
    * events_hourly query (same oracle SQL).
    *
    * On a real cluster this would be `readStream` on an arriving directory
    * with `writeStream.outputMode("append")` + watermark for state eviction;
    * complete-mode-to-memory is the local harness. State scales with
    * |open windows × event types|, bounded by the watermark.
    */
  def hourlyCounts(spark: SparkSession, sfDir: String): DataFrame = {
    // hour buckets trunc the NTZ→LTZ-cast ts: UTC-only (ADVICE r9)
    graft.Tables.requireUtcSession(spark, "EventsStream.hourlyCounts")
    // state-store count = shuffle partitions at query start (ROUNDLOG
    // lesson 8): the session-wide 32 meant 32 stores paying open/commit
    // per batch for a |hours×types|-row state — 4 is plenty locally; a
    // real cluster sizes this to |executors|. No-data finalization batch
    // skipped: complete mode re-emits every group from state, so the
    // watermark-advance batch cannot change the output (see
    // StreamingConf.withNoDataBatches for the safety argument).
    StreamingConf.withShufflePartitions(spark, 4)(
      StreamingConf.withStateBackend(spark)(
        StreamingConf.withNoDataBatches(spark, enabled = false)(
          hourlyCountsImpl(spark, sfDir))))
  }

  /** The hourly windowed aggregation shared by the complete-mode oracle
    * harness ([[hourlyCounts]]) and the append-mode deployment shape
    * ([[hourlyCountsToSink]]): ONE definition, so the shape the oracle
    * checks is by construction the shape that deploys — a fix applied to
    * either path cannot silently diverge the other. Watermarks want
    * TIMESTAMP (with-tz); session tz is UTC so the wall clock matches the
    * batch NTZ path (callers cast `hour_start` back to NTZ where needed).
    */
  private[graft] def hourlyAgg(events: DataFrame): DataFrame = events
    .withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
    .withWatermark("ts", "1 hour")
    .groupBy(window(col("ts"), "1 hour"), col("event_type"))
    .agg(
      count(lit(1)).as("cnt"),
      Cols.moneySum(col("value"), 6).as("total_value"))
    .select(col("window.start").as("hour_start"), col("event_type"),
      col("cnt"), col("total_value"))

  private def hourlyCountsImpl(spark: SparkSession, sfDir: String): DataFrame = {
    // the file-stream source requires a directory: stream the sf dir with a
    // glob pinned to the events table (explicit schema, no inference pass)
    val agg = hourlyAgg(spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
    val sinkName = "events_hourly_stream_" + UUID.randomUUID().toString.replace("-", "")
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(sinkName)
      // explicit throwaway checkpoint on tmpfs — the default lands on
      // disk-backed java.io.tmpdir and its per-batch WAL fsyncs are pure
      // fixed cost for a single-shot harness query
      .option("checkpointLocation",
        new java.io.File(scratchDir("hourly_ckpt"), "ckpt").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    detachResult(spark, sinkName)
      .withColumn("hour_start", expr("CAST(hour_start AS TIMESTAMP_NTZ)"))
  }

  /** foreachBatch: deliver streaming micro-batches to any batch sink —
    * the production pattern for sinks without native streaming support
    * (JDBC here). Each micro-batch is appended transactionally per batch;
    * the checkpoint makes redelivery at-least-once (pair with a batch-id
    * column + dedup-on-read for exactly-once against an idempotent store).
    */
  def streamEventsToJdbc(spark: SparkSession, sfDir: String,
      url: String, table: String, props: java.util.Properties,
      checkpointDir: String): Unit = {
    val stream = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.io.Sinks.jdbcAppend(batch.withColumn("batch_id", lit(batchId)), url, table, props)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming exactly-once deduplication: watermarked dropDuplicates on
    * event_id. The input is the events stream unioned with itself (every
    * event delivered twice — the at-least-once redelivery case), and the
    * deduped stream aggregates to per-type counts, which must equal the
    * plain batch counts over the single-delivery table (the oracle).
    * State holds one key per event_id inside the watermark window and is
    * evicted beyond it — bounded memory at any stream length.
    */
  def dedupedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    // the NTZ epochOk filter is epoch-aligned only in UTC (epochOk scaladoc)
    graft.Tables.requireUtcSession(spark, "EventsStream.dedupedCounts")
    // see purchaseClickJoin: fewer state stores for the bounded local run.
    // No-data batch skipped: the dedup state eviction it runs cannot
    // change the complete-mode counts (withNoDataBatches scaladoc).
    StreamingConf.withShufflePartitions(spark, 4)(
      StreamingConf.withStateBackend(spark)(
        StreamingConf.withNoDataBatches(spark, enabled = false)(
          dedupedCountsImpl(spark, sfDir))))
  }

  private def dedupedCountsImpl(spark: SparkSession, sfDir: String): DataFrame = {
    def src = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .filter(epochOk) // pre-epoch dedup state is expired-on-arrival
      .withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
    // dropDuplicatesWithinWatermark (not plain dropDuplicates): eviction by
    // watermark needs either the event-time column in the key set or this
    // operator — a bare dropDuplicates("event_id") would hold state forever
    val agg = src.union(src)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        Cols.moneySum(col("value"), 6).as("total_value"))
    val sinkName = "events_dedup_stream_" + UUID.randomUUID().toString.replace("-", "")
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(sinkName)
      .option("checkpointLocation", // tmpfs scratch, see hourlyCounts
        new java.io.File(scratchDir("dedup_ckpt"), "ckpt").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    detachResult(spark, sinkName)
  }

  /** Stream-stream interval join: every purchase event joined to the same
    * user's click events in the preceding hour — the attribution join, as
    * two unbounded streams. Both sides carry watermarks and the join
    * condition bounds event time on both, so each side's state store holds
    * only one hour of events per user and evicts beyond the watermark —
    * bounded state at any stream length. Append mode: a pair is emitted
    * exactly once, when the watermark proves no earlier click can arrive.
    *
    * At scale the join shuffles both streams on user_id (state-store
    * partitioning); throughput is bounded by state-store I/O, not the join
    * itself — RocksDB state backend + more shuffle partitions is the knob.
    */
  def purchaseClickJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // the NTZ epochOk filter is epoch-aligned only in UTC (epochOk scaladoc)
    graft.Tables.requireUtcSession(spark, "EventsStream.purchaseClickJoin")
    // state-store count = shuffle partitions at query start; each store pays
    // open/commit per micro-batch on BOTH join sides (4 stores per
    // partition for a symmetric hash join). Profiling the left-join twin
    // showed 8 → 2 saves ~0.6 s at this data scale with the join nowhere
    // near CPU-bound; a real cluster sizes this to |executors|
    // No-data finalization batch skipped: INNER join matches emit in the
    // data batch that produces them — the extra trigger only evicts state
    // (withNoDataBatches scaladoc). The left-outer twin MUST keep it.
    StreamingConf.withShufflePartitions(spark, 2)(
      StreamingConf.withStateBackend(spark)(
        StreamingConf.withNoDataBatches(spark, enabled = false)(
          purchaseClickJoinImpl(spark, sfDir))))
  }

  private def purchaseClickJoinImpl(spark: SparkSession, sfDir: String): DataFrame = {
    def side(tpe: String, prefix: String) = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .filter(col("event_type") === tpe && epochOk) // epoch contract
      .select(
        col("event_id").as(s"${prefix}_id"),
        col("user_id").as(s"${prefix}_user"),
        expr("CAST(ts AS TIMESTAMP)").as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("purchase", "purchase")
      .join(side("click", "click"),
        col("purchase_user") === col("click_user") &&
          col("click_ts") >= col("purchase_ts") - expr("interval 1 hour") &&
          col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("click_id"),
        col("purchase_user").as("user_id"),
        // event-time columns stay out of the result (NTZ/TZ round-trip);
        // the lag is the deterministic, comparable value
        ((col("purchase_ts").cast("long") - col("click_ts").cast("long"))).as("lag_secs"))
    detachAppendResult(joined, "purchase_click_join")
  }

  /** Stream-stream LEFT OUTER interval join: every purchase, with its
    * preceding-hour clicks when they exist and a null match when none do.
    * Same watermark/state shape as [[purchaseClickJoin]]; the added
    * semantics are the null-side emissions, which Spark produces on state
    * EVICTION — an unmatched purchase row appears only once the global
    * watermark (min over sides of max event time − 1 h) proves no matching
    * click can still arrive. AvailableNow runs the no-data finalization
    * batch, so end-of-stream state drains (verified: unmatched rows emit).
    *
    * Determinism: purchases above the final watermark are withheld by
    * design (their match set is still open), so the result — and the batch
    * oracle — keep only purchases BELOW a conservative cutoff,
    * min(max purchase ts, max click ts) − 150 min (watermark delay 1 h +
    * JOIN-RANGE SPAN 1 h + 30 min margin; exact integer µs arithmetic both
    * engines). The range-span term is load-bearing: Spark's left-outer
    * state eviction uses the state-VALUE watermark derived from the
    * condition, so an unmatched purchase null-emits only once the global
    * watermark passes p_ts + 1 h — not p_ts itself. A corpus with an
    * unmatched purchase in the (wm − span, wm) band proves it (fuzz seed
    * 8: emitted unmatched max 20:59, withheld 21:44, wm − 1 h = 21:18).
    * Dense-click corpora never see the band — matches emit on arrival,
    * no eviction needed — which is why the 90-min cutoff survived every
    * earlier sweep. Below the cutoff streaming output provably equals the
    * batch left join; at the boundary the eviction edge cases are
    * excluded from BOTH sides by the same integer compare.
    */
  def purchaseClickLeftJoin(spark: SparkSession, sfDir: String,
      partitions: Int = 2): DataFrame = {
    // 2 state partitions, not the harness-wide 8 (r8 verdict item 5): the
    // left join pays per-partition state-store open/commit on FOUR stores
    // per side per batch, and profiling showed 8 → 2 saves ~0.6 s at this
    // data scale with the join itself nowhere near CPU-bound. A real
    // cluster sizes this to |executors| like the other streaming entries.
    // emits unix_micros epochs from the NTZ column: UTC-only (ADVICE r9)
    graft.Tables.requireUtcSession(spark, "EventsStream.purchaseClickLeftJoin")
    // the completeness cutoff only needs the raw batch side, so its 1-row
    // agg job runs CONCURRENTLY with the streaming query (local[32] has
    // idle cores while the 2-partition join drains) instead of serially
    // after it — exact integer µs math, mirrored by the oracle's scalar
    // subquery
    val cutoffFut = scala.concurrent.Future {
      spark.read.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
        .filter(epochOk) // same epoch contract as the stream sides
        .agg(
          max(when(col("event_type") === "purchase", col("ts"))).as("maxp"),
          max(when(col("event_type") === "click", col("ts"))).as("maxc"))
        .select(expr("unix_micros(CAST(least(maxp, maxc) AS TIMESTAMP)) - 9000000000").as("cutoff"))
        // least() skips nulls, so this is null only when BOTH sides have
        // zero post-epoch rows — the joined stream is empty then, and the
        // MinValue cutoff keeps the filter a no-op instead of an NPE
        .head.getAs[java.lang.Long](0)
    }(scala.concurrent.ExecutionContext.global)
    StreamingConf.withShufflePartitions(spark, partitions) {
      StreamingConf.withStateBackend(spark) {
      def side(tpe: String, prefix: String) = spark.readStream
        .schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
        .filter(col("event_type") === tpe && epochOk) // epoch contract
        .select(
          col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as(s"${prefix}_us"),
          expr("CAST(ts AS TIMESTAMP)").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
      val joined = side("purchase", "purchase")
        .join(side("click", "click"),
          col("purchase_user") === col("click_user") &&
            col("click_ts") >= col("purchase_ts") - expr("interval 1 hour") &&
            col("click_ts") <= col("purchase_ts"),
          "left_outer")
        .select(col("purchase_id"), col("click_id"),
          col("purchase_user").as("user_id"),
          (col("purchase_ts").cast("long") - col("click_ts").cast("long")).as("lag_secs"),
          col("purchase_us"))
      val res = detachAppendResult(joined, "purchase_click_left")
      val cutoffUs = Option(scala.concurrent.Await.result(
        cutoffFut, scala.concurrent.duration.Duration.Inf))
        .fold(Long.MinValue)(_.longValue)
      res.filter(col("purchase_us") < cutoffUs).drop("purchase_us")
      }
    }
  }

  /** Copy the memory sink's (small, aggregated) result out and drop the
    * temp view — otherwise every invocation leaks a UUID-named in-memory
    * table into the session catalog for its lifetime.
    *
    * ONLY for complete-mode aggregates whose result is bounded by the group
    * space (|hours| × |types| here) — append-mode queries emit one row per
    * EVENT and must go through [[detachAppendResult]] instead (a memory sink
    * + collect() of unbounded join output is a driver OOM at scale).
    */
  private def detachResult(spark: SparkSession, sinkName: String): DataFrame = {
    val sunk = spark.table(sinkName)
    val copied = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(sunk.collect(): _*)), sunk.schema)
    spark.catalog.dropTempView(sinkName)
    copied
  }

  /** Drive an append-mode streaming query to completion through a parquet
    * sink in a temp directory and hand back a lazy batch read of it —
    * per-event output streams executor→disk and never materializes on the
    * driver (VERDICT r3 #4: the memory-sink + collect() harness shape was
    * the one a copy-paster must not ship). The exactly-once file-sink
    * manifest (_spark_metadata) makes the re-read consistent.
    */
  // File.deleteOnExit only removes EMPTY directories, so a sink dir filled
  // with parquet + checkpoint leaked permanently (review r9): register for
  // a recursive delete at JVM exit instead. The result frame reads the dir
  // lazily, so cleanup must not happen before shutdown.
  private lazy val tempDirsForCleanup = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      q.forEach(d => try org.apache.hadoop.fs.FileUtil.fullyDelete(d)
      catch { case _: Throwable => () })
    }, "graft-stream-tempdir-cleanup"))
    q
  }

  /** Fresh per-invocation scratch dir on [[StreamingConf.scratchBase]]
    * (tmpfs when available — the throwaway checkpoint's WAL fsyncs were
    * part of the streaming entries' fixed ~1.7 s floor), registered for
    * recursive cleanup at JVM exit.
    */
  private def scratchDir(tag: String): java.io.File = {
    val dir = java.nio.file.Files
      .createTempDirectory(StreamingConf.scratchBase, s"graft_${tag}_").toFile
    tempDirsForCleanup.add(dir)
    dir
  }

  private def detachAppendResult(result: DataFrame, tag: String): DataFrame = {
    val spark = result.sparkSession
    val dir = scratchDir(tag)
    val out = new java.io.File(dir, "out").getAbsolutePath
    val q = result.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", new java.io.File(dir, "ckpt").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.schema(result.schema).parquet(out)
  }

  /** Production deployment shape of the hourly aggregate: APPEND-mode
    * watermarked windowed counts over a caller-owned streaming frame (file
    * inbox, Kafka — any source with `ts`/`event_type`/`value`) into a
    * parquet sink with a DURABLE caller-owned checkpoint, returning the
    * running [[org.apache.spark.sql.streaming.StreamingQuery]].
    *
    * This is the restartable twin of [[hourlyCounts]] (whose
    * complete-mode-to-memory + throwaway scratch checkpoint is the
    * one-shot oracle harness): append mode emits each window exactly once,
    * when the watermark proves it complete, so the sink is incrementally
    * consumable and state is evicted per window — bounded by
    * |open windows × event types| at any stream length. Exactly-once
    * across crashes is the source-offset WAL + state-store commit in the
    * checkpoint plus the file sink's `_spark_metadata` log: a query killed
    * between (or during) micro-batches and restarted from the same
    * checkpoint resurrects partially-filled window counts and re-runs the
    * uncommitted batch — CrashRestartStreamingSpec proves kill+resume
    * output is row-identical to an uninterrupted run. Callers pick the
    * trigger: AvailableNow drains a backlog and stops; a processing-time
    * trigger tails a live inbox.
    */
  def hourlyCountsToSink(events: DataFrame, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery = {
    // the provider conf is read at query START, so wrapping start() puts
    // the checkpoint's state on RocksDB under SPARK_GRAFT_ROCKSDB=1 — the
    // crash/restart × RocksDB matrix cell needs the RESTART to reopen the
    // same RocksDB state files (a provider flip across restarts of one
    // checkpoint is out of contract; the env is constant for a sweep)
    StreamingConf.withStateBackend(events.sparkSession)(
      hourlyAgg(events).writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .start())
  }

  /** Stream-static join: streaming events enriched against the static
    * customer dimension (broadcast per micro-batch — the standard pattern
    * for dimension lookup in a stream), aggregated per market segment.
    * Oracle: the equivalent batch join SQL.
    */
  def segmentTotals(spark: SparkSession, sfDir: String): DataFrame = {
    // 4 state stores, not the session-wide 32 — see hourlyCounts
    StreamingConf.withShufflePartitions(spark, 4)(
      StreamingConf.withStateBackend(spark)(segmentTotalsImpl(spark, sfDir)))
  }

  private def segmentTotalsImpl(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    val agg = stream
      .join(customer, stream("user_id") === customer("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("cnt"),
        Cols.moneySum(col("value"), 6).as("total_value"))
    val sinkName = "events_segment_join_" + UUID.randomUUID().toString.replace("-", "")
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(sinkName)
      .option("checkpointLocation", // tmpfs scratch, see hourlyCounts
        new java.io.File(scratchDir("segment_ckpt"), "ckpt").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    detachResult(spark, sinkName)
  }
}
