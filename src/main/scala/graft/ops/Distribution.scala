package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.ScaleGates

/** Distribution analytics: exact equi-depth bucketing and largest-remainder
  * quota allocation — the two workhorses behind dataset sharding and
  * mixture sampling in a training-data pipeline.
  */
object Distribution {

  /** Exact equi-depth buckets: bucket of the 0-based global rank is
    * `rank0·n div N + 1`, reported as (bucket, cnt, min_v, max_v).
    * `orderCols` must be a TOTAL order or boundary-bucket membership is
    * nondeterministic.
    *
    * Scale shape: every bucket's stats are functions of its two BOUNDARY
    * order statistics — `min_v` = value at rank `ceil((b−1)·N/n)+1`,
    * `max_v` at rank `ceil(b·N/n)`, and `cnt` is pure integer arithmetic in
    * (b, N). So the whole result is ~2n `groupedSelect` selections: bucket
    * counts shuffle, only boundary-holding value buckets get ranked, and
    * the fact is NEVER globally sorted (the previous shape — distributed
    * sort + zipWithIndex — paid a range exchange, an external Row codec,
    * and a second sort execution). Bucket arithmetic is floor/ceil-dual
    * integer, so every engine places every row identically; empty buckets
    * (N < n) drop out because their boundary ranks fall outside [1, N].
    * Rows with a NULL value are EXCLUDED from N and every bucket — the
    * groupedSelect contract (the old sort-based shape ranked nulls first);
    * filter or coalesce upstream if nulls matter.
    */
  def equiDepthBuckets(df: DataFrame, valueCol: Column, orderCols: Seq[Column],
      n: Int = 10): DataFrame = {
    require(n >= 2, s"n=$n buckets must be at least 2")
    // boundary ranks of every bucket, deduped (single-row buckets collide);
    // `n` inside the expr is groupedSelect's per-group row count N
    val ks = expr(s"""array_distinct(flatten(transform(
      sequence(CAST(1 AS BIGINT), CAST($n AS BIGINT)),
      b -> array(((b - 1) * n + ${n - 1}) div $n + 1, (b * n + ${n - 1}) div $n))))""")
    groupedSelect(df.withColumn("__one", lit("all")),
        "__one", valueCol, orderCols, ks, buckets = 1024, maxCuts = 2 * n)
      // a selected rank's bucket is a pure function of (rank, N): the two
      // boundary rows of bucket b are exactly its min and max values
      .withColumn("bucket", expr(s"(rank - 1) * $n div n + 1"))
      .groupBy(col("bucket"))
      .agg(max(col("n")).as("__N"), min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .select(col("bucket"),
        expr(s"(bucket * __N + ${n - 1}) div $n - ((bucket - 1) * __N + ${n - 1}) div $n")
          .as("cnt"),
        col("min_v"), col("max_v"))
  }

  /** Exact per-group ranks WITHOUT a one-task-per-group window:
    * `rank = bucket start offset + in-bucket row_number`, where the bucket
    * is an ORDER-PRESERVING value-range bucket (`floor((v-mn)/(mx-mn)*B)`,
    * clamped) and bucket offsets are cumulative counts over the tiny
    * (group x bucket) frame. The in-bucket window partitions by
    * (group, bucket), so a heavy group fans out over B tasks instead of 1.
    *
    * Why: `row_number().over(partitionBy(group))` puts one group per task:
    * a handful of heavy groups (5 event types over 100 TB) means 5 tasks do
    * ALL the work, and a group larger than one task's memory cannot run at
    * all. Every step here is a hash shuffle or a small-frame window; the
    * heavy data is never globally ordered.
    *
    * Two discarded designs, for the record (cost a debugging session each):
    * ids from `spark_partition_id + monotonically_increasing_id` above a
    * range exchange are WRONG under multi-consumption (each physical
    * execution re-samples range bounds with a fresh-RDD-id seed, so
    * subtrees can partition differently and the ids disagree);
    * `orderBy + rdd.zipWithIndex` is correct (one pinned lineage) but pays
    * the external-Row codec and a double execution of the sort - measured
    * 4-5x slower than this shape on StressRanks. Value-bucket determinism
    * has neither problem: the bucket is a pure function of the row.
    *
    * Skew caveats: a single massively-repeated v lands one hot bucket (ties
    * break by `orderCols` inside it); if that is your data, salt the
    * bucket by a tie column. RANGE skew (heavy-tailed values) is handled by
    * the blended linear+log bucket position — see [[valueBuckets]]; the
    * per-group fan-out also adapts down when groups are many, since
    * parallelism then comes from the groups themselves. Requires (group,
    * value, ties) to be a TOTAL order; `valueCol` must be numeric (the
    * bucket does literal arithmetic on it). Rows with a NULL group or value
    * are EXCLUDED — unlike a row_number window, which would rank nulls
    * first; filter or coalesce upstream if nulls matter (contract pinned in
    * AnalyticsOpsSpec, and mirrored in the catalog oracles as
    * `value IS NOT NULL`). Returns (g, v, ties..., rank).
    */
  def groupedRanks(df: DataFrame, groupCol: String, valueCol: Column,
      orderCols: Seq[Column], buckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vb = valueBuckets(df, groupCol, valueCol, orderCols, buckets)
    val (bucketed, approxGroups) = (vb.bucketed, vb.approxGroups)
    // bucket start offsets within each group: cumulative counts over the
    // (group x bucket) frame — ≤ approxGroups × bEff ≈ BroadcastRows rows
    val wb = Window.partitionBy(col("g")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boffsets = bucketed.groupBy(col("g"), col("__b"))
      .agg(count(lit(1)).as("__bc"))
      .withColumn("__boff", coalesce(sum(col("__bc")).over(wb), lit(0L)))
      .select(col("g"), col("__b"), col("__boff"))
    // Broadcast is only safe while the offsets frame stays driver-sized; a
    // high-cardinality group column (per-customer, say) would blow the
    // driver with no warning (ADVICE r7). valueBuckets already shrank bEff
    // so |groups|×bEff ≲ BroadcastRows; only past that many GROUPS (where
    // the offsets frame is inherently |groups| rows) does this fall back
    // to a shuffle join — slower, never fatal. No persist/count pass: the
    // operator stays single-consumption and leaks no cache handle
    // (CacheContractSpec discipline).
    val offsetsSide = ScaleGates.broadcastIf(boffsets, approxGroups, ScaleGates.BroadcastRows)
    // in-bucket rank: the window partitions by (group, bucket), so a heavy
    // group fans out over `buckets` tasks instead of one
    val wr = Window.partitionBy(col("g"), col("__b"))
      .orderBy(col("v") +: orderCols.indices.map(i => col(s"t$i")): _*)
    // explicit broadcast: the offsets frame sits behind a window, so the
    // planner has no stats and would fall back to a sort-merge join (one
    // extra full sort of the fact side, measured 3x the whole operator)
    bucketed.join(offsetsSide, Seq("g", "__b"))
      .withColumn("rank", col("__boff") + row_number().over(wr))
      .drop("__b", "__boff")
  }

  /** Exact order-statistic SELECTION per group — the rows at given target
    * ranks under the (value, ties) total order — WITHOUT ranking the whole
    * frame. Three map-only scans of the fact: global extrema, per-(group,
    * bucket) counts (only counts shuffle), then a rank window over ONLY the
    * buckets that contain a target rank (~n/buckets rows per target). Where
    * `groupedRanks` shuffles every fact row into a window, this shuffles a
    * count frame plus a 1/buckets sliver — the shape that survives 100 TB
    * when all you need is a median or a pair of percentile cuts.
    *
    * `ranksOf` is an array<long> expression over the per-group row count,
    * exposed to it as column `n` — e.g. `array(expr("(n + 1) div 2"))` for
    * the discrete median, or two ceil-cross-multiplied percentile cuts.
    * Target ranks outside [1, n] simply select nothing. Duplicate ranks
    * (cuts that collide on tiny groups) are deduplicated; the caller matches
    * output `rank` back against its own cut expressions.
    *
    * Correctness vs a global rank: the bucket function is monotone in v and
    * equal values land in the same bucket, so the global (v, ties) rank of a
    * row equals the bucket's cumulative offset plus its in-bucket (v, ties)
    * rank — the same argument `groupedRanks` rests on. When a bucket holds
    * several targets its rows are replicated per target by the join; the
    * rank window therefore partitions by (g, bucket, rank) so each target
    * ranks its own copy.
    *
    * Requires (group, value, ties) to be a TOTAL order and `valueCol`
    * numeric. Rows with a NULL group or value are EXCLUDED (`n` counts
    * only surviving rows) — the groupedRanks contract. Degenerate
    * mn == mx collapses each group to one bucket (the
    * window then ranks whole groups — correct, just unfanned; with a
    * constant v that group's rows are all ties anyway). Returns
    * (g, n, rank, v). The targets broadcast is gated on HLL-group-count ×
    * `maxCuts` (the caller's declared upper bound on ranks per group —
    * equiDepthBuckets passes 2n, the percentile callers a literal arity);
    * a high-cardinality group column falls back to a shuffle join rather
    * than flooding the driver.
    */
  def groupedSelect(df: DataFrame, groupCol: String, valueCol: Column,
      orderCols: Seq[Column], ranksOf: Column, buckets: Int = 1024,
      maxCuts: Int = 8): DataFrame = {
    val b = valueBuckets(df, groupCol, valueCol, orderCols, buckets)
    selectAtRanks(b.bucketed, orderCols.size, ranksOf, b.approxGroups, maxCuts)
  }

  /** Selection body of [[groupedSelect]] over an already-bucketed frame
    * (g, v, t0..., __b) — split out so [[groupedMedianMad]] can run a second
    * selection on re-derived buckets without re-probing the fact's extrema. */
  private def selectAtRanks(bucketed: DataFrame, tieCount: Int, ranksOf: Column,
      approxGroups: Long, maxCuts: Int): DataFrame = {
    require(maxCuts >= 1, s"maxCuts=$maxCuts must be positive")
    import org.apache.spark.sql.expressions.Window
    // per-(group, bucket) counts: the ONLY full-width shuffle is of this
    // count frame (≈ BroadcastRows rows max), never the fact itself
    val wg = Window.partitionBy(col("g"))
    val wb = wg.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)
    val targets = bucketed.groupBy(col("g"), col("__b"))
      .agg(count(lit(1)).as("__bc"))
      .withColumn("__off", coalesce(sum(col("__bc")).over(wb), lit(0L)))
      .withColumn("n", sum(col("__bc")).over(wg))
      .withColumn("rank", explode(ranksOf))
      .filter(col("rank") > col("__off") && col("rank") <= col("__off") + col("__bc"))
      .select(col("g"), col("__b"), col("__off"), col("n"), col("rank"))
      // colliding cuts (k_lo == k_hi on a tiny group) explode to identical
      // rows; dedup or the per-target window would rank doubled copies
      .distinct()
    // targets is |groups| × |cuts| rows and explicit broadcast() bypasses
    // the auto threshold, so the gate must bound BOTH factors: the caller
    // declares its cut multiplicity via `maxCuts` (a gate hint only —
    // understating it risks a fat broadcast, never wrong results). Past
    // the budget, a shuffle join — slower, never driver-fatal.
    val targetsSide =
      ScaleGates.broadcastIf(targets, approxGroups * maxCuts, ScaleGates.BroadcastRows)
    // inner join prunes the fact to hit buckets map-side AND replicates a
    // bucket once per target it contains; the window partitions by
    // (g, __b, rank) so each target ranks its own replica independently
    val wr = Window.partitionBy(col("g"), col("__b"), col("rank"))
      .orderBy(col("v") +: (0 until tieCount).map(i => col(s"t$i")): _*)
    bucketed.join(targetsSide, Seq("g", "__b"))
      .withColumn("__r", row_number().over(wr))
      .filter(col("__r") === col("rank") - col("__off"))
      .select(col("g"), col("n"), col("rank"), col("v"))
  }

  /** Fused per-group median + median-absolute-deviation — the mad_robust
    * shape — in ONE pass structure instead of two sequential
    * [[groupedSelect]]s (r8 verdict item 3). Returns (g, median, mad) under
    * the discrete-selection contract: median = value at rank `(n+1) div 2`
    * of (v, ties), mad = value at the same rank of (|v − median|, ties).
    *
    * What the fusion removes vs two groupedSelect calls composed by a join:
    * the unpersisted median subplan used to re-execute THREE times (the
    * deviation join, the second pass's extrema probe, and the final output
    * join); and the second pass paid its own 1-row extrema job over the
    * derived deviation frame. Here the median selection runs exactly once —
    * its result (one row per group) is COLLECTED and re-joined as a local
    * relation, the IVF static-init pattern — and the deviation pass's bucket
    * bounds are DERIVED from pass 1's extrema (lo = 0, hi = max over groups
    * of max(med − mn, mx − med), an over-approximation that only widens
    * buckets, never misplaces a row: bucket placement only needs monotone).
    * Net: one extrema job, one median selection, one deviation selection —
    * no fact subplan executes twice.
    *
    * The collect is gated on the HLL group count (≤ `ScaleGates.DriverGroups`
    * rows, the groupedRanks gate discipline); past it it falls back to a
    * two-pass broadcast-join shape with the median frame persisted,
    * materialized once, and released before return — slower, never
    * driver-fatal, and neither path leaks a cache handle (CacheContractSpec
    * discipline).
    *
    * Same contract as groupedSelect: (group, value, ties) must be a TOTAL
    * order, `valueCol` numeric, NULL group/value rows excluded from n.
    */
  def groupedMedianMad(df: DataFrame, groupCol: String, valueCol: Column,
      orderCols: Seq[Column], buckets: Int = 1024): DataFrame = {
    val medianRank = array(expr("(n + 1) div 2"))
    val b = valueBuckets(df, groupCol, valueCol, orderCols, buckets)
    val med = selectAtRanks(b.bucketed, orderCols.size, medianRank,
      b.approxGroups, maxCuts = 1)
      .select(col("g"), col("v").as("med"))
    if (ScaleGates.fits(b.approxGroups, ScaleGates.DriverGroups)) {
      val medRows = med.collect()
      val medSchema = StructType(Seq(
        StructField("g", b.bucketed.schema("g").dataType),
        StructField("med", b.bucketed.schema("v").dataType)))
      val medLocal = ScaleGates.localFrame(df.sparkSession, medRows, medSchema)
      // deviation bucket bounds WITHOUT a second extrema probe: dev ≥ 0,
      // and every group's deviations sit below max(med − global_mn,
      // global_mx − med) — an over-approximation vs the true per-group
      // range, which only widens buckets (placement needs monotone, not
      // tight). Pass 1's extrema and the collected meds are both on the
      // driver already, so this is pure arithmetic, no job.
      val hiDev =
        if (medRows.isEmpty) 0.0
        else medRows.iterator.map { r =>
          val m = r.getAs[Any]("med").asInstanceOf[Number].doubleValue
          math.max(m - b.lo, b.hi - m)
        }.max
      val devBucketed = b.bucketed.drop("__b").join(broadcast(medLocal), "g")
        .withColumn("__adev", abs(col("v") - col("med")))
        .select((col("g") +: col("__adev").as("v") +:
          orderCols.indices.map(i => col(s"t$i"))): _*)
        .withColumn("__b", bucketExprFor(0.0, hiDev, b.bEff))
      selectAtRanks(devBucketed, orderCols.size, medianRank,
        b.approxGroups, maxCuts = 1)
        .select(col("g"), col("v").as("mad"))
        .join(broadcast(medLocal), "g")
        .select(col("g"), col("med").as("median"), col("mad"))
    } else {
      // group cardinality past driver budget: two-pass broadcast-join shape,
      // median frame materialized ONCE via persist so its subplan cannot
      // re-execute per consumer, released before return (no leaked handle)
      val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val medP = med.persist(level)
      medP.count()
      val dev = b.bucketed.drop("__b").join(medP, "g")
        .withColumn("__adev", abs(col("v") - col("med")))
        .select((col("g") +: col("__adev").as("v") +:
          orderCols.indices.map(i => col(s"t$i"))): _*)
      val out = selectAtRanks(
        valueBuckets(dev, "g", col("v"),
          orderCols.indices.map(i => col(s"t$i")), buckets).bucketed,
        orderCols.size, medianRank, b.approxGroups, maxCuts = 1)
        .select(col("g"), col("v").as("mad"))
        .join(medP, "g")
        .select(col("g"), col("med").as("median"), col("mad"))
      // materialize the (|groups|-row) result so the internal median cache
      // can be released here; the returned frame is the operator's one
      // persisted handle (the Dedup cache contract — caller unpersists)
      val outP = out.persist(level)
      outP.count()
      medP.unpersist()
      outP
    }
  }

  /** Shared prelude of groupedRanks/groupedSelect — the two operators MUST
    * bucket identically (their correctness argument is the same monotone
    * function), so the logic lives once. Projects/renames to (g, v, t0...),
    * excludes null groups/values (the uniform contract both scaladocs pin),
    * fetches global extrema + HLL group count in ONE 1-row job, and buckets
    * by a BLENDED monotone position:
    *
    *   pos = (linear_range_fraction + ln1p_fraction) / 2
    *
    * Pure linear range splits die on heavy tails — one whale value 10^6×
    * the median pins essentially every row into bucket 0, recreating the
    * single-task window this machinery exists to avoid; pure log splits
    * skew the other way on uniform data (ratio-sliced buckets crowd the top
    * end ~13×). The average bounds the worst bucket at ~2× either pure
    * scheme, and correctness only needs monotone + equal-values-same-bucket
    * — both preserved under any monotone double rounding.
    *
    * Effective bucket count adapts to group cardinality: with many groups,
    * parallelism comes from the groups themselves, so per-group fan-out
    * shrinks as `min(buckets, ScaleGates.BroadcastRows / approxGroups)` and
    * the offsets/count frames stay broadcast-sized without the caller knowing
    * its cardinality (review r8 — the fixed worst-case product gate dropped
    * the broadcast for mid-cardinality callers).
    */
  /** Bucketed fact plus the driver-side facts of the probe job: HLL group
    * count, effective bucket fan-out, and the global value extrema (as
    * placement doubles) — exposed so [[groupedMedianMad]] can derive its
    * deviation-pass bounds without a second probe. */
  private[ops] final case class Bucketed(bucketed: DataFrame, approxGroups: Long,
    bEff: Int, lo: Double, hi: Double)

  /** The blended linear+log bucket position over [lo, hi] at fan-out bEff —
    * monotone in v with equal values sharing a bucket, the only properties
    * the rank/selection correctness arguments use. */
  private def bucketExprFor(lo: Double, hi: Double, bEff: Int): Column =
    if (!(hi > lo) || bEff == 1) lit(0L) // empty input, constant v, or unfanned
    else {
      val x = col("v").cast("double") - lit(lo)
      val pos = (x / lit(hi - lo) + log1p(x) / lit(math.log1p(hi - lo))) / 2
      least(floor(pos * bEff), lit(bEff - 1).cast("long"))
    }

  // package-visible so the spec can probe the bucket histogram directly
  // (the ≤2×-either-pure-scheme balance claim above is otherwise only
  // pinned indirectly through StressRanks timings)
  private[ops] def valueBuckets(df: DataFrame, groupCol: String, valueCol: Column,
      orderCols: Seq[Column], buckets: Int): Bucketed = {
    require(buckets >= 1, s"buckets=$buckets must be positive")
    val projected = df.select((col(groupCol).as("g") +: valueCol.as("v") +:
      orderCols.zipWithIndex.map { case (c, i) => c.as(s"t$i") }): _*)
      .filter(col("g").isNotNull && col("v").isNotNull)
    val ex = projected.agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
      approx_count_distinct(col("g")).as("ng")).head()
    val approxGroups = math.max(1L, ex.getAs[Long]("ng"))
    val bEff = math.max(1L,
      math.min(buckets.toLong, ScaleGates.BroadcastRows / approxGroups)).toInt
    // numeric contract: min/max of a numeric column come back as Number
    // (Long/Int/Double/java BigDecimal...); doubles only steer bucket
    // PLACEMENT, never values, so the cast is loss-tolerant
    val (mn, mx) = (ex.getAs[Any]("mn"), ex.getAs[Any]("mx"))
    val (lo, hi) = (
      Option(mn).map(_.asInstanceOf[Number].doubleValue).getOrElse(0.0),
      Option(mx).map(_.asInstanceOf[Number].doubleValue).getOrElse(0.0))
    Bucketed(projected.withColumn("__b", bucketExprFor(lo, hi, bEff)),
      approxGroups, bEff, lo, hi)
  }

  /** Largest-remainder (Hamilton) apportionment of `seats` integer seats
    * proportional to a per-key integer weight. Returns
    * (key, weight, base_seats, extra, seats).
    *
    * Exactness: quota arithmetic is integer cross-multiplication —
    * `base = (seats·w) div W`, remainder `seats·w − base·W` — so there is
    * no floating-point anywhere and any engine allocates identically. The
    * `extra` ranking breaks remainder ties by key ascending with a NULL
    * key FIRST (a stated policy, not an accident — Spark's ascending
    * default; any SQL replay must spell `NULLS FIRST`, since
    * DuckDB/Postgres default ascending NULLS LAST and a NULL stratum
    * tying a named one on remainder would be seated differently — fuzz
    * seed 12, round 11). Requires `seats·max(w)` to fit in a long.
    *
    * Scale shape: weights aggregate map-side; the allocation itself runs
    * over |keys| rows (tiny). The grand total is a 1-row broadcast.
    */
  def quotaAllocation(weights: DataFrame, keyCol: String, weightCol: String,
      seats: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seats >= 1, s"seats=$seats must be positive")
    val w = weights.select(col(keyCol).as("key"), col(weightCol).cast("long").as("w"))
    val tot = w.agg(sum(col("w")).as("__W"))
    val based = w.crossJoin(broadcast(tot))
      .withColumn("base_seats", expr(s"($seats * w) div __W"))
      .withColumn("rem", expr(s"$seats * w - base_seats * __W"))
    val win = Window.orderBy(col("rem").desc, col("key"))
    val leftover = based.agg((lit(seats) - sum(col("base_seats"))).as("__left"))
    based
      .withColumn("rn", row_number().over(win))
      .crossJoin(broadcast(leftover))
      .withColumn("extra", when(col("rn") <= col("__left"), 1L).otherwise(0L))
      .select(col("key"), col("w").as("weight"), col("base_seats"),
        col("extra"), (col("base_seats") + col("extra")).as("seats"))
  }
}
