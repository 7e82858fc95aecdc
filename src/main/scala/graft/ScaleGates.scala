package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, when}
import org.apache.spark.sql.types.StructType

/** The engine's size gates: every choice between a driver-local (or
  * broadcast) fast path and a distributed fallback, its budget and its one
  * decision rule, [[fits]].
  *
  * | site | measured | budget | past the budget |
  * |---|---|---|---|
  * | `Graph.pageRank`, `pageRankTopK` past the edge gate: rank-vector broadcast, per iteration | nodes | [[DriverNodes]] | shuffle joins, each iteration persisted |
  * | `Graph.triangleStats`: degree broadcast | nodes | [[DriverNodes]] | shuffle degree joins |
  * | `Graph.kCore`: alive-set broadcast, per peel | alive nodes | [[DriverNodes]] | shuffle joins |
  * | [[driverLocal]] in front of `Graph.pageRank`, `pageRankTopK`, `triangleStats`, `kCore`, `commonNeighborScores` | edges; a null endpoint closes it | [[DriverEdges]] | the distributed plan |
  * | the two wedge kernels behind it (`triangleStats`, `commonNeighborScores`) | oriented wedges, wedges | [[DriverWedges]] | the kernel declines: the distributed plan |
  * | [[driverLocal]] in front of `Dedup.connectedComponents`' union-find | edges; a null id throws | [[DriverEdges]] (long ids), `DriverEdges / 4` (string ids) | min-label propagation |
  * | `Distribution.groupedRanks`: offsets broadcast | HLL groups | [[BroadcastRows]] | shuffle join |
  * | `Distribution.groupedSelect` (and `groupedMedianMad`'s selections): targets broadcast | HLL groups × `maxCuts` | [[BroadcastRows]] | shuffle join |
  * | `Distribution.groupedMedianMad`: median collect | HLL groups | [[DriverGroups]] | two passes, the median frame persisted |
  *
  * [[BroadcastRows]] also sizes `Distribution.valueBuckets`' per-group
  * bucket fan-out (`min(buckets, BroadcastRows / groups)`). That is tuning,
  * not a gate: it keeps its value under the flag below, so the forced
  * sweep runs the exact plans a past-budget input would see.
  *
  * At test scale the driver-local branch always wins, so the distributed
  * branches — the ones that run on a 100 TB cluster — would otherwise only
  * run in targeted unit specs, never under the full oracle sweep. Setting
  * the system property `graft.forceDistributed=true` (or env
  * `SPARK_GRAFT_FORCE_DISTRIBUTED=1`, for the out-of-process Verify sweep,
  * `scripts/forced_fallback_sweep.sh`) closes every gate, at any measured
  * size including zero. The flag is read per call (not cached) so ScalaTest
  * suites can toggle the property around individual assertions.
  */
object ScaleGates {

  /** Edges collected to the driver as primitive pairs (~40 bytes each with
    * object headers: ~200 MB). */
  val DriverEdges = 5000000L

  /** Driver-held node vectors and node-set broadcasts. */
  val DriverNodes = 10000000L

  /** Packed wedge-pair longs a local graph kernel may allocate (160 MB). */
  val DriverWedges = 20000000L

  /** Rows of a broadcast join side. */
  val BroadcastRows = 1000000L

  /** Per-group rows collected to the driver. */
  val DriverGroups = 1000000L

  /** True when every gate must take its distributed branch. */
  def forceDistributed: Boolean =
    sys.props.get("graft.forceDistributed")
      .orElse(sys.env.get("SPARK_GRAFT_FORCE_DISTRIBUTED"))
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** The one gate decision: the driver-local or broadcast branch may run. */
  def fits(measured: Long, budget: Long): Boolean = !forceDistributed && measured <= budget

  /** `df` marked for broadcast when its `rows` fit `budget`, else as is. */
  def broadcastIf(df: DataFrame, rows: Long, budget: Long): DataFrame =
    if (fits(rows, budget)) broadcast(df) else df

  /** The edge gate. One eager job over the persisted `(src, dst)` frame
    * `edges` counts the edges and those with a null endpoint; it also fills
    * the cache every later consumer reads. With a null endpoint,
    * `onNullIds` gets that edge count: it may throw (and `edges` is released
    * first), else the gate closes. With none and at most `budget` edges,
    * `kernel` runs; it collects `edges` itself and may decline with None.
    * `edges` is released when the kernel answers or throws; when the gate
    * closes or the kernel declines it stays cached for the caller's
    * distributed plan.
    */
  def driverLocal(edges: DataFrame, budget: Long, onNullIds: Long => Unit = _ => ())(
      kernel: DataFrame => Option[DataFrame]): Option[DataFrame] = {
    val gate = edges.agg(count(lit(1)).as("n"),
      count(when(col("src").isNull || col("dst").isNull, 1)).as("nBad")).head()
    val out =
      try {
        val nBad = gate.getLong(1)
        if (nBad != 0L) { onNullIds(nBad); None }
        else if (fits(gate.getLong(0), budget)) kernel(edges)
        else None
      } catch { case t: Throwable => edges.unpersist(); throw t }
    if (out.isDefined) edges.unpersist()
    out
  }

  /** A driver-side result as a local relation. */
  def localFrame(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
}
