package graft

/** Central switch for the engine's size-adaptive driver-side gates.
  *
  * Several operators pick between a driver-local fast path and a
  * distributed fallback by comparing a measured size against a budget:
  *  - pageRank's rank vector (`maxVectorNodes`);
  *  - the shared edge gate `Graph.driverLocal` (`maxDriverEdges`), which
  *    sends triangleStats, kCore and commonNeighborScores to one
  *    collected, indexed edge list and their driver-local kernels;
  *  - connectedComponents' edge collect (`driverEdgeLimit`);
  *  - groupedMedianMad's median collect (`maxLocalGroups`);
  *  - the broadcast-vs-shuffle joins of the distributed kCore and
  *    triangleStats plans and of Distribution.
  *
  * At test scale the driver-local branch always wins, so the distributed
  * branches — the ones that actually run on a 100 TB cluster — would
  * otherwise only ever execute in targeted unit specs, never under the
  * full oracle sweep (round-10 verdict item 1).
  *
  * Setting the system property `graft.forceDistributed=true` (or env
  * `SPARK_GRAFT_FORCE_DISTRIBUTED=1`, for the out-of-process Verify
  * sweep) zeroes every gate budget at its comparison site, so every
  * `measured <= cap(budget)` check fails and the distributed branch runs.
  * Only PATH SELECTION is affected: tuning values derived from the same
  * parameters (e.g. valueBuckets' per-group bucket width) keep their
  * configured values, so the forced sweep exercises the exact plans a
  * past-budget input would see, nothing artificially degenerate.
  *
  * The flag is read per call (not cached) so ScalaTest suites can toggle
  * the property around individual assertions.
  */
object ScaleGates {

  /** True when every driver-side gate must take its distributed branch. */
  def forceDistributed: Boolean =
    sys.props.get("graft.forceDistributed")
      .orElse(sys.env.get("SPARK_GRAFT_FORCE_DISTRIBUTED"))
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** The effective budget for a `measured <= budget` gate: 0 under
    * [[forceDistributed]] (the driver-local/broadcast branch never wins),
    * the configured budget otherwise.
    */
  def cap(budget: Long): Long = if (forceDistributed) 0L else budget
}
