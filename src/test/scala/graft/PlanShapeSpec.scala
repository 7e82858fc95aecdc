package graft

/** Plan-shape assertions for round-7 queries: the point of these entries is
  * not only the answer but the PLAN — broadcasts where a dim is small,
  * top-k as TakeOrderedAndProject, codegen kernels inside the join. These
  * specs pin the shapes so a regression (e.g. a broadcast silently falling
  * back to shuffle) fails loudly.
  */
class PlanShapeSpec extends SparkSpec {

  private def planOf(name: String, dir: String = "sf0.001"): String = {
    val run = QueryCatalog.all.find(_.name == name).get.run
    run(spark, sf(dir)).queryExecution.executedPlan.toString
  }

  test("tpch_q7 broadcasts both nation dims (no dim shuffle)") {
    val p = planOf("tpch_q7")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("weighted_sample is a TakeOrderedAndProject (per-partition k-heaps)") {
    val p = planOf("weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("jaro_winkler_pairs runs the codegen kernel inside a broadcast join") {
    val p = planOf("jaro_winkler_pairs")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("jaro_winkler"), p.take(2000))
  }

  test("zorder_clustering is map-side bit math + one aggregate (no join)") {
    val p = planOf("zorder_clustering")
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("tpch_q6 pushes its predicates into the parquet scan") {
    val run = QueryCatalog.all.find(_.name == "tpch_q6").get.run
    val formatted = run(spark, sf()).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the discount/quantity range conjuncts must reach PushedFilters; the
    // shipdate cast keeps that one in the post-scan filter, which is fine
    assert(formatted.contains("PushedFilters:"), formatted.take(3000))
    assert(formatted.contains("GreaterThanOrEqual(l_discount,0.04)"), formatted.take(3000))
    assert(formatted.contains("LessThan(l_quantity,24"), formatted.take(3000))
  }

  test("tpch_q9 broadcasts part/supplier/nation; only lineitem⋈orders shuffles") {
    val p = planOf("tpch_q9")
    assert(p.split("BroadcastHashJoin").length >= 4, p.take(3000)) // 3 broadcast joins
  }

  test("tpch_q19 plans the disjunction as a broadcast hash join, not a nested loop") {
    val p = planOf("tpch_q19")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("NestedLoop"), p.take(3000))
  }

  test("bloom_join probes the bitmap in a Filter directly above the fact scan") {
    val p = planOf("bloom_join")
    // the three bit tests run map-side BEFORE the join
    assert(p.contains("shiftright"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // plans print parents first, so "the probe filter runs before rows reach
    // the join" = the shiftright Filter sits BELOW the join in the tree =
    // it appears AFTER the join node in the printed string
    assert(p.indexOf("shiftright") > p.indexOf("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("xxhash64"), p.take(3000))
  }

  test("interval_occupancy is explode -> two aggregate pairs, no window/join") {
    val p = planOf("interval_occupancy")
    assert(p.contains("Generate explode"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("skyline_pareto windows only the per-cost group frame and broadcasts back") {
    val p = planOf("skyline_pareto")
    assert(p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the n² dominance join must not exist: exactly one join in the plan
    assert(p.split("Join").length == 2, p.take(3000))
  }

  test("anomaly_zscore re-enters via broadcast; z is map-side above the scan") {
    val p = planOf("anomaly_zscore")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("mad_robust selects medians without range-sorting or sort-merge-joining the fact") {
    // groupedSelect shape: bucket-count targets broadcast back onto the
    // fact; the only windows partition by (g, bucket, rank) — hash
    // exchanges throughout, never a global range sort of the fact
    val p = planOf("mad_robust")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.toLowerCase.contains("rangepartitioning"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("link_prediction and collocation_pmi cut top-k with per-partition heaps") {
    // orderBy+limit before the rank window: TakeOrderedAndProject must
    // appear, so only ≤topK rows ever reach a window. link_prediction's
    // r16 driver gate returns a local relation at test scale — force the
    // distributed branch to pin the shape it would run past the gate.
    // sf0.01 for link_prediction: the sf0.001 co-activity graph is EMPTY,
    // and a zero-edge input satisfies even the zeroed gate (0 <= 0), so
    // only a non-empty graph exercises the distributed shape
    forcedDistributed {
      for (q <- Seq("link_prediction", "collocation_pmi")) {
        val p = planOf(q, "sf0.01")
        assert(p.contains("TakeOrderedAndProject"), s"$q: ${p.take(3000)}")
      }
    }
  }

  test("equidepth_deciles derives buckets from boundary selections, no global sort") {
    // the pre-round-8 shape paid orderBy (range exchange) + zipWithIndex;
    // the boundary-statistic shape must plan with hash exchanges only
    val p = planOf("equidepth_deciles")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.toLowerCase.contains("rangepartitioning"), p.take(3000))
  }

  // The round-10 null-contract filters were verified to prune AT THE SCAN
  // by a hand-run plan audit; this pins that audit as a regression
  // spec (round-11 verdict item 2). At 100 TB a contract that slips to a
  // post-scan Filter stage is the difference between free row-group
  // pruning and a full-table pass. pagerank_bipartite's src/dst contract
  // is NOT here: its result frame is driver-local (the edge-gated kernel),
  // so the lineitem scan never appears in the result's plan — its
  // contract is pinned semantically in NullContractsSpec instead.
  private val contractPushdowns: Seq[(String, Seq[String])] = Seq(
    "events_hourly" -> Seq("IsNotNull(ts)"),
    "events_sliding" -> Seq("IsNotNull(ts)"),
    "session_window_agg" -> Seq("IsNotNull(ts)"),
    "sessionize" -> Seq("IsNotNull(ts)"),
    "event_transitions" -> Seq("IsNotNull(ts)"),
    "topp_nucleus" -> Seq("IsNotNull(ts)"),
    "time_weighted_avg" -> Seq("IsNotNull(ts)"),
    "exact_percentile_profile" -> Seq("IsNotNull(event_type)", "IsNotNull(value)"),
    "quantile_normalize" -> Seq("IsNotNull(event_type)", "IsNotNull(value)"),
    "source_kl_divergence" -> Seq("IsNotNull(source)"),
    "knn_bruteforce" -> Seq("IsNotNull(embedding)"),
    "embedding_neardup" -> Seq("IsNotNull(embedding)"),
    "map_funcs" -> Seq("IsNotNull(p_type)"),
    "weighted_sample" -> Seq("GreaterThan(o_totalprice,0.0)"))

  test("streaming epochOk contract pushes to the scan on the raw NTZ column") {
    // EventsStream.epochOk promises its `ts >= TIMESTAMP_NTZ '1970-01-01'`
    // predicate is stated on the RAW NTZ column so it reaches the parquet
    // scan as a plain GreaterThanOrEqual without depending on any
    // cast-unwrapping optimizer rule. (Spark 4.1 happens to unwrap the
    // cast-wrapped spelling too in a UTC session — asserted below so a
    // regression of EITHER spelling to a post-scan Filter, a full-table
    // pass at 100 TB, fails loudly.) The streaming file source reuses the
    // same FileFormat scan machinery, so pinning the batch relation pins
    // the contract.
    import org.apache.spark.sql.types._
    val rawSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("source", StringType)))
    def pushedOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        .linesIterator.filter(_.contains("PushedFilters:")).mkString("\n")
    def scan = spark.read.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet").parquet(sf())
    val raw = pushedOf(
      scan.filter(org.apache.spark.sql.functions
        .expr("ts >= TIMESTAMP_NTZ '1970-01-01'")))
    assert(raw.contains("GreaterThanOrEqual(ts,"), raw)
    val castWrapped = pushedOf(
      scan.filter(org.apache.spark.sql.functions
        .expr("CAST(ts AS TIMESTAMP) >= TIMESTAMP '1970-01-01'")))
    assert(castWrapped.contains("GreaterThanOrEqual(ts,"), castWrapped)
  }

  test("null-contract filters reach the parquet scan as PushedFilters") {
    val misses = contractPushdowns.flatMap { case (name, tokens) =>
      val run = QueryCatalog.all.find(_.name == name)
        .getOrElse(fail(s"unknown catalog entry $name")).run
      val formatted = run(spark, sf()).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // only PushedFilters lines count — the same token in a post-scan
      // Filter node must NOT satisfy the assertion
      val pushed = formatted.linesIterator
        .filter(_.contains("PushedFilters:")).mkString("\n")
      tokens.filterNot(pushed.contains).map(t => s"$name missing pushed $t")
    }
    assert(misses.isEmpty, misses.mkString("; "))
  }
}
