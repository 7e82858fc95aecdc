package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Known-answer tests for the round-7 analytics operators: triangle census,
  * interval occupancy, equi-depth buckets, largest-remainder allocation,
  * and the Pareto skyline. Each fixture is small enough to verify by hand.
  */
class AnalyticsOpsSpec extends SparkSpec {
  import spark.implicits._

  test("triangleStats: K4 plus a pendant vertex") {
    // complete graph on {1,2,3,4} (4 triangles) + pendant edge 4-5
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val row = Graph.triangleStats(edges).head()
    assert(row.getAs[Long]("n_nodes") === 5)
    assert(row.getAs[Long]("n_edges") === 7)
    assert(row.getAs[Long]("n_triangles") === 4)
    // wedges: degrees (3,3,3,4,1) -> 3+3+3+6+0 = 15
    assert(row.getAs[Long]("n_wedges") === 15)
    assert(math.abs(row.getAs[Double]("global_clustering") - 12.0 / 15.0) < 1e-15)
  }

  test("triangleStats: triangle-free bipartite graph counts zero") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    val row = Graph.triangleStats(edges).head()
    assert(row.getAs[Long]("n_triangles") === 0)
    assert(row.getAs[Long]("n_wedges") === 4) // each vertex degree 2 -> 4x1
  }

  test("triangleStats: zero wedges (disjoint single edges) yields NULL clustering, not a crash") {
    // the 2× pseudo-scale fixture produced exactly this shape (every user
    // co-occurs only with its replica twin → all degrees 1): the ANSI
    // divide must not fire; clustering is undefined → NULL, matching the
    // oracle's x/0 → NULL
    val edges = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val row = Graph.triangleStats(edges).head()
    assert(row.getAs[Long]("n_wedges") === 0)
    assert(row.getAs[Long]("n_triangles") === 0)
    assert(row.isNullAt(row.fieldIndex("global_clustering")))
  }

  test("triangleStats rejects ids that cast to null instead of corrupting counts") {
    // review r9: null ids evaded the min/max packing guard (min/max skip
    // nulls) and aggregated as a phantom node. Malformed STRINGS throw at
    // the cast itself under ANSI (the Spark 4 default) — the silent path
    // this guard closes is literal nulls, which cast quietly in any mode.
    val edges = Seq((Some(1L), Some(2L)), (Some(2L), None), (Some(3L), Some(1L)))
      .toDF("src", "dst")
    val base = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalArgumentException](Graph.triangleStats(edges).head())
    assert(e.getMessage.contains("null after cast"))
    assert(spark.sparkContext.getPersistentRDDs.size === base) // no leak
  }

  test("commonNeighborScores excludes adjacency in EITHER stored direction") {
    // wedge 1-2-3 plus the closing edge stored BACKWARDS (3,1): pair (1,3)
    // is adjacent and must not be predicted (review r9: the raw-direction
    // anti-join leaked it); pair (4,6) via wedges 4-5-6 stays predicted
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val got = Graph.commonNeighborScores(edges, minCommon = 1, topK = 10)
    val pairs = got.select("u", "v").as[(Long, Long)].collect().toSet
    got.unpersist()
    assert(!pairs.contains((1L, 3L)), s"adjacent pair predicted: $pairs")
    assert(pairs.contains((4L, 6L)))
  }

  test("triangleStats and kCore driver paths equal the distributed plans (multiset semantics)") {
    // duplicate edges, a self-loop, hub wedges, and disconnected fringe —
    // the r16 driver-local replicas must match the distributed pipelines
    // exactly, including multiset degrees and the strict vkey wedge filter
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 3L), (6L, 6L), (6L, 1L), (7L, 8L), (2L, 4L), (2L, 5L))
      .toDF("src", "dst")
    def run(f: => org.apache.spark.sql.DataFrame): Seq[String] = {
      val d = f
      val rows = d.collect().map(_.toString).toSeq.sorted
      d.unpersist()
      rows
    }
    val triLocal = run(Graph.triangleStats(edges))
    val coreLocal = run(Graph.kCore(edges, k = 2))
    val (triDist, coreDist) = forcedDistributed {
      (run(Graph.triangleStats(edges)), run(Graph.kCore(edges, k = 2)))
    }
    assert(triLocal === triDist)
    assert(coreLocal === coreDist)
  }

  test("commonNeighborScores driver path equals the distributed plan (multiset semantics)") {
    // duplicate edges multiply wedge counts AND degrees, a self-loop bumps
    // its node's degree by 2, and a backwards-stored closing edge must stay
    // excluded — the r16 driver-local fast path must reproduce the
    // join/aggregate pipeline bit-for-bit on all of it
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (7L, 7L), (7L, 5L), (2L, 4L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("src", "dst")
    val local = Graph.commonNeighborScores(edges, minCommon = 1, topK = 50)
      .collect().map(_.toString).toSeq
    val dist = forcedDistributed {
      val d = Graph.commonNeighborScores(edges, minCommon = 1, topK = 50)
      val rows = d.collect().map(_.toString).toSeq
      d.unpersist()
      rows
    }
    assert(local === dist)
  }

  test("pageRank on an empty edge list fails loudly, leaking no cache") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val base = spark.sparkContext.getPersistentRDDs.size
    for (forced <- Seq(false, true)) { // the local kernel, then the loop
      val e = intercept[IllegalArgumentException](
        if (forced) forcedDistributed(Graph.pageRank(edges, "src", "dst", iterations = 3))
        else Graph.pageRank(edges, "src", "dst", iterations = 3))
      assert(e.getMessage.contains("empty edge list"))
      assert(spark.sparkContext.getPersistentRDDs.size === base)
    }
  }

  test("pageRank rejects non-integral node ids before caching anything") {
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val base = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalArgumentException](
      Graph.pageRank(edges, "src", "dst", iterations = 3))
    assert(e.getMessage.contains("node ids must be integral, got src: string"), e.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.size === base)
  }

  test("pageRank hub salting: salted ranks are bit-identical to unsalted") {
    // forced hub: star centre 0 ↔ 1..120 plus a sparse ring so non-hub
    // nodes have degree > 1; threshold 10 splits only the hub. Salting
    // exists only past the edge gate, so every run is forced there.
    val star = (1 to 120).map(i => (0L, i.toLong))
    val ring = (1 to 119).map(i => (i.toLong, (i + 1).toLong))
    val edges = (star ++ ring).toDF("src", "dst")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    forcedDistributed {
      val plain = asMap(Graph.pageRank(edges, "src", "dst", iterations = 4))
      val salted = asMap(Graph.pageRank(edges, "src", "dst", iterations = 4,
        hubDegreeThreshold = 10L, hubSalts = 4))
      assert(salted === plain)
      // dedupEdges path too: double every edge, collect_set dedup under salt
      val doubled = (star ++ star ++ ring ++ ring).toDF("src", "dst")
      val plainD = asMap(Graph.pageRank(doubled, "src", "dst", iterations = 4,
        dedupEdges = true))
      val saltedD = asMap(Graph.pageRank(doubled, "src", "dst", iterations = 4,
        dedupEdges = true, hubDegreeThreshold = 10L, hubSalts = 4))
      assert(saltedD === plainD)
      assert(plainD === plain) // dedup of doubled edges = the simple graph
    }
    spark.sharedState.cacheManager.clearCache() // the loop leaks by contract
  }

  test("pageRankTopK local render matches the Spark sort+render form on both paths") {
    val edges = ((1 to 40).map(i => (0L, i.toLong)) ++
      (1 to 39).map(i => (i.toLong, (i + 1).toLong))).toDF("src", "dst")
    val renderSql = "'n:' || CAST(node AS STRING)"
    def viaSort() =
      Graph.pageRank(edges, "src", "dst", iterations = 3)
        .select(expr(renderSql).as("node"), col("rank"))
        .orderBy(col("rank").desc, col("node")).limit(7)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    def viaTopK() =
      Graph.pageRankTopK(edges, "src", "dst", iterations = 3, k = 7,
        renderLocal = n => "n:" + n, renderSql = renderSql)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaTopK() === viaSort()) // driver-local path
    val viaFallback = forcedDistributed(viaTopK()) // distributed fallback path
    spark.sharedState.cacheManager.clearCache() // fallback leaks by contract
    assert(viaFallback === viaSort())
  }

  test("dailyOccupancy: two overlapping 3-day intervals") {
    val df = Seq("2024-01-01", "2024-01-02").toDF("start")
      .select(to_date(col("start")).as("start"))
    val occ = Intervals.dailyOccupancy(df, col("start"), lengthDays = 3)
      .orderBy("day").collect()
    assert(occ.map(r => (r.getDate(0).toString, r.getLong(1))).toSeq === Seq(
      ("2024-01-01", 1L), ("2024-01-02", 2L), ("2024-01-03", 2L), ("2024-01-04", 1L)))
  }

  test("equiDepthBuckets: 10 rows into 3 buckets of sizes 4/3/3") {
    // ranks 0..9 -> floor(rank*3/10)+1: bucket 1 x4, bucket 2 x3, bucket 3 x3
    val df = (1 to 10).map(i => (i.toDouble, i.toLong)).toDF("v", "k")
    val got = Distribution.equiDepthBuckets(df, col("v"), Seq(col("k")), n = 3)
      .orderBy("bucket").collect()
    assert(got.map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("cnt"))).toSeq
      === Seq((1L, 4L), (2L, 3L), (3L, 3L)))
    assert(got.head.getAs[Double]("min_v") === 1.0)
    assert(got.last.getAs[Double]("max_v") === 10.0)
  }

  test("quotaAllocation: classic largest-remainder example") {
    // weights 47000/16000/15800/12000/6100/3100 of 100000, 10 seats:
    // quotas 4.7/1.6/1.58/1.2/0.61/0.31 -> base 4/1/1/1/0/0 = 7, three
    // extras go to the largest remainders: a(.7), e(.61), b(.6)
    val w = Seq(("a", 47000L), ("b", 16000L), ("c", 15800L),
      ("d", 12000L), ("e", 6100L), ("f", 3100L)).toDF("k", "w")
    val got = Distribution.quotaAllocation(w, "k", "w", seats = 10L)
      .select("key", "seats").as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 5L, "b" -> 2L, "c" -> 1L, "d" -> 1L, "e" -> 1L, "f" -> 0L))
  }

  test("quotaAllocation: a NULL key tying a named key on remainder is seated first") {
    // fuzz seed 12 (round 11): null and "b" both have remainder 2 of 5;
    // the stated tie policy is key ascending NULLS FIRST (Spark's
    // ascending default), so the single leftover seat goes to the NULL
    // stratum — an oracle replaying the ranking must pin NULLS FIRST or
    // DuckDB/Postgres (ascending NULLS LAST) seat "b" instead
    val w = Seq((Option.empty[String], 6L), (Some("b"), 6L), (Some("a"), 8L))
      .toDF("k", "w")
    val got = Distribution.quotaAllocation(w, "k", "w", seats = 5L)
      .select("key", "seats").as[(Option[String], Long)].collect().toMap
    assert(got === Map(None -> 2L, Some("b") -> 1L, Some("a") -> 2L))
  }

  test("window tie-break: a NULL key tying on the DESC measure sorts first") {
    // the same class at the window level (ntile_nations): Spark's
    // ascending secondary key puts NULL before every name, so on an exact
    // revenue tie the null-named row takes the earlier ntile bucket — any
    // SQL oracle replaying `ORDER BY revenue DESC, name` must pin
    // NULLS FIRST or DuckDB buckets the named row first instead
    val rev = Seq((Option.empty[String], 10.0), (Some("a"), 10.0),
      (Some("b"), 5.0), (Some("c"), 1.0)).toDF("name", "revenue")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("revenue").desc, col("name"))
    val got = rev.withColumn("q", ntile(2).over(w))
      .select("name", "q").as[(Option[String], Int)].collect().toMap
    assert(got === Map(None -> 1, Some("a") -> 1, Some("b") -> 2, Some("c") -> 2))
  }

  test("quotaAllocation: seats always sum to the target") {
    val w = Seq(("x", 1L), ("y", 1L), ("z", 1L)).toDF("k", "w")
    val total = Distribution.quotaAllocation(w, "k", "w", seats = 100L)
      .agg(sum(col("seats"))).head().getLong(0)
    assert(total === 100L)
  }

  test("kCore: pendant chain peels off, triangle plus tail keeps the triangle") {
    // triangle {1,2,3} + chain 3-4-5: 2-core is exactly the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val core = Graph.kCore(edges, k = 2)
      .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("core_deg"))).sorted
    assert(core.toSeq === Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("kCore: k=3 on a graph with no 3-core returns empty") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.kCore(edges, k = 3).isEmpty)
  }

  test("groupedRanks matches the per-group window row_number") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(("a", 3.0, 1L), ("a", 1.0, 2L), ("a", 1.0, 3L), ("b", 2.0, 4L),
      ("b", 5.0, 5L), ("c", 0.5, 6L)).toDF("grp", "v", "id")
    val got = Distribution.groupedRanks(df, "grp", col("v"), Seq(col("id")))
      .select(col("g"), col("t0").as("id"), col("rank"))
    val want = df.withColumn("rank", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("v"), col("id"))))
      .select(col("grp").as("g"), col("id"), col("rank").cast("long").as("rank"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("groupedSelect picks the same rows as a full rank + filter") {
    import org.apache.spark.sql.expressions.Window
    // 3 uneven groups, duplicate values, 500 rows — enough to spread over
    // many buckets; ids make (g, v, id) a total order
    val rows = (1 to 500).map { i =>
      val g = if (i % 7 == 0) "big" else if (i % 3 == 0) "mid" else "sml"
      (g, (i * 37 % 83).toDouble, i.toLong)
    }
    val df = rows.toDF("grp", "v", "id")
    val ks = array(expr("(n + 1) div 2"), expr("(9 * n + 9) div 10"))
    val got = Distribution.groupedSelect(df, "grp", col("v"), Seq(col("id")), ks)
      .select(col("g"), col("rank"), col("v"))
    val want = df.withColumn("rank", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("v"), col("id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
      .filter(col("rank") === expr("(n + 1) div 2")
        || col("rank") === expr("(9 * n + 9) div 10"))
      .select(col("grp").as("g"), col("rank"), col("v"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // n rides along correctly
    val ns = Distribution.groupedSelect(df, "grp", col("v"), Seq(col("id")), ks)
      .select("g", "n").distinct().as[(String, Long)].collect().toMap
    assert(ns === rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap)
  }

  test("groupedSelect: colliding cuts and constant values stay exact") {
    // single-row group: both cuts collapse to rank 1 -> ONE output row
    val tiny = Seq(("solo", 9.0, 1L), ("pair", 1.0, 2L), ("pair", 2.0, 3L))
      .toDF("grp", "v", "id")
    val ks = array(expr("(n + 1) div 2"), lit(1L))
    val gotTiny = Distribution.groupedSelect(tiny, "grp", col("v"), Seq(col("id")), ks)
      .select("g", "rank", "v").as[(String, Long, Double)].collect().sorted
    assert(gotTiny.toSeq === Seq(("pair", 1L, 1.0), ("solo", 1L, 9.0)))
    // constant v (mn == mx): degenerate single bucket, ties broken by id
    val const = Seq(("c", 4.0, 1L), ("c", 4.0, 2L), ("c", 4.0, 3L)).toDF("grp", "v", "id")
    val gotConst = Distribution.groupedSelect(
        const, "grp", col("v"), Seq(col("id")), array(expr("n")))
      .select("g", "rank", "v").as[(String, Long, Double)].collect()
    assert(gotConst.toSeq === Seq(("c", 3L, 4.0)))
    // out-of-range rank selects nothing
    assert(Distribution.groupedSelect(
      const, "grp", col("v"), Seq(col("id")), array(expr("n + 5"))).isEmpty)
  }

  test("groupedMedianMad matches two window selections, both paths") {
    import org.apache.spark.sql.expressions.Window
    val rows = (1 to 500).map { i =>
      val g = if (i % 7 == 0) "big" else if (i % 3 == 0) "mid" else "sml"
      (g, (i * 37 % 83).toDouble, i.toLong)
    }
    val df = rows.toDF("grp", "v", "id")
    def windowMedian(in: org.apache.spark.sql.DataFrame, vc: String, out: String) = in
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col(vc), col("id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
      .filter(col("rank") === expr("(n + 1) div 2"))
      .select(col("grp"), col(vc).as(out))
    val med = windowMedian(df, "v", "med")
    val want = windowMedian(
        df.join(med, "grp").withColumn("adev", abs(col("v") - col("med"))).drop("med"),
        "adev", "mad")
      .join(med, "grp")
      .select(col("grp").as("g"), col("med").as("median"), col("mad"))
    // cache-handle accounting as a DELTA from the suite's current registry
    // (earlier tests may hold handles of their own — CacheContractSpec idiom)
    val base = spark.sparkContext.getPersistentRDDs.size
    val fused = Distribution.groupedMedianMad(df, "grp", col("v"), Seq(col("id")))
    assert(fused.exceptAll(want).isEmpty && want.exceptAll(fused).isEmpty)
    // the fused path leaks no cache handle
    assert(spark.sparkContext.getPersistentRDDs.size === base)
    // the forced flag takes the persist-and-broadcast fallback path; its
    // result is the one persisted handle (Dedup cache contract)
    val fallback = forcedDistributed(
      Distribution.groupedMedianMad(df, "grp", col("v"), Seq(col("id"))))
    assert(fallback.exceptAll(want).isEmpty && want.exceptAll(fallback).isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size === base + 1)
    fallback.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.size === base)
  }

  test("high-cardinality groups shrink fan-out adaptively and stay exact") {
    // 2000 groups: bEff adapts to 1M/2000 = 500 and the offsets frame
    // stays broadcast-sized; 200k single-row groups: bEff = 5. Results
    // must be identical either way.
    val many = spark.range(0, 100000)
      .selectExpr("CAST(id % 2000 AS STRING) AS grp", "id * 37 % 101 AS v", "id")
    val r = Distribution.groupedRanks(many, "grp", col("v"), Seq(col("id")))
    assert(r.count() === 100000L)
    assert(r.groupBy("g").agg(max("rank").as("m")).filter(col("m") =!= 50L).isEmpty)
    val wide = spark.range(0, 200000)
      .selectExpr("CAST(id AS STRING) AS grp", "id % 97 AS v", "id")
    val sel = Distribution.groupedSelect(wide, "grp", col("v"), Seq(col("id")),
      array(expr("(n + 1) div 2")))
    assert(sel.count() === 200000L)
    assert(sel.filter(col("rank") =!= 1L || col("n") =!= 1L).isEmpty)
  }

  test("the forced flag takes the shuffle-join fallback, same results") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(("a", 3.0, 1L), ("a", 1.0, 2L), ("b", 2.0, 3L), ("b", 5.0, 4L),
      ("c", 0.5, 5L)).toDF("grp", "v", "id")
    // both operators must take the non-broadcast join
    val got = forcedDistributed(
        Distribution.groupedRanks(df, "grp", col("v"), Seq(col("id"))))
      .select(col("g"), col("t0").as("id"), col("rank"))
    val want = df.withColumn("rank", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("v"), col("id"))))
      .select(col("grp").as("g"), col("id"), col("rank").cast("long").as("rank"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val sel = forcedDistributed(Distribution.groupedSelect(df, "grp", col("v"),
        Seq(col("id")), array(expr("(n + 1) div 2"))))
      .select("g", "rank", "v").as[(String, Long, Double)].collect().sorted
    assert(sel.toSeq === Seq(("a", 1L, 1.0), ("b", 1L, 2.0), ("c", 1L, 0.5)))
  }

  test("rank machinery excludes null groups and values uniformly") {
    // contract: null group/value rows drop BEFORE bucketing — including the
    // mn == mx degenerate branch, where the naive bucket would keep them
    val df = Seq((Some("a"), Some(1.0), 1L), (Some("a"), None, 2L),
      (None, Some(2.0), 3L), (Some("a"), Some(3.0), 4L))
      .toDF("grp", "v", "id")
    val ranked = Distribution.groupedRanks(df, "grp", col("v"), Seq(col("id")))
      .select("t0").as[Long].collect().sorted
    assert(ranked.toSeq === Seq(1L, 4L))
    val sel = Distribution.groupedSelect(df, "grp", col("v"), Seq(col("id")),
      array(expr("n")))
      .select("g", "n", "v").as[(String, Long, Double)].collect()
    assert(sel.toSeq === Seq(("a", 2L, 3.0)))
    // degenerate constant-v group with a null row: still excluded
    val const = Seq((Some("c"), Some(5.0), 1L), (Some("c"), None, 2L),
      (Some("c"), Some(5.0), 3L)).toDF("grp", "v", "id")
    val cr = Distribution.groupedSelect(const, "grp", col("v"), Seq(col("id")),
      array(expr("n"))).select("n", "v").as[(Long, Double)].collect()
    assert(cr.toSeq === Seq((2L, 5.0)))
  }

  test("valueBuckets: blended position keeps whales from collapsing the fan-out") {
    import spark.implicits._
    // heavy-tailed worst case: 50k base values in [0, 1000] plus 50 whales
    // ~10^6× larger. A PURE linear range split pins every base row into
    // bucket 0 (range is whale-dominated) — the single-task window shape
    // this machinery exists to avoid; the blended linear+ln1p position must
    // keep the base mass fanned out and every bucket bounded.
    val rng = new scala.util.Random(11)
    val base = Seq.fill(50000)(rng.nextDouble() * 1000.0)
    val whales = Seq.fill(50)(1e9 + rng.nextDouble() * 1e9)
    val df = (base ++ whales).zipWithIndex
      .map { case (v, i) => (i.toLong, v, "all") }.toDF("id", "v", "grp")
    val b = Distribution.valueBuckets(df, "grp", col("v"), Seq(col("id")),
      buckets = 256)
    assert(b.bEff === 256)
    val counts = b.bucketed.groupBy(col("__b")).count()
      .as[(Long, Long)].collect().toMap
    val n = counts.values.sum
    assert(n === 50050L)
    // pure linear = ONE bucket holding 99.9% of rows (the whales own the
    // range). The blend degrades to ~the pure-log band mass instead: each
    // log band spans a ×e^(ln1p(hi)/B) value ratio (~1.18 here), so the
    // widest in-range band holds ~15% of a uniform base — bounded fan-out,
    // not collapse. Assert the ~2×-log bound, not perfection.
    assert(counts.values.max.toDouble / n < 0.20,
      s"max bucket ${counts.values.max} of $n rows")
    assert(counts.size > 30, s"only ${counts.size} non-empty buckets")
    // the property the rank/selection correctness rests on: monotone in v
    val byValue = b.bucketed.select(col("v"), col("__b"))
      .as[(Double, Long)].collect().sortBy(_._1)
    assert(byValue.sliding(2).forall {
      case Array((_, b1), (_, b2)) => b1 <= b2
      case _ => true
    })
  }

  test("paretoFrontier: dominated rows drop, equal points both survive") {
    val df = Seq(
      (1L, 1.0, 10), // frontier (cheapest)
      (2L, 2.0, 20), // frontier
      (3L, 2.0, 20), // duplicate of 2 -> also frontier (equals don't dominate)
      (4L, 2.0, 15), // dominated by 2 within its cost group
      (5L, 3.0, 20), // dominated by 2 (same gain, higher cost)
      (6L, 4.0, 30)  // frontier
    ).toDF("id", "cost", "gain")
    val ids = Skyline.paretoFrontier(df, col("cost"), col("gain"))
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L, 6L))
  }

  test("paretoFrontier excludes null cost/gain rows instead of emptying the frontier") {
    // review r9: a null cost sorted FIRST in the running-max window and its
    // gain suppressed every real group, while the null row itself never
    // joined back — one null row returned an empty frontier
    val df = Seq(
      (1L, Some(1.0), Some(50)),
      (2L, None, Some(100)),
      (3L, Some(2.0), None)
    ).toDF("id", "cost", "gain")
    val ids = Skyline.paretoFrontier(df, col("cost"), col("gain"))
      .select("id").as[Long].collect().toSeq
    assert(ids === Seq(1L))
  }
}
