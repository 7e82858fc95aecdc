package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType,
  StructField, StructType}

import graft.ScaleGates
import graft.ScaleGates.localFrame

/** Iterative graph analytics as repeated shuffle joins — PageRank here, the
  * same skeleton serves label propagation / hubs-authorities.
  *
  * Determinism: ranks are SCALED INTEGERS (default 1e12), every update uses
  * integer division (`div`), and sums of longs are exact — so the result is
  * bit-identical under any partitioning AND replayable by any engine with
  * 64-bit integers (the correctness oracle unrolls the same iterations in
  * SQL). A double-valued PageRank would differ across engines in the last
  * ulp per iteration and drift.
  *
  * Scale shape: under the edge gate every kernel runs on the driver over
  * one collected [[LocalEdges]] index. Past it, PageRank's adjacency is
  * built once and cached — each of the k iterations is one join + one
  * aggregate against it. At 100 TB the adjacency would be a bucketed table
  * on src and the loop would checkpoint every few iterations to cut
  * lineage; k is fixed (no convergence count() per pass — one job per
  * iteration is the cost floor).
  */
object Graph {

  /** Fixed-iteration PageRank over an undirected edge list. Returns
    * (node, rank) with rank on the integer scale: init scale/N, update
    * teleport (15%·scale/N) + damped (85%) sum of `rank div outdeg` over
    * neighbours. Node ids must be integral and come back as longs; any
    * other id type fails with an IllegalArgumentException (a cast would
    * turn ids into nulls). `dedupEdges = true` ranks the simple graph (a
    * pair once, a self-loop once); false keeps edge multiplicity.
    *
    * Within `ScaleGates.DriverEdges` edges the iterations run on the driver
    * and the result is a local relation. Past the gate the adjacency is
    * PRE-GROUPED to one row per node — (src, outdeg, array&lt;dst&gt;) — in one
    * aggregation (collect_set fuses `dedupEdges`' distinct into it), and
    * each iteration is one shallow job: cached-adj scan → join against the
    * rank vector (broadcast within `ScaleGates.DriverNodes`) → explode →
    * partial-agg map-side → one shuffle of partial sums, persisted.
    *
    * 100 TB hubs (past the gate): collect_list packs a celebrity node's
    * neighbours into one row. Contributions are additive, so `hubSalts > 1`
    * splits every node whose degree exceeds `hubDegreeThreshold` into
    * (src, salt) sub-rows sharing the TRUE outdeg — each sub-row carries a
    * deterministic slice of the neighbour list (salt = hash(dst) mod
    * salts), so per-row width is bounded by deg/salts while rank sums are
    * bit-identical to the unsalted plan (property-spec'd). Sub-grouping by
    * (src, salt) keeps the edge-scale shuffle at ONE pass; the true outdeg
    * re-aggregates over sub-rows, and non-hub sub-rows merge back so the
    * cached adjacency stays |nodes| rows + ≤salts extra per hub.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, scale: Long = 1000000000000L,
      dedupEdges: Boolean = false, hubDegreeThreshold: Long = Long.MaxValue,
      hubSalts: Int = 1): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iterations, scale, dedupEdges,
        hubDegreeThreshold, hubSalts)((spark, nodes, ranks) =>
      localFrame(spark, nodes.indices.map(i => Row(nodes(i), ranks(i))).toArray,
        StructType(Seq(StructField("node", LongType),
          StructField("rank", LongType, nullable = false)))),
      ranks => ranks) // the one leaked handle (Dedup cache contract)

  /** PageRank's top-k, rendered. Under the gate the final ranks are
    * ALREADY driver-local, so the top-k selection and label render happen
    * in plain Scala — no Spark job for a sort of an in-memory array. Past
    * the gate it degrades to the distributed orderBy/limit with `renderSql`
    * applied to the node column. Ordering is (rank DESC, label ASC); labels
    * must be ASCII for the driver/SQL tie-break to agree (String and
    * UTF8String compare identically on ASCII).
    *
    * @param renderLocal label render on the driver (under the gate)
    * @param renderSql   same render as a SQL expression over the long column
    *                    `node` (past the gate) — keep semantically identical
    *                    to renderLocal
    */
  def pageRankTopK(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, k: Int, renderLocal: Long => String, renderSql: String,
      scale: Long = 1000000000000L, dedupEdges: Boolean = false,
      hubDegreeThreshold: Long = Long.MaxValue, hubSalts: Int = 1): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iterations, scale, dedupEdges,
        hubDegreeThreshold, hubSalts)((spark, nodes, ranks) => {
      val top = nodes.indices.map(i => (renderLocal(nodes(i)), ranks(i)))
        .sortBy { case (label, rank) => (-rank, label) }.take(k)
      localFrame(spark, top.map { case (l, r) => Row(l, r) }.toArray,
        StructType(Seq(StructField("node", StringType, nullable = false),
          StructField("rank", LongType, nullable = false))))
    }, ranks => ranks.select(expr(renderSql).as("node"), col("rank"))
      .orderBy(col("rank").desc, col("node")).limit(k))

  /** Shared machinery: the null-filtered long edge list, persisted once,
    * through the edge gate. Under it `local` gets the sorted node ids and
    * their final ranks, and nothing is left persisted; past it `distributed`
    * gets the persisted rank frame — one handle leaks by contract.
    */
  private def pageRankImpl(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, scale: Long, dedupEdges: Boolean,
      hubDegreeThreshold: Long, hubSalts: Int)(
      local: (SparkSession, Array[Long], Array[Long]) => DataFrame,
      distributed: DataFrame => DataFrame): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(hubSalts >= 1, "hubSalts must be >= 1")
    val idTypes = edges.select(col(srcCol), col(dstCol)).schema.map(_.dataType)
    for ((name, t) <- Seq(srcCol, dstCol).zip(idTypes)) t match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case _ => throw new IllegalArgumentException(
        s"pageRank: node ids must be integral, got $name: ${t.simpleString}")
    }
    // Edges with a NULL endpoint are EXCLUDED: a null node has no identity
    // to accumulate rank under, and counting it as a node would shift the
    // base rank scale/|V| and with it EVERY rank value. Oracles mirror with
    // src/dst IS NOT NULL.
    val e = edges.filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ScaleGates.driverLocal(e, ScaleGates.DriverEdges) { collected =>
      val g = indexEdges(collected)
      Some(local(g.spark, g.nodes, localPageRank(g, iterations, scale, dedupEdges)))
    }.getOrElse(distributed(
      distributedPageRank(e, iterations, scale, dedupEdges, hubDegreeThreshold, hubSalts)))
  }

  private def emptyEdgeList =
    new IllegalArgumentException("pageRank: empty edge list — no nodes to rank")

  /** Driver-local replica of the iteration loop. Its adjacency is every
    * symmetrized (from, to) index pair: each distinct pair once when
    * `dedupEdges` (collect_set — a self-loop counts once), else all of them
    * (collect_list — outdeg is the multiset degree). Every node is a `to`
    * of its own edges, so each step ranks every node, as the join does.
    * Returns the final ranks in `g.nodes` order.
    */
  private def localPageRank(g: LocalEdges, iterations: Int, scale: Long,
      dedupEdges: Boolean): Array[Long] = {
    val n = g.nodes.length
    if (n == 0) throw emptyEdgeList
    val pairs = new Array[Long](2 * g.src.length) // (from << 32) | to
    for (i <- g.src.indices) {
      pairs(2 * i) = (g.src(i).toLong << 32) | g.dst(i)
      pairs(2 * i + 1) = (g.dst(i).toLong << 32) | g.src(i)
    }
    var m = pairs.length
    if (dedupEdges) { // sort, then compact the distinct pairs into the prefix
      java.util.Arrays.parallelSort(pairs)
      m = 0
      for (p <- pairs) if (m == 0 || p != pairs(m - 1)) { pairs(m) = p; m += 1 }
    }
    val outdeg = new Array[Long](n)
    for (j <- 0 until m) outdeg((pairs(j) >>> 32).toInt) += 1
    val base: Long = scale / n
    val teleport: Long = (15L * base) / 100L
    var rank = Array.fill(n)(base)
    for (_ <- 1 to iterations) {
      val sum = new Array[Long](n)
      for (j <- 0 until m) {
        val from = (pairs(j) >>> 32).toInt
        sum(pairs(j).toInt) += rank(from) / outdeg(from)
      }
      rank = sum.map(s => teleport + (85L * s) / 100L)
    }
    rank
  }

  /** The iteration loop past the edge gate, over the persisted edge frame
    * `e`, which is released once the adjacency is cached. Returns the final
    * rank frame, persisted.
    */
  private def distributedPageRank(e: DataFrame, iterations: Int, scale: Long,
      dedupEdges: Boolean, hubDegreeThreshold: Long, hubSalts: Int): DataFrame = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val transients = scala.collection.mutable.ArrayBuffer[DataFrame](e)
    // one-pass symmetrization: the union form scanned `e` twice. With
    // dedupEdges, collect_set stays exact under salting: dst determines its
    // salt bucket, so duplicates always land in the same sub-group.
    val sym = symmetric(e)
    val adj = (
      if (hubSalts == 1) {
        if (dedupEdges)
          sym.groupBy(col("src"))
            .agg(collect_set(col("dst")).as("dsts"))
            .select(col("src"), size(col("dsts")).cast("long").as("outdeg"), col("dsts"))
        else
          sym.groupBy(col("src"))
            .agg(count(lit(1)).as("outdeg"), collect_list(col("dst")).as("dsts"))
      } else {
        // hub salting: sub-group the one edge-scale shuffle by (src, salt),
        // re-derive the true outdeg over sub-rows, then merge non-hub
        // sub-rows back to one row per node — hubs stay split
        val bySalt = sym
          .withColumn("salt", pmod(hash(col("dst")), lit(hubSalts)))
          .groupBy(col("src"), col("salt"))
        val sub = (if (dedupEdges)
            bySalt.agg(collect_set(col("dst")).as("dsts"))
              .select(col("src"), size(col("dsts")).cast("long").as("cnt"), col("dsts"))
          else
            bySalt.agg(count(lit(1)).as("cnt"), collect_list(col("dst")).as("dsts"))
              .select(col("src"), col("cnt"), col("dsts")))
          .persist(level)
        transients += sub
        val outdeg = sub.groupBy(col("src")).agg(sum(col("cnt")).as("outdeg"))
        val joined = sub.join(outdeg, "src")
        joined.filter(col("outdeg") <= hubDegreeThreshold)
          .groupBy(col("src"), col("outdeg"))
          .agg(flatten(collect_list(col("dsts"))).as("dsts"))
          .select(col("src"), col("outdeg"), col("dsts"))
          .union(joined.filter(col("outdeg") > hubDegreeThreshold)
            .select(col("src"), col("outdeg"), col("dsts")))
      }).persist(level)
    val nRows = adj.count() // one action: fills adj (and any transient cache)
    transients.foreach(_.unpersist())
    if (nRows == 0) { // would otherwise die as a bare `/ by zero` below
      adj.unpersist()
      throw emptyEdgeList
    }
    // under salting a hub occupies several adjacency rows — N is nodes
    val n = if (hubSalts == 1) nRows
      else adj.agg(count_distinct(col("src"))).head().getLong(0)
    val base: Long = scale / n
    val teleport: Long = (15L * base) / 100L
    val nodes = adj.select(col("src").as("node"))
    var ranks = (if (hubSalts == 1) nodes else nodes.distinct()).withColumn("rank", lit(base))
    // each iteration materialized via persist+count (lineage checkpointing)
    for (_ <- 1 to iterations) {
      val next = adj
        .join(ScaleGates.broadcastIf(ranks, n, ScaleGates.DriverNodes),
          col("src") === col("node"))
        .select(explode(col("dsts")).as("dst"), expr("rank div outdeg").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("node"),
          expr(s"CAST($teleport + (85 * s) div 100 AS BIGINT)").as("rank"))
        .persist(level)
      next.count()
      ranks.unpersist() // a no-op on the uncached initial vector
      ranks = next
    }
    adj.unpersist()
    ranks
  }

  /** Whole-graph triangle statistics over an undirected simple graph given
    * as a deduplicated edge list with `src < dst` (long node ids). Returns
    * ONE row: (n_nodes, n_edges, n_wedges, n_triangles, global_clustering).
    *
    * Scale shape — degree-ordered orientation (the standard distributed
    * triangle-count trick): each edge is directed from its lower-(degree,
    * id) endpoint to the higher one, so every triangle is counted exactly
    * once from its lowest-ordered vertex, and the wedge join fans out from
    * a vertex's OUT-neighbours only. A vertex of degree d contributes
    * O(outdeg²) wedge pairs, and orientation bounds outdeg by ~√|E| even
    * for celebrity vertices — the naive undirected join would square the
    * full degree of every hub. The wedge check is a left-semi join against
    * the oriented edges (build side shuffles once on the wedge endpoints).
    *
    * Determinism: all counts are exact integers; the only double is the
    * final clustering ratio (one division). The ordering key packs
    * (degree, id) into one long — valid while ids < 2^32.
    */
  def triangleStats(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Under the edge gate the whole census — guards included — replays
    // locally on the collected edge list; the wedge pipeline below is the
    // 100 TB fallback. A null endpoint falls through to the distributed
    // guard, which throws the canonical error.
    ScaleGates.driverLocal(e, ScaleGates.DriverEdges)(
        edges => localTriangleStats(indexEdges(edges))) match {
      case Some(out) => return out
      case None => () // over budget, null ids or too many oriented wedges
    }
    val deg = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // (driver gate above may have short-circuited; from here on: 100 TB plan)
    // packing precondition as a cheap runtime guard (ADVICE r7): ids must
    // fit in [0, 2^32) and degrees in [0, 2^31) or deg*2^32+id silently
    // corrupts the orientation. One 1-row agg over the persisted deg frame —
    // the node and wedge counts ride the same aggregate (they were a second
    // full pass over deg before), so they become driver constants here.
    val lim = deg.agg(min(col("node")).as("mn"), max(col("node")).as("mx"),
      max(col("deg")).as("md"), count(lit(1)).as("nn"),
      sum(expr("(deg * (deg - 1)) div 2")).as("nw"),
      count(col("node")).as("nonNull")).head()
    // ids that CAST to null (strings, null ids) evade a min/max-only guard
    // — nulls are skipped by min/max but still aggregate as one phantom
    // node, silently corrupting every count (review r9). count(node) vs
    // count(*) detects them for free on the same 1-row job. Guard failures
    // release the two persisted frames before throwing (no leaked handles
    // on the error path).
    val nullIds = lim.getLong(3) != lim.getLong(5)
    val packed = lim.isNullAt(0) ||
      (lim.getLong(0) >= 0L && lim.getLong(1) < 4294967296L &&
        lim.getLong(2) < Int.MaxValue.toLong)
    if (nullIds || !packed) {
      e.unpersist(); deg.unpersist()
      throw (
        if (nullIds) new IllegalArgumentException(
          "triangleStats: some node ids are null after cast to long (null " +
            "or non-numeric ids) — supply integral ids in [0, 2^32)")
        else packingError(lim.get(0), lim.get(1), lim.get(2)))
    }
    val nNodes = lim.getLong(3)
    // deg is |nodes| rows — broadcast it (gated like kCore's alive set) so
    // the two degree joins never shuffle the edge list; the SAME un-projected
    // frame feeds both joins, so the second is served by ReuseExchange from
    // the first's broadcast. Past the gate: shuffle joins, never driver-fatal.
    val degB = ScaleGates.broadcastIf(deg, nNodes, ScaleGates.DriverNodes)
    // (degree, id) packed into one orderable long
    val keyed = e
      .join(degB, col("src") === col("node"))
      .select(col("src"), col("dst"),
        (col("deg") * lit(4294967296L) + col("src")).as("skey"))
      .join(degB, col("dst") === col("node"))
      .select(col("src"), col("dst"), col("skey"),
        (col("deg") * lit(4294967296L) + col("dst")).as("dkey"))
    val oriented = keyed.select(
      when(col("skey") < col("dkey"), col("src")).otherwise(col("dst")).as("u"),
      when(col("skey") < col("dkey"), col("dst")).otherwise(col("src")).as("v"),
      greatest(col("skey"), col("dkey")).as("vkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // IDENTICAL subtrees on both sides of the wedge self-join (aliases;
    // renames in the projection above): per-side renamed projections are
    // not `sameResult`, so the persisted oriented list was shuffled twice
    // on u — the shared subtree lets ReuseExchange serve the second side
    val wedgePairs = oriented.as("p")
      .join(oriented.as("q"), col("p.u") === col("q.u"))
      .filter(col("p.vkey") < col("q.vkey"))
      .select(col("p.v").as("a"), col("q.v").as("b"))
    val triangles = wedgePairs
      .join(oriented.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    // n_nodes and n_wedges (sum over deg-choose-2) came off the guard agg;
    // e is already cache-filled by it, so the edge count is a cached scan
    val nEdges = e.count()
    val nWedges: java.lang.Long = if (lim.isNullAt(4)) null else Long.box(lim.getLong(4))
    // clustering is undefined without wedges: a graph of disjoint single
    // edges (every degree 1, nWedges == 0 — seen on the 2× pseudo-scale
    // fixture where each user co-occurs only with its replica twin) must
    // yield NULL like the oracle's x/0, not an ANSI DIVIDE_BY_ZERO crash.
    // nWedges is a driver constant, so the branch is decided here, not per
    // row.
    val clustering =
      if (nWedges == null || nWedges.longValue == 0L) lit(null).cast("double")
      else col("n_triangles").cast("double") * 3.0 / lit(nWedges.longValue)
    val out = triangles
      .select(lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"),
        lit(nWedges).cast("long").as("n_wedges"), col("n_triangles"),
        clustering.as("global_clustering"))
    Dedup.materializeAndRelease(out, e, deg, oriented)
  }

  /** triangleStats' packing-guard failure, shared by both paths so they
    * throw the same text. */
  private def packingError(mn: Any, mx: Any, md: Any) = new IllegalArgumentException(
    s"triangleStats packs (degree,id) into one long: node ids must be in " +
      s"[0, 2^32) and degrees < 2^31; got id range [$mn, $mx], max degree $md")

  /** Driver-local exact replica of the triangle census for edge lists under
    * the gate: same multiset degrees, same (degree, id) packing guard (and
    * its exact error text; the gate releases the edge cache on the throw),
    * same degree-ordered orientation, same strict `p.vkey < q.vkey` wedge
    * expansion and set-membership closure check. Returns None when the
    * oriented wedge-pair count exceeds `ScaleGates.DriverWedges` (hub-heavy
    * graphs keep the distributed plan, whose orientation bound is the
    * point).
    */
  private def localTriangleStats(g: LocalEdges): Option[DataFrame] = {
    val nodes = g.nodes
    val degA = g.deg
    val nNodes = nodes.length
    val nEdges = g.src.length
    // the packing guard, locally (null ids cannot reach here — the gate
    // sends them to the distributed guard): same precondition, same error
    if (nNodes > 0) {
      val md = degA.max
      if (!(g.packable && md < Int.MaxValue.toLong))
        throw packingError(nodes(0), nodes(nNodes - 1), md)
    }
    var nWedgesL = 0L
    var i = 0
    while (i < nNodes) { nWedgesL += degA(i) * (degA(i) - 1) / 2; i += 1 }
    // degree-ordered orientation: out-adjacency of (v, vkey) per u
    val skey = new Array[Long](nNodes)
    i = 0
    while (i < nNodes) { skey(i) = degA(i) * 4294967296L + nodes(i); i += 1 }
    val outDeg = new Array[Int](nNodes)
    i = 0
    while (i < nEdges) {
      val s = g.src(i); val d = g.dst(i)
      outDeg(if (skey(s) < skey(d)) s else d) += 1
      i += 1
    }
    var orientedWedges = 0L
    i = 0
    while (i < nNodes) { orientedWedges += outDeg(i).toLong * (outDeg(i) - 1) / 2; i += 1 }
    if (orientedWedges > ScaleGates.DriverWedges) return None
    val off = new Array[Int](nNodes + 1)
    i = 0
    while (i < nNodes) { off(i + 1) = off(i) + outDeg(i); i += 1 }
    val fill = java.util.Arrays.copyOf(off, nNodes)
    val outV = new Array[Long](nEdges)    // v per oriented edge
    val outVk = new Array[Long](nEdges)   // its vkey (sort key)
    val member = new Array[Long](nEdges)  // packed (u, v) set
    i = 0
    while (i < nEdges) {
      val s = g.src(i); val d = g.dst(i)
      val fwd = skey(s) < skey(d)
      val u = if (fwd) s else d
      val v = if (fwd) d else s
      outV(fill(u)) = nodes(v); outVk(fill(u)) = skey(v); fill(u) += 1
      member(i) = (nodes(u) << 32) | nodes(v)
      i += 1
    }
    java.util.Arrays.parallelSort(member)
    // per-u out-lists sorted by vkey; strict vkey ordering drops duplicate
    // oriented edges exactly like the p.vkey < q.vkey join filter
    var nTriangles = 0L
    var n = 0
    while (n < nNodes) {
      val lo = off(n); val hi = off(n + 1)
      if (hi - lo >= 2) {
        // insertion sort of the (vkey, v) slice by vkey (out-lists are
        // √E-bounded by orientation; tiny in practice)
        var a = lo + 1
        while (a < hi) {
          val vk = outVk(a); val vv = outV(a)
          var b = a - 1
          while (b >= lo && outVk(b) > vk) {
            outVk(b + 1) = outVk(b); outV(b + 1) = outV(b); b -= 1
          }
          outVk(b + 1) = vk; outV(b + 1) = vv
          a += 1
        }
        a = lo
        while (a < hi) {
          var b = a + 1
          while (b < hi) {
            if (outVk(a) < outVk(b) &&
              java.util.Arrays.binarySearch(member, (outV(a) << 32) | outV(b)) >= 0)
              nTriangles += 1
            b += 1
          }
          a += 1
        }
      }
      n += 1
    }
    val nWedges: java.lang.Long = if (nNodes == 0) null else Long.box(nWedgesL)
    // same output expressions as the distributed tail (schema-identical):
    // lit(count) for the aggregate's non-null long, the same null-vs-ratio
    // clustering branch on the same driver constant
    val clustering =
      if (nWedges == null || nWedges.longValue == 0L) lit(null).cast("double")
      else lit(nTriangles).cast("double") * 3.0 / lit(nWedges.longValue)
    Some(g.spark.range(1).select(
      lit(nNodes.toLong).as("n_nodes"), lit(nEdges.toLong).as("n_edges"),
      lit(nWedges).cast("long").as("n_wedges"), lit(nTriangles).as("n_triangles"),
      clustering.as("global_clustering")))
  }

  /** k-core decomposition by iterative peeling: repeatedly drop nodes whose
    * degree among the still-alive nodes is < k, to fixpoint. Returns the
    * surviving nodes with their in-core degree — the dense backbone of the
    * graph (spam rings, tight co-activity cliques).
    *
    * Determinism: the fixpoint is unique (peeling order never changes the
    * k-core), so any engine that iterates to convergence agrees — the
    * oracle unrolls the same peels in SQL CTEs. Each iteration is one
    * filtered degree aggregate + a count() convergence probe (the
    * one-job-per-iteration cost floor, same as connectedComponents). Peel
    * counts are small in practice: real graphs shed low-degree fringe in
    * 1-3 rounds (measured: 2 rounds at sf0.01, 0 at sf0.1).
    *
    * Scale shape: the alive set only shrinks, so the per-iteration joins
    * get cheaper monotonically; AQE picks broadcast for the alive side
    * once it fits. At 100 TB you would checkpoint `alive` every few peels
    * to cut lineage, exactly like the PageRank loop above.
    */
  def kCore(edges: DataFrame, k: Int = 2, maxIter: Int = 20,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the caller's (possibly expensive) edge expression is evaluated ONCE
    // into this cache; every consumer below — the driver gate, the local
    // collect, or each peel's symmetrized scan — reads the cache
    val esel = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .persist(level)
    val sym = symmetric(esel)
    // Peeling is a per-node counting loop — under the edge gate it runs
    // locally in O(edges · peels) with zero per-iteration Spark jobs (each
    // peel was a full count + aggregate job over a KB-scale graph). Null
    // endpoints fall back to the distributed loop, where a null node is a
    // regular group (unchanged semantics).
    val nodeNullable = sym.schema("src").nullable
    ScaleGates.driverLocal(esel, ScaleGates.DriverEdges)(
        edges => Some(localKCore(indexEdges(edges), k, maxIter, nodeNullable))) match {
      case Some(out) => return out
      case None => () // over budget or null endpoints
    }
    // broadcast the alive set, NOT the edges — the pageRank vector pattern
    // (lesson 22: a frame behind an aggregate has no planner stats, so
    // these joins default to sort-merge and re-sort the persisted edge
    // list every peel). |alive| ≤ |nodes|, the same driver-size class as
    // the rank vector; the edge side never re-shuffles.
    // gated on the alive-set size the loop already counts: the FIRST peel's
    // alive set is the full vertex set, and an unguarded broadcast of
    // hundreds of millions of nodes is the same driver-OOM class the
    // Distribution gates exist for (review r8); past the cap the joins
    // fall back to shuffles — slower, never fatal
    // ONE broadcast-gated frame reused by both join sides (ADVICE r8: two
    // broadcast() wrappers with per-side alias projections shipped the
    // up-to-10M-row alive set twice per peel) — identical exchange child
    // plans, so ReuseExchange serves the second join from the first's
    // broadcast by construction
    def degAmong(alive: DataFrame, nAlive: Long): DataFrame = {
      val gate = ScaleGates.broadcastIf(alive, nAlive, ScaleGates.DriverNodes)
      sym.join(gate, col("src") === col("node")).drop("node")
        .join(gate, col("dst") === col("node")).drop("node")
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
    }
    // Peel 1 fused: "degree among alive" over the FULL node set is the
    // plain degree, so the first iteration is one groupBy over sym — no
    // distinct() to build the node set, no alive-side joins. The node
    // count (convergence baseline) rides the same aggregate's row count.
    val deg0 = sym.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist(level)
    val n = deg0.count()
    var alive = deg0.filter(col("deg") >= k)
      .select(col("src").as("node")).persist(level)
    var aliveCount = alive.count()
    var converged = aliveCount == n
    var iter = 1
    while (!converged && iter < maxIter) {
      val next = degAmong(alive, aliveCount).filter(col("deg") >= k)
        .select(col("src").as("node")).persist(level)
      val c = next.count()
      converged = c == aliveCount
      alive.unpersist()
      alive = next
      aliveCount = c
      iter += 1
    }
    if (!converged)
      System.err.println(s"[graft] WARN kCore: not converged after maxIter=$maxIter peels")
    // zero nodes peeled → the full-degree aggregate IS the answer; reuse it
    val out =
      if (converged && iter == 1)
        deg0.filter(col("deg") >= k)
          .select(col("src").as("node"), col("deg").as("core_deg"))
      else degAmong(alive, aliveCount)
        .select(col("src").as("node"), col("deg").as("core_deg"))
    Dedup.materializeAndRelease(out, esel, alive, deg0)
  }

  /** Driver-local exact replica of the peeling loop for edge lists under
    * the gate: symmetric multiset degrees (self-loops count twice), peel
    * nodes whose degree among the still-alive set is < k to fixpoint,
    * return survivors with their in-core degree — including the two edge
    * behaviors the distributed loop has: an alive node with zero alive
    * neighbours drops out of the output (it forms no group), and a
    * non-converged run (maxIter) emits the degrees of whatever set the
    * last peel left, sub-k rows included.
    */
  private def localKCore(g: LocalEdges, k: Int, maxIter: Int,
      nodeNullable: Boolean): DataFrame = {
    val nNodes = g.nodes.length
    val alive = new Array[Boolean](nNodes)
    var aliveCount = 0L
    var i = 0
    while (i < nNodes) { alive(i) = g.deg(i) >= k; if (alive(i)) aliveCount += 1; i += 1 }
    // degree of every node over the edges whose both ends are alive
    def degAmongAlive(): Array[Long] = {
      val d = new Array[Long](nNodes)
      var j = 0
      while (j < g.src.length) {
        if (alive(g.src(j)) && alive(g.dst(j))) { d(g.src(j)) += 1; d(g.dst(j)) += 1 }
        j += 1
      }
      d
    }
    var converged = aliveCount == nNodes.toLong
    var iter = 1
    while (!converged && iter < maxIter) {
      val d = degAmongAlive()
      var c = 0L
      i = 0
      while (i < nNodes) {
        val keep = alive(i) && d(i) >= k
        alive(i) = keep
        if (keep) c += 1
        i += 1
      }
      converged = c == aliveCount
      aliveCount = c
      iter += 1
    }
    if (!converged)
      System.err.println(s"[graft] WARN kCore: not converged after maxIter=$maxIter peels")
    // output: the degree-among-final-alive map, where a node only appears
    // if it still has an alive edge. Zero nodes peeled → every node is
    // alive with its full degree (≥ k ≥ 1), so the full-degree array IS
    // that map, as in the distributed short-circuit
    val d = if (converged && iter == 1) g.deg else degAmongAlive()
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    i = 0
    while (i < nNodes) {
      if (alive(i) && d(i) > 0L) rows += Row(g.nodes(i), d(i))
      i += 1
    }
    val schema = StructType(Seq(
      StructField("node", LongType, nullable = nodeNullable),
      StructField("core_deg", LongType, nullable = false)))
    localFrame(g.spark, rows.toArray, schema)
  }

  /** Link prediction by common-neighbour count: top-`topK` NON-adjacent
    * pairs sharing ≥ `minCommon` neighbours, scored by neighbourhood
    * Jaccard `common / (deg_u + deg_v − common)`. Same wedge-expansion
    * shuffle shape as [[triangleStats]]; the top-k cut is an
    * orderBy+limit (TakeOrderedAndProject — per-partition heaps), so only
    * the ≤topK winners ever see a window. Counts are exact integers; the
    * Jaccard is a single division.
    */
  def commonNeighborScores(edges: DataFrame, minCommon: Int = 2, topK: Int = 20,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sym = symmetric(e)
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val w = Window.orderBy(col("jaccard").desc, col("u"), col("v"))
    val scored = sym.select(col("src").as("u"), col("dst").as("w"))
      .join(sym.select(col("src").as("w"), col("dst").as("v")), "w")
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      // adjacency check normalized to the pair orientation (u < v): an edge
      // stored (5, 3) must still exclude pair (3, 5) — anti-joining the raw
      // directed list leaked adjacent pairs into the "non-adjacent"
      // predictions when inputs weren't pre-normalized (review r9)
      .join(e.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")), Seq("u", "v"), "left_anti")
      // identical deg subtree on both ends (renames above the join) so the
      // degree aggregate is built once and ReuseExchange serves the second
      // join — per-side renamed projections recomputed it per end
      .join(deg, col("u") === col("node")).drop("node")
      .withColumnRenamed("deg", "du")
      .join(deg, col("v") === col("node")).drop("node")
      .withColumnRenamed("deg", "dv")
      .withColumn("jaccard", col("common").cast("double")
        / (col("du") + col("dv") - col("common")))
      // top-k via orderBy+limit (TakeOrderedAndProject: per-partition
      // k-heaps, no global sort), THEN the rank window over only ≤topK
      // rows — windowing the full candidate frame would single-task it
      .orderBy(col("jaccard").desc, col("u"), col("v"))
      .limit(topK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("u"), col("v"), col("common"), col("jaccard"))
    // Size-adaptive driver path (the connectedComponents / pageRank
    // pattern, gated through ScaleGates): the candidate-pair graph behind
    // link prediction is driver-bounded whenever the edge list is (the
    // `ScaleGates.DriverEdges` budget connectedComponents shares), and the
    // distributed wedge pipeline pays ~10 shuffle/broadcast stage launches
    // whose FIXED cost dwarfs the data at that size (r15 verdict item 2:
    // 32-core time 2.3× the 8-core time on a 23k-edge graph — per-stage
    // overhead scales with cores, the work does not). Null endpoints, ids
    // outside [0, 2^32) (the packed-key precondition, as in triangleStats)
    // and a wedge count past the budget (hub-heavy graphs, checked from the
    // collected degrees before any quadratic work) fall back to the
    // distributed plan. Semantics are replicated on the multiset exactly —
    // duplicate edges multiply wedge counts and degrees just as the
    // join/aggregate pipeline does.
    ScaleGates.driverLocal(e, ScaleGates.DriverEdges)(
        edges => localCommonNeighborScores(indexEdges(edges), minCommon, topK, scored.schema))
      .getOrElse(Dedup.materializeAndRelease(scored, e))
  }

  /** Driver-local exact replica of the wedge/anti-join/Jaccard pipeline in
    * [[commonNeighborScores]], for edge lists under the gate. Packs each
    * unordered pair into one long, enumerates wedge pairs per center,
    * sorts and run-counts them — O(wedges log wedges) with zero boxing.
    * Returns None when an id falls outside [0, 2^32) (no packed key) or
    * when Σ deg·(deg−1)/2 exceeds `ScaleGates.DriverWedges` (the quadratic
    * blow-up budget, checked from the degree array BEFORE any allocation of
    * that size).
    */
  private def localCommonNeighborScores(g: LocalEdges, minCommon: Int, topK: Int,
      schema: StructType): Option[DataFrame] = {
    val nodes = g.nodes
    val nNodes = nodes.length
    val nEdges = g.src.length
    def idx(x: Long): Int = java.util.Arrays.binarySearch(nodes, x)
    val degA = g.deg
    var wedges = 0L
    var i = 0
    while (i < nNodes) { wedges += degA(i) * (degA(i) - 1) / 2; i += 1 }
    if (!g.packable || wedges > ScaleGates.DriverWedges) return None
    // CSR adjacency over the symmetric multiset
    val off = new Array[Int](nNodes + 1)
    i = 0
    while (i < nNodes) { off(i + 1) = off(i) + degA(i).toInt; i += 1 }
    val fill = java.util.Arrays.copyOf(off, nNodes)
    val nbr = new Array[Long](nEdges * 2)
    i = 0
    while (i < nEdges) {
      val s = g.src(i); val d = g.dst(i)
      nbr(fill(s)) = nodes(d); fill(s) += 1
      nbr(fill(d)) = nodes(s); fill(d) += 1
      i += 1
    }
    // packed unordered wedge pairs: one entry per (center, i<j) combination
    // with distinct endpoint values — the join's u<v filter drops equal
    // endpoints, duplicates multiply counts (multiset semantics)
    val wp = new Array[Long](wedges.toInt)
    var k = 0
    var n = 0
    while (n < nNodes) {
      var a = off(n)
      while (a < off(n + 1)) {
        var b = a + 1
        while (b < off(n + 1)) {
          val x = nbr(a); val y = nbr(b)
          if (x != y) {
            val lo = math.min(x, y); val hi = math.max(x, y)
            wp(k) = (lo << 32) | hi; k += 1
          }
          b += 1
        }
        a += 1
      }
      n += 1
    }
    java.util.Arrays.parallelSort(wp, 0, k)
    // packed normalized edge set for the non-adjacency check
    val es = new Array[Long](nEdges)
    i = 0
    while (i < nEdges) {
      val lo = nodes(math.min(g.src(i), g.dst(i)))
      val hi = nodes(math.max(g.src(i), g.dst(i)))
      es(i) = (lo << 32) | hi; i += 1
    }
    java.util.Arrays.parallelSort(es)
    // run-count the sorted wedge pairs; keep (common >= minCommon) and
    // non-adjacent; score by neighbourhood Jaccard
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    i = 0
    while (i < k) {
      var r = i + 1
      while (r < k && wp(r) == wp(i)) r += 1
      val common = (r - i).toLong
      if (common >= minCommon && java.util.Arrays.binarySearch(es, wp(i)) < 0) {
        val u = wp(i) >>> 32
        val v = wp(i) & 0xFFFFFFFFL
        val jac = common.toDouble / (degA(idx(u)) + degA(idx(v)) - common)
        buf += ((u, v, common, jac))
      }
      i = r
    }
    val top = buf.toArray
      .sortBy { case (u, v, _, jac) => (-jac, u, v) }
      .take(topK)
    val rows = top.iterator.zipWithIndex.map { case ((u, v, c, jac), r) =>
      Row((r + 1).toLong, u, v, c, jac)
    }.toArray
    Some(localFrame(g.spark, rows, schema))
  }

  /** Driver-local copy of a collected `(src: long, dst: long)` edge list,
    * indexed once for every local kernel: `nodes` is the sorted distinct
    * endpoint set, `src`/`dst` are per-edge positions in it, and `deg` is
    * the symmetric multiset degree (self-loops count twice, duplicate
    * edges multiply — exactly like a groupBy over the symmetrized list).
    * Because `nodes` is sorted, index order is id order.
    */
  private final class LocalEdges(val spark: SparkSession, val nodes: Array[Long],
      val src: Array[Int], val dst: Array[Int], val deg: Array[Long]) {
    /** All ids fit a 32-bit half of a packed pair key: [0, 2^32). */
    def packable: Boolean =
      nodes.isEmpty || (nodes(0) >= 0L && nodes(nodes.length - 1) < 4294967296L)
  }

  /** Collects `e` as primitive pairs and builds its [[LocalEdges]] index:
    * sorted distinct endpoints, binary-searched positions, degrees. */
  private def indexEdges(e: DataFrame): LocalEdges = {
    val spark = e.sparkSession
    import spark.implicits._
    val pairs = e.as[(Long, Long)].collect()
    val endpoints = new Array[Long](pairs.length * 2)
    var i = 0
    while (i < pairs.length) {
      endpoints(2 * i) = pairs(i)._1; endpoints(2 * i + 1) = pairs(i)._2; i += 1
    }
    java.util.Arrays.parallelSort(endpoints)
    // compact the distinct values into the sorted array's prefix
    var nNodes = 0
    i = 0
    while (i < endpoints.length) {
      if (nNodes == 0 || endpoints(i) != endpoints(nNodes - 1)) {
        endpoints(nNodes) = endpoints(i); nNodes += 1
      }
      i += 1
    }
    val nodes = java.util.Arrays.copyOf(endpoints, nNodes)
    val src = new Array[Int](pairs.length)
    val dst = new Array[Int](pairs.length)
    val deg = new Array[Long](nNodes)
    i = 0
    while (i < pairs.length) {
      src(i) = java.util.Arrays.binarySearch(nodes, pairs(i)._1)
      dst(i) = java.util.Arrays.binarySearch(nodes, pairs(i)._2)
      deg(src(i)) += 1; deg(dst(i)) += 1
      i += 1
    }
    new LocalEdges(spark, nodes, src, dst, deg)
  }

  /** Both orientations of every `(src, dst)` edge in ONE pass (explode of a
    * two-element array): the union-of-two-projections form scanned its
    * input twice per consumer and doubled the task count of every stage
    * over the result.
    */
  private def symmetric(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
}
