package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import CatalogInputs._
import OracleSql._

/** Graph operators: PageRank, triangle census, k-core and link
  * prediction ([[graft.ops.Graph]]). The oracles unroll the iterative
  * algorithms as SQL CTEs over the same edges.
  */
private[graft] object GraphQueries {

  /** User co-activity edge list shared by the three graph entries
    * (triangle_count / kcore_decomposition / link_prediction): users active
    * in the same MINUTE for the same event type — minute, not hour: hour
    * buckets make the graph near-complete at sf0.1 (a dense graph has
    * Θ(n³) triangles no matter the algorithm); minute buckets keep average
    * degree ~30, the realistic sparse regime the operators target. One
    * helper so the bucketing can never drift between the three Spark
    * builders; their oracles share [[OracleSql.coActivityEdgesSql]].
    */
  private def coActivityEdges(s: SparkSession, d: String): DataFrame = {
    val b = eventsRaw(s, d)
      // FLOOR bucket, not `div`: the oracles replay this as
      // date_trunc('minute', ts), which floors — a truncating div would
      // silently shift pre-epoch events one minute late (CatalogInputs
      // .usBucket scaladoc)
      .select(usBucket("ts_us", 60000000L).as("h"),
        col("event_type"), col("user_id"))
      .distinct()
    // IDENTICAL subtree on both sides of the self-join (aliases; the
    // src/dst renames live in the projection ABOVE the join): per-side
    // renamed projections are not `sameResult`, so the distinct's shuffle
    // ran twice — one shared subtree lets ReuseExchange serve the second
    // side from the first's exchange (r15 optimization round)
    b.as("a")
      .join(b.as("b"),
        col("a.h") === col("b.h") && col("a.event_type") === col("b.event_type"))
      .filter(col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("src"), col("b.user_id").as("dst")).distinct()
  }

  /** PageRank iterations: the Spark run and the oracle's unrolled CTEs. */
  private val pageRankIterations = 5

  val entries: Seq[CatalogEntry] = Seq(

    // Integer PageRank over the part↔supplier bipartite graph (ops.Graph):
    // 5 iterations with scaled-integer ranks (on the driver under the edge
    // gate, shuffle-join + aggregate past it), so the oracle can unroll the
    // SAME iterations in SQL and match
    // exactly (a double PageRank drifts by engine ulps per iteration).
    // Top-30 tie-break: (rank DESC, node).
    CatalogEntry("pagerank_bipartite",
      (s, d) => {
        // long node ids (parts even, suppliers odd): distinct/shuffle on
        // longs, display labels rendered only on the final 30 rows
        // no pre-distinct: dedupEdges fuses the edge dedup into the
        // adjacency (collect_set past the gate, one shuffle instead of two)
        val edges = T(s, d, "lineitem")
          .select((col("l_partkey") * 2).cast("long").as("src"),
            (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
        // top-30 + label render happen on the driver (the ranks are
        // already local under the edge gate) — no extra Spark sort job
        ops.Graph.pageRankTopK(edges, "src", "dst", iterations = pageRankIterations, k = 30,
          renderLocal = l => if (l % 2 == 0) "p:" + (l / 2) else "s:" + (l / 2),
          renderSql = "CASE WHEN node % 2 = 0 THEN 'p:' || CAST(node div 2 AS STRING) " +
            "ELSE 's:' || CAST(node div 2 AS STRING) END",
          dedupEdges = true)
      },
      Some(s"""WITH e0 AS (
        |  SELECT DISTINCT CAST(l_partkey * 2 AS BIGINT) AS src,
        |                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst FROM lineitem
        |  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
        |), e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
        |), deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1
        |), base AS (SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS b FROM deg
        |), it0 AS (SELECT src AS node, (SELECT b FROM base) AS rank FROM deg
        |${pageRankStepsSql(pageRankIterations)}
        |)
        |SELECT CASE WHEN node % 2 = 0 THEN 'p:' || CAST(node // 2 AS VARCHAR)
        |            ELSE 's:' || CAST(node // 2 AS VARCHAR) END AS node, rank
        |FROM it$pageRankIterations ORDER BY rank DESC, node LIMIT 30""".stripMargin)),

    // Whole-graph triangle census over the co-activity graph (see
    // coActivityEdges for the minute-bucket rationale). Spark side runs the
    // degree-ordered-orientation count (Graph.triangleStats — no hub
    // blowup); the oracle recomputes naively with a 3-way self-join,
    // exactly the shape the operator avoids.
    CatalogEntry("triangle_count",
      (s, d) => ops.Graph.triangleStats(coActivityEdges(s, d)),
      Some(s"""WITH ${coActivityEdgesSql("e")}, deg AS (
        |  SELECT node, COUNT(*) AS deg FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u GROUP BY 1
        |), tri AS (
        |  SELECT COUNT(*) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
        |    JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst
        |), nw AS (
        |  SELECT COUNT(*) AS n_nodes,
        |    CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg
        |), ec AS (SELECT COUNT(*) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CAST(n_triangles AS DOUBLE) * 3e0 / n_wedges AS global_clustering
        |FROM nw, ec, tri""".stripMargin)),

    // 2-core of the minute-grain co-activity graph via iterative peeling
    // (Graph.kCore). The fixpoint is unique, so the oracle can unroll the
    // same peels as SQL CTEs: sf0.01 converges in 2 rounds (measured), the
    // oracle unrolls 4 — two spare rounds of margin.
    CatalogEntry("kcore_decomposition",
      (s, d) => ops.Graph.kCore(coActivityEdges(s, d), k = 2)
        .select(col("node").as("user_id"), col("core_deg")),
      Some(s"""WITH ${coActivityEdgesSql("e0")}, sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
        |), a0 AS (SELECT DISTINCT src AS node FROM sym
        |), a1 AS (
        |  SELECT s.src AS node FROM sym s JOIN a0 x ON s.src = x.node
        |    JOIN a0 y ON s.dst = y.node GROUP BY 1 HAVING COUNT(*) >= 2
        |), a2 AS (
        |  SELECT s.src AS node FROM sym s JOIN a1 x ON s.src = x.node
        |    JOIN a1 y ON s.dst = y.node GROUP BY 1 HAVING COUNT(*) >= 2
        |), a3 AS (
        |  SELECT s.src AS node FROM sym s JOIN a2 x ON s.src = x.node
        |    JOIN a2 y ON s.dst = y.node GROUP BY 1 HAVING COUNT(*) >= 2
        |), a4 AS (
        |  SELECT s.src AS node FROM sym s JOIN a3 x ON s.src = x.node
        |    JOIN a3 y ON s.dst = y.node GROUP BY 1 HAVING COUNT(*) >= 2
        |)
        |SELECT s.src AS user_id, COUNT(*) AS core_deg
        |FROM sym s JOIN a4 x ON s.src = x.node JOIN a4 y ON s.dst = y.node
        |GROUP BY 1""".stripMargin)),

    // Link prediction by common-neighbour count / Jaccard over the minute
    // co-activity graph: wedge expansion through the shared neighbour
    // (same shuffle shape as the triangle census), anti-joined against the
    // existing edges, degree-normalized. Counts are exact integers; the
    // Jaccard is one mirrored division.
    CatalogEntry("link_prediction",
      (s, d) => ops.Graph.commonNeighborScores(coActivityEdges(s, d),
        minCommon = 2, topK = 20),
      Some(s"""WITH ${coActivityEdgesSql("e")}, sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e
        |), deg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY 1
        |), cn AS (
        |  SELECT a.src AS u, c.dst AS v, COUNT(*) AS common
        |  FROM sym a JOIN sym c ON a.dst = c.src
        |  WHERE a.src < c.dst GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), nonadj AS (
        |  SELECT cn.* FROM cn
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = cn.u AND e.dst = cn.v)
        |), scored AS (
        |  SELECT u, v, common,
        |    CAST(common AS DOUBLE) / (du.deg + dv.deg - common) AS jaccard
        |  FROM nonadj JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
        |)
        |SELECT CAST(row_number() OVER (ORDER BY jaccard DESC, u, v) AS BIGINT) AS rank,
        |  u, v, common, jaccard
        |FROM scored QUALIFY rank <= 20""".stripMargin)),
  )
}
