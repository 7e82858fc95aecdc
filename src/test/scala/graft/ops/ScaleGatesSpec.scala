package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{ScaleGates, SparkSpec}

/** The distributed fallback branches ARE the engine at 100 TB; at test
  * scale the driver-local primaries always win the size gates, so without
  * forcing, the fallbacks only run in hand-picked unit tests. This spec
  * pins, for every gated operator, that the forced-distributed branch is
  * RESULT-IDENTICAL to the driver-local primary on the same input — the
  * in-process twin of the full forced-fallback oracle sweep
  * (`scripts/forced_fallback_sweep.sh`, round-11 verdict item 1).
  */
class ScaleGatesSpec extends SparkSpec {

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Run `body` twice — primary gates, then forced-distributed — and
    * assert identical sorted rows. */
  private def bothPaths(label: String)(body: => DataFrame): Unit = {
    assert(!ScaleGates.forceDistributed, "flag leaked from a previous test")
    val primary = sorted(body)
    val forced = forcedDistributed(sorted(body))
    assert(forced == primary, s"$label: forced-distributed branch diverged")
    assert(primary.nonEmpty, s"$label: vacuous comparison (no rows)")
  }

  test("fits closes every gate under the flag, including at 0") {
    assert(ScaleGates.fits(42L, 42L) && ScaleGates.fits(0L, 42L))
    assert(!ScaleGates.fits(43L, 42L))
    forcedDistributed {
      assert(ScaleGates.forceDistributed)
      assert(!ScaleGates.fits(42L, 42L))
      assert(!ScaleGates.fits(0L, 42L))
    }
    assert(!ScaleGates.forceDistributed)
  }

  private def edges: DataFrame = {
    import spark.implicits._
    // two components + a hub: exercises salting-adjacent shapes and ties
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (1L, 6L), (1L, 7L))
      .toDF("src", "dst")
  }

  test("pageRank: distributed rank loop matches the local kernel, with and without dedup") {
    import spark.implicits._
    // duplicate edges, both orientations of (1, 2), a self-loop on 7 and a
    // hub 20: dedupEdges = true must dedupe the SYMMETRIZED pairs (the
    // self-loop and the (1, 2)/(2, 1) pair each count once), false keeps
    // every multiplicity
    val e = (Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (7L, 7L), (7L, 5L), (2L, 4L), (10L, 11L), (11L, 12L), (12L, 13L)) ++
      (1L to 9L).map(v => (20L, v))).toDF("src", "dst")
    for (dedup <- Seq(false, true))
      bothPaths(s"pageRank[dedupEdges=$dedup]")(
        Graph.pageRank(e, "src", "dst", iterations = 4, dedupEdges = dedup))
  }

  test("pageRankTopK: distributed rank loop + SQL render match the local kernel") {
    bothPaths("pageRankTopK") {
      Graph.pageRankTopK(edges, "src", "dst", iterations = 3, k = 5,
        renderLocal = n => "n:" + n, renderSql = "concat('n:', CAST(node AS STRING))")
    }
  }

  test("kCore: shuffle-join peeling matches the broadcast path") {
    bothPaths("kCore")(Graph.kCore(edges, k = 2))
  }

  test("triangleStats: shuffle degree joins match the broadcast path") {
    bothPaths("triangleStats")(Graph.triangleStats(
      edges.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst")).distinct()))
  }

  test("connectedComponents: min-label propagation matches union-find (long ids)") {
    bothPaths("connectedComponents[long]")(Dedup.connectedComponents(
      edges.select(col("src").as("doc_a"), col("dst").as("doc_b"))))
  }

  test("connectedComponents: min-label propagation matches union-find (string ids)") {
    import spark.implicits._
    bothPaths("connectedComponents[string]")(Dedup.connectedComponents(
      Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("doc_a", "doc_b")))
  }

  private def facts: DataFrame = {
    import spark.implicits._
    (1 to 400).map(i => (s"g${i % 3}", (i * 37 % 101).toDouble, i.toLong))
      .toDF("g", "v", "id")
  }

  test("groupedRanks: shuffle-join offsets match the broadcast path") {
    bothPaths("groupedRanks")(
      Distribution.groupedRanks(facts, "g", col("v"), Seq(col("id"))))
  }

  test("groupedSelect: shuffle-join targets match the broadcast path") {
    bothPaths("groupedSelect")(Distribution.groupedSelect(facts, "g", col("v"),
      Seq(col("id")), array(expr("(n + 1) div 2"), expr("n"))))
  }

  test("groupedMedianMad: two-pass persist fallback matches the collect path") {
    bothPaths("groupedMedianMad")(
      Distribution.groupedMedianMad(facts, "g", col("v"), Seq(col("id"))))
  }

  // Adversarial ids for the shared edge gate of the driver-local graph
  // kernels. Those kernels pack ids into 32-bit halves of one long, so the
  // packed-key range [0, 2^32) decides which path may run. A local result
  // is an unpersisted local relation; a distributed one is the persisted
  // handle of the one-handle cache contract — storageLevel tells them apart.
  private val twoTo32 = 4294967296L

  private def idEdges(pairs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  private def ranLocally(df: DataFrame): Boolean = df.storageLevel == StorageLevel.NONE

  test("commonNeighborScores: ids outside [0, 2^32) fall through to the distributed plan") {
    val e = idEdges((-1L, 1L), (1L, twoTo32), (-1L, 2L), (2L, twoTo32),
      (3L, -1L), (3L, twoTo32))
    val primary = Graph.commonNeighborScores(e, minCommon = 1)
    assert(!ranLocally(primary), "driver-local path ran on unpackable ids")
    primary.unpersist()
    bothPaths("commonNeighborScores[-1, 2^32]")(Graph.commonNeighborScores(e, minCommon = 1))
  }

  test("ids 2^32 - 2 and 2^32 - 1 stay on the driver-local paths and match the distributed plans") {
    val (a, b) = (twoTo32 - 2, twoTo32 - 1)
    // two triangles sharing the (a, b) edge, plus a pendant node
    val e = idEdges((0L, a), (a, b), (0L, b), (5L, b), (5L, a), (5L, 7L))
    val ops = Seq[(String, () => DataFrame)](
      "commonNeighborScores" -> (() => Graph.commonNeighborScores(e, minCommon = 1)),
      "triangleStats" -> (() => Graph.triangleStats(e)),
      "kCore" -> (() => Graph.kCore(e, k = 2)),
      "pageRank" -> (() => Graph.pageRank(e, "src", "dst", iterations = 3)))
    for ((label, op) <- ops) {
      assert(ranLocally(op()), s"$label: driver-local path declined ids below 2^32")
      bothPaths(s"$label[2^32 - 1]")(op())
    }
  }

  test("triangleStats: an id of 2^32 fails identically on both paths and leaks no cache") {
    val e = idEdges((1L, 2L), (2L, twoTo32), (1L, twoTo32))
    def failure(): String = {
      val before = spark.sparkContext.getPersistentRDDs.size
      val msg = intercept[IllegalArgumentException](Graph.triangleStats(e)).getMessage
      assert(spark.sparkContext.getPersistentRDDs.size == before, s"cache leaked: $msg")
      msg
    }
    val local = failure()
    assert(local == forcedDistributed(failure()))
    assert(local.contains(s"got id range [1, $twoTo32], max degree 2"), local)
  }

  test("empty edge list: kCore and commonNeighborScores agree across both paths") {
    val e = idEdges()
    val ops = Seq[(String, () => DataFrame)](
      "kCore" -> (() => Graph.kCore(e, k = 2)),
      "commonNeighborScores" -> (() => Graph.commonNeighborScores(e, minCommon = 1)))
    for ((label, op) <- ops) {
      val local = op()
      val dist = forcedDistributed(op())
      // non-vacuity without rows: each path really ran, with one schema
      assert(ranLocally(local) && !ranLocally(dist), s"$label: path selection")
      assert(local.schema == dist.schema, s"$label: schemas diverged")
      assert(sorted(local) == sorted(dist), s"$label: results diverged")
      dist.unpersist()
    }
  }

  // Every gate site, pinned per file. A new site fails here until it gets
  // a bothPaths case above and its count is raised; a budget literal in
  // ops/ means a gate whose budget is not in ScaleGates' table.
  private val gateSites = Map(
    "ops/Dedup.scala" -> 1,
    "ops/Distribution.scala" -> 3,
    "ops/Graph.scala" -> 7)

  test("gate sites: every call and budget goes through ScaleGates") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val sources = scala.util.Using.resource(Files.walk(root))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    def rel(p: Path) = root.relativize(p).toString
    val call = """(ScaleGates\.fits|broadcastIf|driverLocal)\(""".r
    val counts = sources.filterNot(_.endsWith("ScaleGates.scala"))
      .map(p => rel(p) -> call.findAllIn(text(p)).size)
      .filter(_._2 > 0).toMap
    assert(counts == gateSites)
    val literal = """\b(1|5|10|20)000000L\b""".r
    val stray = sources.filter(rel(_).startsWith("ops/"))
      .flatMap(p => literal.findAllIn(text(p)).map(rel(p) + ": " + _))
    assert(stray.isEmpty, stray)
    assert(literal.findFirstIn("scale: Long = 1000000000000L").isEmpty)
  }
}
