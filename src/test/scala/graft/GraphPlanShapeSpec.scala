package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-shape pins for the graph family — the five most expensive catalog
  * queries run plans that were hand-shaped for 100 TB (degree-ordered
  * orientation, gated broadcasts, hub salting, top-k heaps), and nothing
  * pinned them before r13: a Spark upgrade or an AQE behavior change could
  * silently degrade them while results stayed correct (r12 verdict item 8).
  *
  * The graph operators materialize internally (guard aggregates,
  * cache-filling counts), so the returned handle's own plan hides the
  * interior behind InMemoryTableScans. Instead a QueryExecutionListener
  * captures EVERY action's executed plan during the run and the pins
  * assert over all of them — the shapes must appear in whichever action
  * actually executed the stage.
  */
class GraphPlanShapeSpec extends SparkSpec {

  /** Run a catalog query under a capture listener; return all executed
    * plans (listener events are async on the bus — poll until the set is
    * stable rather than sleeping a fixed interval).
    */
  private def executedPlans(name: String, dir: String = "sf0.001"): Seq[String] = {
    val plans = mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = QueryCatalog.all.find(_.name == name).get.run(spark, sf(dir))
      out.collect()
      var last = -1
      var stable = 0
      val deadline = System.currentTimeMillis + 30000
      while (stable < 3 && System.currentTimeMillis < deadline) {
        Thread.sleep(100)
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      assert(plans.nonEmpty, s"$name: no executed plans captured")
      plans.synchronized(plans.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  private def anyPlan(plans: Seq[String])(p: String => Boolean): Boolean = plans.exists(p)

  test("triangle_count: gated degree broadcast + packed orientation + semi-join wedge check") {
    // pin the DISTRIBUTED branch — the r16 driver gate short-circuits it at
    // test scale (equivalence of the branches is AnalyticsOpsSpec's job)
    val plans = forcedDistributed(executedPlans("triangle_count", "sf0.01"))
    val all = plans.mkString("\n===\n")
    // the two degree joins must be broadcasts (gated at 10M nodes), never
    // an edge-list shuffle
    assert(anyPlan(plans)(p => p.contains("BroadcastHashJoin") && p.contains("4294967296")),
      all.take(4000))
    // the wedge existence check stays a semi-join (no materialized triangles)
    assert(all.contains("LeftSemi"), all.take(4000))
  }

  test("link_prediction: per-partition top-k heaps feed the rank window, anti-join excludes adjacency") {
    // pin the DISTRIBUTED branch: at test scale the r16 driver gate would
    // short-circuit the wedge pipeline this test exists to shape-check
    // (equivalence of the two branches is AnalyticsOpsSpec's job)
    // sf0.01: the sf0.001 co-activity graph is EMPTY and AQE folds the
    // whole pipeline to an EmptyRelation — nothing left to shape-check
    val plans = forcedDistributed(executedPlans("link_prediction", "sf0.01"))
    val all = plans.mkString("\n===\n")
    // top-k via TakeOrderedAndProject (k-heaps), NOT a global sort
    assert(all.contains("TakeOrderedAndProject"), all.take(4000))
    // non-adjacency enforced by an anti-join
    assert(all.contains("LeftAnti"), all.take(4000))
    // the rank window must sit ABOVE the limit (parents print first): a
    // Window over the full candidate frame would single-task the scoring
    val p = plans.find(p => p.contains("Window") && p.contains("TakeOrderedAndProject"))
    assert(p.isDefined, all.take(4000))
    assert(p.get.indexOf("Window") < p.get.indexOf("TakeOrderedAndProject"), p.get.take(4000))
  }

  test("pagerank_bipartite: fused collect_set past the gate, no adjacency under it") {
    // the distributed branch: dedupEdges=true fuses the edge-distinct into
    // the adjacency grouping — collect_set in ONE ObjectHashAggregate pass,
    // no separate distinct
    val plans = forcedDistributed(executedPlans("pagerank_bipartite"))
    val all = plans.mkString("\n===\n")
    assert(anyPlan(plans)(p =>
      p.contains("ObjectHashAggregate") && p.contains("collect_set")), all.take(4000))
    // under the edge gate the kernel iterates on the driver: no Spark plan
    // ever builds the adjacency
    val local = executedPlans("pagerank_bipartite").mkString("\n===\n")
    assert(!local.contains("dsts"), local.take(4000))
  }

  test("pageRank with hubSalts: the edge-scale shuffle is sub-grouped by (src, salt)") {
    import org.apache.spark.sql.functions._
    val plans = {
      val buf = mutable.ArrayBuffer.empty[String]
      val listener = new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
          buf.synchronized { buf += qe.executedPlan.toString }
        override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val edges = spark.read.parquet(s"${sf()}/lineitem.parquet")
          .select((col("l_partkey") * 2).cast("long").as("src"),
            (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
        // salting exists only past the edge gate
        forcedDistributed(ops.Graph.pageRank(edges, "src", "dst", iterations = 2,
          dedupEdges = true, hubDegreeThreshold = 10L, hubSalts = 4).collect())
        var last = -1; var stable = 0
        val deadline = System.currentTimeMillis + 30000
        while (stable < 3 && System.currentTimeMillis < deadline) {
          Thread.sleep(100)
          val n = buf.synchronized(buf.size)
          if (n == last) stable += 1 else { stable = 0; last = n }
        }
        buf.synchronized(buf.toSeq)
      } finally spark.listenerManager.unregister(listener)
    }
    val all = plans.mkString("\n===\n")
    assert(anyPlan(plans)(p => p.contains("pmod") && p.contains("salt")), all.take(4000))
  }

  test("kcore_decomposition: alive-set joins broadcast under the gate") {
    // distributed branch pinned, as in triangle_count above (r16 gate)
    val plans = forcedDistributed(executedPlans("kcore_decomposition", "sf0.01"))
    val all = plans.mkString("\n===\n")
    assert(all.contains("BroadcastHashJoin"), all.take(4000))
  }

  test("dedup_minhash: banded collect_list pairing; sigs re-attach from the cache, kernel runs once") {
    val plans = executedPlans("dedup_minhash")
    val all = plans.mkString("\n===\n")
    // bucket aggregation via collect_list (ObjectHashAggregate), then
    // in-bucket pair expansion — never a bucket SELF-join (which would
    // square the sketch pipeline)
    assert(all.contains("ObjectHashAggregate") && all.contains("collect_list"), all.take(4000))
    // r15 shuffle-bytes shape: the banding shuffle carries only (band key,
    // doc_id); signatures re-attach to pair SURVIVORS by joining the
    // persisted sketch cache. The kernel must only ever appear as the
    // cached relation's definition (InMemoryTableScan prints its child
    // plan) — a plan computing the sketch OUTSIDE the cache would mean the
    // text is being re-sketched per consumer
    assert(all.contains("InMemoryTableScan"), all.take(4000))
    val rogue = plans.filter(p =>
      p.contains("portable_minhash_sig") && !p.contains("InMemoryRelation"))
    assert(rogue.isEmpty,
      "sketch kernel evaluated outside the persisted sketch frame:\n" + rogue.mkString.take(4000))
  }
}
