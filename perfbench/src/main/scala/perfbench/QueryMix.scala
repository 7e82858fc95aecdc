package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueryCatalog, SparkEntry}

import Main.{Op, timed}

/** A fixed list of read-only catalog queries over seeded TPC-H-shaped
  * tables, in one seeded order. Each query is built (catalog entry →
  * DataFrame, including any eager gate jobs), planned
  * (`queryExecution.executedPlan`) and run through the `noop` sink. An
  * untimed pass first writes every query's result for the DuckDB oracle.
  * One more untimed pass follows: the first passes of a JVM run while the
  * JIT compiler is busiest (it spends more CPU time than the engine) and
  * cost up to half as much again as later ones. */
final class QueryMix(inputs: String, root: String, seed: Long,
    params: Map[String, String]) extends Main.Workload {

  private val names: Seq[String] = {
    val list = params("queries").split(",").map(_.trim).toSeq
    val known = QueryCatalog.all.map(_.name).toSet
    val missing = list.filterNot(known)
    require(missing.isEmpty, s"unknown catalog queries: ${missing.mkString(",")}")
    new scala.util.Random(seed).shuffle(list)
  }
  private val warm = params.get("warm").map(_.split(",").toSeq).getOrElse(names.take(3))
  private var dataDir: String = _

  private def build(spark: SparkSession, name: String): DataFrame =
    SparkEntry.queries(name)(spark, dataDir)

  def setup(spark: SparkSession, round: Int): Unit = {
    dataDir = s"$inputs/tables"
    warm.foreach { n =>
      build(spark, n).write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
    }
  }

  /** Untimed oracle pass (every query's result as parquet, plus its SQL),
    * then one untimed warm-up pass. */
  override def prepare(spark: SparkSession): Map[String, Any] = {
    val dir = s"$root/check"
    val failed = names.filterNot { n =>
      try { build(spark, n).write.mode("overwrite").parquet(s"$dir/$n"); true }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] check pass $n failed: $e"); false
      }
      finally spark.catalog.clearCache()
    }
    names.foreach { n =>
      build(spark, n).write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
    }
    val oracle = SparkEntry.oracleSql
    Map("check_dir" -> dir, "data_dir" -> dataDir, "failed" -> failed,
      "oracle_sql" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap)
  }

  /** One full pass over the mix: every run times whole passes, so every
    * run measures the same multiset of queries whatever the seeded order. */
  def step(spark: SparkSession, t: Tracer, rep: Int, more: () => Boolean): Seq[Op] =
    names.zipWithIndex.map { case (n, i) =>
      val op = timed(spark, t, n, rep, i) {
        val df = t.span("catalog.construct", "catalog") { build(spark, n) }
        t.span("catalyst.plan", "catalyst") { df.queryExecution.executedPlan }
        t.span("exec.save", "exec") { df.write.mode("overwrite").format("noop").save() }
      }
      spark.catalog.clearCache()
      op
    }

  def finish(spark: SparkSession): Map[String, Any] = Map("order" -> names)

  def layers(traced: Seq[Tracer.OpTrace], ops: Seq[Op]): Map[String, Double] = {
    val n = traced.size.max(1).toDouble
    def mean(f: Tracer.OpTrace => Double) = traced.map(f).sum / n
    // the final plan of each query's noop save
    val plans = traced.flatMap { o =>
      val save = o.inner.filter(_.name == "exec.save").map(_.id).toSet
      o.actions.filter(a => save(a.parent)).flatMap(_.plan).lastOption
    }
    def planMean(f: Tracer.PlanCounts => Int) =
      if (plans.isEmpty) 0.0 else plans.map(f).sum.toDouble / plans.size
    Map(
      "catalog.construct_s" -> mean(_.spanSeconds("catalog.construct")),
      "catalog.eager_jobs" -> mean { o =>
        val ids = o.inner.filter(_.name == "catalog.construct").map(_.id).toSet
        o.actions.filter(a => ids.contains(a.parent)).map(_.jobs).sum.toDouble
      },
      "catalyst.plan_s" -> mean(_.spanSeconds("catalyst.plan")),
      "exec.save_s" -> mean(_.spanSeconds("exec.save")),
      "plan.exchanges" -> planMean(_.exchanges),
      "plan.scans" -> planMean(_.scans),
      "plan.broadcasts" -> planMean(_.broadcasts),
      "plan.codegen_stages" -> planMean(_.codegen))
  }
}

object QueryMix {
  /** The per-layer metric names [[QueryMix.layers]] reports. */
  val layerKeys: Seq[String] = Seq(
    "catalog.construct_s", "catalog.eager_jobs", "catalyst.plan_s", "exec.save_s",
    "plan.exchanges", "plan.scans", "plan.broadcasts", "plan.codegen_stages")
}
