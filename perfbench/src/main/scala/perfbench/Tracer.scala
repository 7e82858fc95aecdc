package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** In-memory spans around the benchmark's calls into graft, with the Spark
  * work below them.
  *
  * Benchmark spans nest on the single client thread. Below them the
  * listeners record *actions*: one per root SQL execution (a write, count
  * or collect, from its planning to its commit) and one per Spark job run
  * outside any SQL execution. Each action is a child of the innermost
  * benchmark span open when it started, and is attributed to the graft
  * layer (package) of the innermost `graft.*` frame in its call site —
  * `graft.io.Sinks` → `io`, `graft.etl.Validation` → `etl`,
  * `graft.meta.Staging` / `GenLedger` → `meta`, `graft.ops.IncrementalDedup`
  * → `ops`, a top-level `graft.X` → `catalog`. An action with no graft
  * frame (the benchmark's own `noop` save) takes its parent span's layer.
  * Jobs belong to their action and add their task metrics to it; a root
  * execution's end adds its Catalyst phase time and final-plan counts.
  *
  * When tracing is off nothing is registered and `span` is a pass-through;
  * when it is on, spans and actions are recorded between `attach` and
  * `detach`.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  private def now(): Long = System.nanoTime() - t0Nanos
  private def fromMillis(ms: Long): Long = (ms - t0Millis) * 1000000L

  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  @volatile private var active = false

  def span[T](name: String, layer: String)(f: => T): T =
    if (!active) f
    else {
      val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, layer, now())
      spans += s
      open.push(s)
      try f finally { s.end = now(); open.pop() }
    }

  // ---- filled on the listener bus thread
  private val actions = mutable.LinkedHashMap[String, Action]()
  private val rootOf = mutable.HashMap[Long, Long]()
  private val jobAction = mutable.HashMap[Int, Action]()
  private val stageAction = mutable.HashMap[Int, Action]()

  private def sqlAction(exec: Long): Option[Action] =
    actions.get(s"sql${rootOf.getOrElse(exec, exec)}")

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        val root = s.rootExecutionId.getOrElse(s.executionId)
        rootOf(s.executionId) = root
        if (root == s.executionId)
          actions(s"sql$root") = new Action(s"sql$root", fromMillis(s.time), graftFrame(s.details))
      }
      case s: SparkListenerSQLExecutionEnd =>
        val qe = Option(org.apache.spark.sql.PerfbenchSql.queryExecution(s))
        val phases = qe.map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
        val plan = qe.map(q => PlanCounts.of(q.executedPlan))
        Tracer.this.synchronized {
          sqlAction(s.executionId).foreach { a =>
            a.catalystMs += phases
            if (a.id == s"sql${s.executionId}") { a.end = fromMillis(s.time); a.plan = plan }
          }
        }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val a = exec.flatMap(sqlAction).getOrElse {
        val own = new Action(s"job${e.jobId}", fromMillis(e.time),
          graftFrame(e.stageInfos.headOption.map(_.details).getOrElse("")))
        actions(own.id) = own
        own
      }
      a.jobs += 1
      jobAction(e.jobId) = a
      e.stageIds.foreach(stageAction(_) = a)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobAction.get(e.jobId).filter(_.id == s"job${e.jobId}").foreach(_.end = fromMillis(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stageAction.get(e.stageInfo.stageId).foreach(_.stages += 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageAction.get(e.stageId).foreach { a =>
        val info = e.taskInfo
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    active = true
  }

  /** Stop recording; waits until every event posted so far is handled. */
  def detach(spark: SparkSession): Unit = if (enabled) {
    active = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Finished actions, each linked to the innermost span open at its start. */
  def finishedActions(): Seq[Action] = synchronized {
    val as = actions.values.filter(_.end >= 0).toList
    as.foreach { a =>
      val parent = spans.filter(s => s.start <= a.start && a.start <= s.end)
        .sortBy(s => (s.start, s.id)).lastOption
      a.parent = parent.map(_.id).getOrElse(-1)
      a.layer = a.frame.map(_._1).orElse(parent.map(_.layer)).getOrElse("driver")
    }
    as
  }
}

object Tracer {

  final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
      val start: Long) {
    var end: Long = -1L
  }

  /** A root SQL execution, or a Spark job outside any: interval, call-site
    * frame, and the jobs, stages and task metrics below it. */
  final class Action(val id: String, val start: Long, val frame: Option[(String, String)]) {
    var end: Long = -1L
    var parent: Int = -1
    var layer: String = ""
    def site: String = frame.map(_._2).getOrElse("")
    var jobs, stages, tasks, runMs, gcMs, schedMs, catalystMs = 0L
    var cpuNs, shuffleWrite, shuffleRead, spill, input, output = 0L
    var plan: Option[PlanCounts] = None
    def interval: (Long, Long) = (start, end)
  }

  private val Frame = """(?:^|[\s/])(graft\.[\w.$]+)\.([\w$]+)\(""".r.unanchored

  /** (layer, "Object.method") of the innermost graft frame in a long-form
    * call site, if any. Lambdas name their enclosing method. */
  def graftFrame(callSite: String): Option[(String, String)] =
    callSite.split('\n').iterator.collectFirst { case Frame(cls, meth) =>
      val parts = cls.split('.')
      val layer = if (parts.length > 2) parts(1) else "catalog"
      val obj = parts.last.split('$').filter(_.nonEmpty).headOption.getOrElse(parts.last)
      val m = meth.stripPrefix("$anonfun$").split('$').head
      (layer, s"$obj.$m")
    }

  final case class PlanCounts(exchanges: Int, scans: Int, broadcasts: Int, codegen: Int)

  object PlanCounts {
    /** Counts over the final (post-AQE) physical plan, subqueries included;
      * a reused exchange is not counted again. */
    def of(plan: SparkPlan): PlanCounts = {
      var ex, sc, bc, cg = 0
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec =>
        case _ =>
          p match {
            case _: BroadcastExchangeLike => bc += 1
            case _: ShuffleExchangeLike => ex += 1
            case _: WholeStageCodegenExec => cg += 1
            case _ if p.children.isEmpty && p.nodeName.contains("Scan") => sc += 1
            case _ =>
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
      walk(plan)
      PlanCounts(ex, sc, bc, cg)
    }
  }

  /** Part of `[start, end]` covered by the union of `intervals`. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = start
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** One traced top-level operation: its span, the spans below it and the
    * actions under any of them. */
  final case class OpTrace(span: Span, inner: Seq[Span], actions: Seq[Action]) {
    def kind: String = span.name.stripPrefix("op.")
    def seconds: Double = (span.end - span.start) / 1e9
    /** Wall time of this op covered by the union of `as`. */
    def coveredBy(as: Seq[Action]): Double =
      covered(span.start, span.end, as.map(_.interval)) / 1e9
    def at(sitePrefix: String): Seq[Action] = actions.filter(_.site.startsWith(sitePrefix))
    def inLayer(layer: String): Seq[Action] = actions.filter(_.layer == layer)
    def spanSeconds(name: String): Double =
      inner.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum

    /** Wall time split by layer. Action time goes to the action's layer
      * (actions of one layer under one span counted as their union); span
      * time that no child span or action covers is driver time, or
      * catalyst time for the benchmark's explicit planning span. */
    def layerSplit: Map[String, Double] = {
      val all = span +: inner
      all.flatMap { s =>
        val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end))
        val mine = actions.filter(_.parent == s.id)
        val self = (s.end - s.start) - covered(s.start, s.end, kids ++ mine.map(_.interval))
        val selfLayer = if (s.layer == "catalyst") "catalyst" else "driver"
        (selfLayer -> self) +: mine.groupBy(_.layer).toSeq.map { case (l, as) =>
          l -> covered(s.start, s.end, as.map(_.interval))
        }
      }.groupMapReduce(_._1)(_._2 / 1e9)(_ + _)
    }
  }

  def opTraces(t: Tracer): Seq[OpTrace] = {
    val actions = t.finishedActions()
    val byParent = t.spans.groupBy(_.parent)
    def below(id: Int): Seq[Span] =
      byParent.getOrElse(id, Nil).toSeq.flatMap(s => s +: below(s.id))
    t.spans.filter(s => s.parent < 0 && s.name.startsWith("op.")).map { s =>
      val inner = below(s.id)
      val ids = (s +: inner).map(_.id).toSet
      OpTrace(s, inner, actions.filter(a => ids.contains(a.parent)))
    }.toSeq
  }

  /** Spans and actions with their self time, for the trace file. */
  def dump(t: Tracer): Map[String, Any] = {
    val actions = t.finishedActions()
    val spanRows = t.spans.map { s =>
      val kids = t.spans.filter(_.parent == s.id).map(k => (k.start, k.end)) ++
        actions.filter(_.parent == s.id).map(_.interval)
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9,
        "self_s" -> (s.end - s.start - covered(s.start, s.end, kids.toSeq)) / 1e9)
    }
    val actionRows = actions.map { a =>
      Map("action" -> a.id, "parent" -> a.parent, "layer" -> a.layer, "site" -> a.site,
        "start_s" -> a.start / 1e9, "end_s" -> a.end / 1e9,
        "self_s" -> (a.end - a.start) / 1e9, "catalyst_s" -> a.catalystMs / 1e3,
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "cpu_s" -> a.cpuNs / 1e9, "run_s" -> a.runMs / 1e3, "gc_s" -> a.gcMs / 1e3,
        "sched_delay_s" -> a.schedMs / 1e3, "shuffle_write_bytes" -> a.shuffleWrite,
        "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill,
        "input_bytes" -> a.input, "output_bytes" -> a.output, "plan" -> a.plan)
    }
    Map("spans" -> spanRows, "actions" -> actionRows)
  }

  /** Per-layer numbers every workload reports, per traced operation. */
  def common(ops: Seq[OpTrace]): Map[String, Double] = {
    val n = ops.size.max(1).toDouble
    val as = ops.flatMap(_.actions)
    def per(f: Action => Double) = as.map(f).sum / n
    Map(
      "spark.jobs" -> per(_.jobs.toDouble),
      "spark.stages" -> per(_.stages.toDouble),
      "spark.tasks" -> per(_.tasks.toDouble),
      "spark.executor_cpu_s" -> per(_.cpuNs / 1e9),
      "spark.executor_run_s" -> per(_.runMs / 1e3),
      "spark.gc_s" -> per(_.gcMs / 1e3),
      "spark.scheduler_delay_s" -> per(_.schedMs / 1e3),
      "spark.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> per(_.spill.toDouble),
      "spark.input_bytes" -> per(_.input.toDouble),
      "spark.output_bytes" -> per(_.output.toDouble),
      "catalyst.phases_s" -> per(_.catalystMs / 1e3),
      "driver.self_s" -> ops.map(o => o.seconds - o.coveredBy(o.actions)).sum / n)
  }
}
