package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up (several rounds, each on a fresh
  * session), run the workload's untimed checks, measure a closed loop with
  * one client for `--seconds`, then write the raw observations to `--out`.
  * `run.py` launches this and turns the observations into the result line.
  *
  * With `--trace 1` half the operations are traced (spans and listeners):
  * op `i` of repetition `rep` is traced when `i + rep` is odd, so over two
  * repetitions every kind of op runs both traced and untraced, and the
  * trace file carries the per-layer numbers and the tracing overhead on the
  * same seed and inputs.
  */
object Main {

  /** One timed operation: wall seconds, and over the same interval the CPU
    * seconds of the engine (every JVM thread but the JIT compiler threads,
    * GC threads included) and, within or beside it, of the GC and JIT
    * threads. */
  final case class Op(kind: String, seconds: Double, cpu: Cpu, ok: Boolean,
      rep: Int, traced: Boolean, detail: Map[String, Any] = Map.empty)

  final case class Cpu(engine: Double, jit: Double, gc: Double) {
    def -(o: Cpu): Cpu = Cpu(engine - o.engine, jit - o.jit, gc - o.gc)
  }

  /** A workload: inputs already generated under `inputs`. */
  trait Workload {
    /** One set-up round on a fresh session: open the inputs, run the
      * workload's warm-up op. Each round works under its own directories. */
    def setup(spark: SparkSession, round: Int): Unit
    /** Untimed work before the timed loop: checks that need their own pass,
      * and warm-up ops until op times settle. */
    def prepare(spark: SparkSession): Map[String, Any] = Map.empty
    /** Whether another repetition has inputs left. */
    def hasNext(rep: Int): Boolean = true
    /** One repetition of the loop, each op run through [[timed]]; `more()`
      * is checked before every op after the first and turns false when the
      * run's time is up. */
    def step(spark: SparkSession, t: Tracer, rep: Int, more: () => Boolean): Seq[Op]
    /** Untimed observations after the loop, compared to the expectation. */
    def finish(spark: SparkSession): Map[String, Any]
    /** Per-layer numbers from the traced operations (and all ops' details). */
    def layers(traced: Seq[Tracer.OpTrace], ops: Seq[Op]): Map[String, Double]
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = a("root")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val rounds = a.getOrElse("setup-rounds", "3").toInt
    val seed = a("seed").toLong
    val params = a.collect { case (k, v) if k.startsWith("p.") => k.drop(2) -> v }
    val inputs = a("inputs")
    val jvmToMain = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val wl: Workload = a("workload") match {
      case "etl_batch" => new EtlBatch(inputs, root, seed, params)
      case "query_mix" => new QueryMix(inputs, root, seed, params)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up: several rounds, each a fresh session + the workload's set-up;
    // wall and engine CPU seconds per round
    var spark: SparkSession = null
    val setupRounds = (0 until rounds).map { r =>
      val c0 = cpuNow()
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(root, cores)
      wl.setup(spark, r)
      ((System.nanoTime() - t0) / 1e9, (cpuNow() - c0).engine)
    }
    val calib = calibAnchor(spark)
    val load0 = loadAvg()
    val p0 = System.nanoTime()
    val prepared = wl.prepare(spark)
    val prepareS = (System.nanoTime() - p0) / 1e9

    // ---- closed loop, one client
    val tracer = new Tracer(trace)
    val ops = mutable.ArrayBuffer[Op]()
    val minReps = if (trace) 2 else 1
    val steal0 = cpuTicks()
    val loopStart = System.nanoTime()
    var rep = 0
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    def more() = rep < minReps || elapsed < seconds
    while (wl.hasNext(rep) && more()) {
      ops ++= wl.step(spark, tracer, rep, () => more())
      rep += 1
    }
    val loopWall = elapsed
    val stealFrac = {
      val d = cpuTicks().zip(steal0).map { case (b, a) => b - a }
      if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else -1.0
    }
    val load1 = loadAvg()
    // one fixed query last, so what the heap holds does not depend on which
    // op the seed put last (`tpch_q3` last leaves 18 MB more behind)
    spark.range(1000).selectExpr("sum(id)").collect()
    val heapAfterGc = retainedHeapMb()
    val f0 = System.nanoTime()
    val finished = wl.finish(spark)
    val finishS = (System.nanoTime() - f0) / 1e9
    val traced = if (trace) Tracer.opTraces(tracer) else Nil
    // every workload reports every workload's layer keys, 0 where they do not apply
    val layers =
      if (!trace) Map.empty[String, Double]
      else {
        val own = wl.layers(traced, ops.toSeq)
        (EtlBatch.layerKeys ++ QueryMix.layerKeys).map(_ -> 0.0).toMap ++
          Tracer.common(traced) ++ own
      }

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores,
      "trace" -> trace, "jvm_to_main_s" -> jvmToMain,
      "setup_rounds_s" -> setupRounds.map(_._1), "setup_rounds_cpu_s" -> setupRounds.map(_._2),
      "calib_s" -> calib, "loadavg_start" -> load0, "loadavg_end" -> load1,
      "prepare_s" -> prepareS, "loop_wall_s" -> loopWall, "finish_s" -> finishS,
      "reps" -> rep,
      "steal_frac" -> stealFrac,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "s" -> o.seconds, "cpu_s" -> o.cpu.engine,
        "jit_cpu_s" -> o.cpu.jit, "gc_cpu_s" -> o.cpu.gc, "ok" -> o.ok, "rep" -> o.rep,
        "traced" -> o.traced) ++ o.detail),
      "prepared" -> prepared, "finished" -> finished,
      "peak_rss_mb" -> peakRssMb(), "heap_after_gc_mb" -> heapAfterGc, "layers" -> layers)
    if (trace) {
      out("layer_split") = traced.groupBy(_.kind).map { case (k, os) =>
        k -> os.flatMap(_.layerSplit).groupMapReduce(_._1)(_._2 / os.size)(_ + _)
      }
      out("trace") = Tracer.dump(tracer)
    }
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new java.io.File(a("out")), out)
    spark.stop()
  }

  def session(root: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // the status store keeps the last N jobs, stages and SQL executions;
      // a small N fills during the untimed passes, so the retained heap does
      // not grow with the number of ops the host fits in a run
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** graft.Bench's host-speed anchor: one fixed, data-independent query
    * (range → modulo → 1024-group hash aggregate → tiny shuffle). */
  def calibAnchor(spark: SparkSession): Double = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    val t0 = System.nanoTime()
    spark.range(200000000L).selectExpr("id % 1024 AS k", "id")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("id"))
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  private val processCpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds so far: the engine (every thread but the JIT compiler
    * threads: driver, task, Spark and GC threads), and of those the GC
    * threads, and the JIT compiler threads.
    * Per-thread times come from /proc in clock ticks (10 ms); the JVM keeps
    * its compiler threads alive (`-XX:-UseDynamicNumberOfCompilerThreads`)
    * so their time never drops out of the split. */
  def cpuNow(): Cpu = {
    var jit, gc = 0L
    Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten.foreach { d =>
      val stat =
        try new String(java.nio.file.Files.readAllBytes(d.toPath.resolve("stat")), "UTF-8")
        catch { case _: java.io.IOException => "" }
      val close = stat.lastIndexOf(')')
      if (close > 0) {
        val name = stat.substring(stat.indexOf('(') + 1, close)
        val f = stat.substring(close + 2).split(' ')
        val ticks = f(11).toLong + f(12).toLong
        if (name.contains("CompilerThre")) jit += ticks
        else if (name.startsWith("GC ") || name.startsWith("G1 ")) gc += ticks
      }
    }
    val all = processCpu.getProcessCpuTime / 1e9
    Cpu(all - jit / 100.0, jit / 100.0, gc / 100.0)
  }

  /** The machine-wide CPU tick counters (user, nice, system, idle, iowait,
    * irq, softirq, steal, ...), so a run can report how much of its loop
    * the hypervisor took away. */
  def cpuTicks(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap still in use after full collections: what the engine retains.
    * The pause between collections lets Spark's context cleaner drop the
    * broadcasts and shuffles the first collection found unreachable. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    Thread.sleep(500)
    System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** High-water resident set of this JVM, from /proc. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  /** Time op `i` of repetition `rep`, traced or not (see above); a failure
    * is caught and counted as a not-ok op. */
  def timed(spark: SparkSession, t: Tracer, kind: String, rep: Int, i: Int)
      (f: => Unit): Op = {
    val traced = t.enabled && (i + rep) % 2 == 1
    if (traced) t.attach(spark)
    val c0 = cpuNow()
    val t0 = System.nanoTime()
    val ok =
      try { t.span(s"op.$kind", "driver")(f); true }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e"); false
      }
    val op = Op(kind, (System.nanoTime() - t0) / 1e9, cpuNow() - c0, ok, rep, traced)
    if (traced) t.detach(spark)
    op
  }

  /** Run `f(x, i)` over `xs` in order while `more()` holds; the first
    * always runs. */
  def runWhile[A](xs: Seq[A], more: () => Boolean)(f: (A, Int) => Op): Seq[Op] = {
    val out = mutable.ArrayBuffer[Op]()
    val it = xs.iterator
    while (it.hasNext && (out.isEmpty || more())) out += f(it.next(), out.size)
    out.toSeq
  }

  def listFiles(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (!f.exists) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles).toSeq.flatten.flatMap(c => listFiles(c.getPath))
  }
}
