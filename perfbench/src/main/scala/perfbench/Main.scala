package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Harness process: one JVM, one `local[N]` session, one client running a
  * closed loop over the workload's operations in a fixed order. It reaches
  * the program only through its public entry points and writes every
  * measurement to `<work>/result.json`; run.py turns that into metrics.
  *
  * Phases: set-up (three times, median reported) → untimed check pass
  * (outputs kept for the oracle comparison) → untimed warmup → timed
  * passes until `--seconds` have elapsed. A traced run adds a listener,
  * job groups and spans to every other pass, so the tracing overhead is
  * measured pass against pass in the same process. */
object Main {

  final case class Conf(workload: String, data: String, work: String, seconds: Double,
                        trace: Boolean, cpus: Int)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val out = new Json.Obj
    out("workload") = conf.workload
    out("cpus_req") = conf.cpus
    out("host.cal_s") = Host.calibrate()
    val spark = Host.setup(conf, out)
    val w: Workload =
      if (conf.workload == "refresh_sync") new RefreshWorkload(spark, conf)
      else new QueryWorkload(spark, conf, QueryWorkload.select)
    val runner = new Runner(spark, conf, w, out)
    runner.run()
    out("host.cal_post_s") = Host.calibrate()
    spark.stop()
    Files.write(Paths.get(conf.work, "result.json"), out.render.getBytes(UTF_8))
  }
}

/** One workload: a fixed, ordered list of operations. */
trait Workload {
  /** (operation name, layer/pack it belongs to) in execution order. */
  def ops: Seq[(String, String)]
  /** Untimed preparation before each pass (e.g. a fresh database). */
  def beginPass(): Unit = ()
  /** Runs one operation; returns the frame whose plan is to be forced, or
    * None when the operation already did all its work (writes, collects). */
  def build(op: String): Option[DataFrame]
  /** After a pass: output checks (empty = all good). */
  def endPass(): Seq[String] = Nil
  /** Rows moved by one pass (0 when the notion does not apply). */
  def rowsPerPass: Long = 0L
  /** Untimed check pass: run every operation once and keep its output. */
  def checkPass(out: Json.Obj): Unit
  /** Whether operations are independent: the harness then resets caches
    * after each one. A workload whose steps share cached frames releases
    * them itself in `endPass`. */
  def resetAfterOp: Boolean = true
  /** Untimed warmup rounds (see Runner.warmup). */
  def warmRounds: Int
}

/** Everything about the host and the session the artifact must carry. */
object Host {
  /** Fixed-work serial probe (same xorshift chain as graft.Bench, smaller):
    * its seconds show whether the host was starved during the run. */
  def calibrate(iters: Long = 100000000L): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("improbable")
    (System.nanoTime() - t0) / 1e9
  }

  def session(conf: Main.Conf): SparkSession = {
    val local = Paths.get(conf.work, "spark-local").toAbsolutePath
    Files.createDirectories(local)
    SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", Paths.get(conf.work, "warehouse").toAbsolutePath.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the same session confs graft.Bench runs the suite with
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.analyzer.singlePassResolver.enabledTentatively", "false")
      .getOrCreate()
  }

  /** Set-up, three times: session start, input registration and a warmup
    * action. All but the last session are stopped again. The first one also
    * pays for JVM class loading, so the median is a warm set-up. */
  def setup(conf: Main.Conf, out: Json.Obj): SparkSession = {
    val times = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    val reps = 3
    for (rep <- 1 to reps) {
      val t0 = System.nanoTime()
      spark = session(conf)
      spark.sparkContext.setLogLevel("ERROR")
      val inputs = Files.list(Paths.get(conf.data)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).sorted
      inputs.foreach { p =>
        spark.read.parquet(p).createOrReplaceTempView(
          Paths.get(p).getFileName.toString.stripSuffix(".parquet"))
      }
      // warmup: one small job through the scheduler and the parquet reader
      spark.read.parquet(inputs.head).count()
      times += (System.nanoTime() - t0) / 1e9
      if (rep < reps) spark.stop()
    }
    out("setup_reps_s") = Json.Arr(times.toSeq: _*)
    val sc = spark.sparkContext
    out("cpus_eff") = sc.defaultParallelism
    out("driver_heap_mb") = Runtime.getRuntime.maxMemory / 1e6
    val local = sc.getConf.get("spark.local.dir")
    out("spark_local_dir") = local
    out("spark_local_dir_free_bytes") = new java.io.File(local).getUsableSpace
    require(sc.defaultParallelism == conf.cpus,
      s"session runs ${sc.defaultParallelism} cores, ${conf.cpus} requested")
    spark
  }
}

/** The closed loop. Per operation it records wall time split into driver
  * build (inside the program's function), Catalyst planning (the
  * QueryExecution tracker phases) and execution (the rest), plus what the
  * between-operation reset had to release. */
final class Runner(spark: SparkSession, conf: Main.Conf, w: Workload, out: Json.Obj) {
  private val sc = spark.sparkContext
  private val listener = new GroupListener
  private val spans = ArrayBuffer.empty[Span] // kept in memory, written at exit
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var groupSeq = 0

  private def gcSeconds: Double = {
    var ms = 0L
    gcBeans.forEach(b => ms += math.max(b.getCollectionTime, 0L))
    ms / 1e3
  }

  /** Frees what operations left cached and reports it: a non-zero count
    * means the previous operation leaked a persist or checkpoint. */
  private def reset(): (Int, Long, Int) = {
    val info = sc.getRDDStorageInfo
    val blocks = info.map(_.numCachedPartitions).sum
    val bytes = info.map(i => i.memSize + i.diskSize).sum
    val rdds = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    (blocks, bytes, rdds)
  }

  /** One execution of one operation. */
  private def once(op: String, layer: String, pass: Int, traced: Boolean): Json.Obj = {
    val rec = new Json.Obj
    val group = { groupSeq += 1; s"$op#$groupSeq" }
    if (traced) sc.setJobGroup(group, op, interruptOnCancel = false)
    val gc0 = gcSeconds
    val cpu0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    var t1 = t0
    var t2 = t0
    var phases = Map.empty[String, (Long, Long)]
    var ok = true
    try {
      val df = w.build(op)
      t1 = System.nanoTime()
      df.foreach { d =>
        val rdd = d.queryExecution.toRdd
        t2 = System.nanoTime()
        rdd.count()
        phases = d.queryExecution.tracker.phases.map { case (k, v) =>
          k -> (v.startTimeMs, v.endTimeMs) }
      }
      if (df.isEmpty) t2 = t1
    } catch {
      case e: Throwable =>
        ok = false
        rec("error") = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val t3 = System.nanoTime()
    if (t1 == t0) t1 = t3
    if (t2 == t0) t2 = t3
    if (traced) sc.clearJobGroup()
    val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
    val gc = gcSeconds - gc0
    val (blocks, bytes, rdds) = if (w.resetAfterOp) reset() else (0, 0L, 0)
    // Catalyst phases: analysis runs eagerly while the program builds the
    // frame, optimization and planning when the harness forces it. Phases
    // that started before the build returned are carved out of build time,
    // the others out of the execution window, so the three layers add up
    // to the wall time.
    val buildEndMs = wall0 + (t1 - t0) / 1000000L
    val (inBuild, afterBuild) = phases.values.partition(_._1 < buildEndMs)
    val planInBuild = inBuild.map(p => p._2 - p._1).sum / 1e3
    val planAfter = afterBuild.map(p => p._2 - p._1).sum / 1e3
    val wall = (t3 - t0) / 1e9
    rec("op") = op
    rec("layer") = layer
    rec("pass") = pass
    rec("traced") = traced
    rec("group") = group
    rec("ok") = ok
    rec("wall_s") = wall
    rec("driver.build_s") = math.max((t1 - t0) / 1e9 - planInBuild, 0.0)
    rec("catalyst.plan_s") = planInBuild + planAfter
    rec("exec.wall_s") = math.max((t3 - t1) / 1e9 - planAfter, 0.0)
    rec("cpu_s") = cpu
    rec("jvm.gc_s") = gc
    rec("reset.released_blocks") = blocks
    rec("reset.released_mb") = bytes / 1e6
    rec("reset.persisted_rdds") = rdds
    if (traced) {
      val qid = group
      spans += Span(op, t0, t3, layer, qid)
      spans += Span("build", t0, t1, op, qid)
      spans += Span("toRdd", t1, t2, op, qid)
      spans += Span("count", t2, t3, op, qid)
    }
    rec
  }

  /** Untimed warmup between the check pass and the timed passes: the JIT
    * keeps compiling Spark's planning and scheduling paths for several
    * executions of each query (a pass measured about a third faster after
    * five executions than after one). Independent operations warm up
    * `cpus` at a time, which is cheaper; steps that share state warm up as
    * whole passes, checked like the timed ones. Returns the number of
    * operations run; their failures count like any other. */
  private def warmup(failures: ArrayBuffer[String]): Int = {
    def force(op: String): Option[String] =
      try { w.build(op).foreach(_.queryExecution.toRdd.count()); None }
      catch { case e: Throwable => Some(s"$op (warmup): ${e.getClass.getName}: ${e.getMessage}") }
    if (w.resetAfterOp) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(conf.cpus)
      try {
        val tasks = for (_ <- 1 to w.warmRounds; (op, _) <- w.ops)
          yield pool.submit(new java.util.concurrent.Callable[Option[String]] {
            def call() = force(op)
          })
        tasks.foreach(_.get().foreach(failures += _))
      } finally pool.shutdownNow()
      reset()
    } else (1 to w.warmRounds).foreach { _ =>
      w.beginPass()
      w.ops.foreach { case (op, _) => force(op).foreach(failures += _) }
      failures ++= w.endPass()
      reset()
    }
    w.warmRounds * w.ops.size
  }

  def run(): Unit = {
    val runs = ArrayBuffer.empty[Json.Obj]
    val passes = ArrayBuffer.empty[Json.Obj]
    val failures = ArrayBuffer.empty[String]

    val tc = System.nanoTime()
    w.checkPass(out)
    reset()
    out("check_pass_s") = (System.nanoTime() - tc) / 1e9
    val tw = System.nanoTime()
    out("warm_ops") = warmup(failures)
    out("warmup_s") = (System.nanoTime() - tw) / 1e9

    if (conf.trace) sc.addSparkListener(listener)
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var pass = 0
    var lastPass = 0.0
    // Whole passes only; another one starts while it is expected to end
    // inside the window. A traced run alternates untraced and traced passes,
    // at least untraced-traced-untraced, so the traced pass is compared with
    // passes on both sides of it while the JIT is still warming up (the
    // steps of a pass share state, so they cannot be paired one by one).
    val minPasses = if (conf.trace) 3 else 1
    while (pass < minPasses || elapsed + lastPass <= conf.seconds * 1.1) {
      val traced = conf.trace && pass % 2 == 1
      w.beginPass()
      val p0 = System.nanoTime()
      val cpu0 = osBean.getProcessCpuTime
      w.ops.foreach { case (op, layer) =>
        val r = once(op, layer, pass, traced)
        runs += r
        if (!r.bool("ok")) failures += s"$op: ${r.str("error")}"
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val t = System.nanoTime()
      failures ++= w.endPass()
      val (blocks, bytes, _) = reset()
      // two collections around a pause, so references the first one
      // enqueued (Spark's ContextCleaner, finalizers) are gone by the second
      System.gc()
      Thread.sleep(100)
      System.gc()
      val mx = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      val p = new Json.Obj
      p("pass") = pass
      p("traced") = traced
      p("wall_s") = wall
      p("cpu_s") = cpu
      p("heap_live_mb") = mx.getUsed / 1e6
      p("end_s") = (System.nanoTime() - t) / 1e9
      p("rows") = w.rowsPerPass
      p("reset.released_blocks") = blocks
      p("reset.released_mb") = bytes / 1e6
      passes += p
      lastPass = wall
      pass += 1
    }
    out("timed_s") = elapsed
    if (conf.trace) {
      org.apache.spark.BusAccess.drain(sc)
      sc.removeSparkListener(listener)
      runs.filter(_.bool("traced")).foreach { r =>
        listener.group(r.str("group")).toMap.foreach { case (k, v) => r(k) = v }
      }
      out("spans") = Json.Arr(spans.toSeq.map { s =>
        val o = new Json.Obj
        o("name") = s.name; o("start_ns") = s.startNs - start; o("end_ns") = s.endNs - start
        o("parent") = s.parent; o("query_id") = s.queryId
        o
      }: _*)
    }
    out("runs") = Json.Arr(runs.toSeq: _*)
    out("passes") = Json.Arr(passes.toSeq: _*)
    out("failures") = Json.Arr(failures.toSeq: _*)
  }
}
