package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. A run calls `setup` once, then repeats
  * passes: `reset` (untimed, fresh state), `pass` (timed; every graft call
  * goes through `ops`), `check` (untimed, outputs against a model built
  * apart from graft). Every pass attempts the same `opsPerPass` calls. */
trait Workload {
  def opsPerPass: Int
  def setup(): Unit
  def reset(): Unit
  def pass(ops: Ops): Unit
  /** Problems found in the last pass's outputs; empty when all are right. */
  def check(): Seq[String]
  /** Per-layer metrics (traced runs only), from the timed passes. */
  def layerMetrics(ops: Ops): Map[String, Double]
}

/** Thrown by [[Ops]] after a failed call: the rest of the pass is skipped
  * and counted as failed, so every pass attempts the same calls. */
final class PassAborted extends RuntimeException

/** Times and counts the calls into graft. A call that throws is counted as
  * attempted and failed and its exception goes to stderr; it is never
  * timed as a success. Samples are kept for the timed passes only. */
final class Ops(trace: Trace) {
  var attempted = 0L
  var failed = 0L
  var timed = false
  private var inPass = 0
  /** op name -> latencies (ms) over the timed passes */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** op name -> counter deltas over the timed passes (traced runs) */
  val deltas = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Counts]]

  def apply[A](name: String)(body: => A): A = {
    attempted += 1
    inPass += 1
    val before = if (timed && trace.enabled) trace.counts() else null
    val t0 = System.nanoTime()
    val r =
      try trace.span(name)(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"perfbench: $name failed")
          e.printStackTrace()
          throw new PassAborted
      }
    val ms = (System.nanoTime() - t0) / 1e6
    if (timed) {
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
      if (before != null)
        deltas.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
          trace.counts().minus(before)
    }
    r
  }

  private[perfbench] def startPass(): Unit = inPass = 0
  private[perfbench] def abortPass(perPass: Int): Unit = {
    val skipped = perPass - inPass
    attempted += skipped
    failed += skipped
  }

  def median(name: String): Double = Stats.median(samples.getOrElse(name, Nil).toSeq)
  /** A typical pass: each call's median latency over the timed passes,
    * summed over the calls one pass makes. A stall that hits one call of
    * one pass moves this less than it moves the median pass. */
  def typicalPassMs(passes: Int): Double =
    samples.values.map(xs => Stats.median(xs.toSeq) * xs.size / passes).sum
  /** Mean counter delta per call, over the named calls. */
  def meanDelta(names: Seq[String])(f: Counts => Double): Double = {
    val ds = names.flatMap(n => deltas.getOrElse(n, Nil))
    if (ds.isEmpty) 0.0 else ds.map(f).sum / ds.size
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Main {
  /** Per-layer metric names and units, in report order; the same list as
    * `per_layer` in BENCHMARK.json. A run reports every one; a layer its
    * workload does not drive reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.bounds_ms" -> "ms", "sources.scan_ms" -> "ms",
    "sources.hooks_ms" -> "ms", "split.slices" -> "count",
    "split.slice_rows_max" -> "rows", "split.slice_rows_min" -> "rows",
    "writer.write_ms" -> "ms", "writer.batches" -> "count",
    "writer.batch_rows_p50" -> "rows", "writer.failed_batches" -> "count",
    "writer.row_replays" -> "count", "writer.dlq_rows" -> "rows",
    "writer.commits" -> "count", "writer.rollbacks" -> "count",
    "lake.write_ms" -> "ms", "lake.upsert_ms" -> "ms", "lake.merge_ms" -> "ms",
    "lake.delete_ms" -> "ms", "lake.change_feed_ms" -> "ms",
    "lake.read_head_ms" -> "ms", "lake.read_version_ms" -> "ms",
    "lake.read_where_ms" -> "ms", "lake.compact_ms" -> "ms",
    "lake.vacuum_ms" -> "ms", "lake.commit_p50_ms" -> "ms",
    "lake.read_p50_ms" -> "ms", "lake.table_mb" -> "MB",
    "lake.fs_read_ops_per_commit" -> "count",
    "lake.fs_read_ops_per_read" -> "count",
    "lake.fs_write_ops_per_commit" -> "count",
    "lake.jobs_per_commit" -> "count", "lake.jobs_per_read" -> "count",
    "lake.files_live" -> "count", "lake.manifest_bytes" -> "bytes",
    "graph.pagerank_ms" -> "ms", "graph.kcore_ms" -> "ms",
    "graph.jobs_per_op" -> "count",
    "graph.stages_per_op" -> "count", "pin.rdds" -> "count", "pin.mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.task_gc_ms" -> "ms",
    "spark.codegen_compiles" -> "count",
    "setup.session_ms" -> "ms", "setup.generate_ms" -> "ms",
    "setup.warm_ms" -> "ms", "setup.wall_s" -> "s", "jvm.gc_ms" -> "ms",
    "pass.wall_s" -> "s", "jvm.jit_cpu_s" -> "s", "jvm.jit_ms" -> "ms",
    "host.steal_pct" -> "%")

  /** Passes run before the clock starts, so the timed passes see warm JIT
    * code and loaded classes; a fixed count keeps set-up work fixed. */
  val WarmPasses: Map[String, Int] =
    Map("etl_jdbc" -> 3, "lake_cdc" -> 1, "graph_iter" -> 3)

  /** One pass's length on the reference box, its untimed reset and check
    * included (README). `--seconds` buys seconds / this many timed passes,
    * a count fixed per workload, so every run times the same pass positions
    * of a JIT that is still warming and attempts exactly the same calls. */
  val NominalPassS: Map[String, Double] =
    Map("etl_jdbc" -> 1.3, "lake_cdc" -> 3.2, "graph_iter" -> 2.2)

  private final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, threads: Int, tree: String, work: String,
      report: String, jvmFlags: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("threads").toInt, get("tree"), get("work"),
      m.getOrElse("report", ""), m.getOrElse("jvm-flags", ""))
  }

  /** The classes must come from the tree the runner hashed. */
  private def checkTree(tree: String): Unit = {
    val in = getClass.getClassLoader.getResourceAsStream("perfbench-tree.txt")
    val built = if (in == null) "" else
      try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    if (built != tree) {
      System.err.println(s"perfbench: classes were built from tree '$built', " +
        s"not from the checked-out tree '$tree'; rebuild first")
      sys.exit(6)
    }
  }

  private def session(a: Args): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[${a.threads}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's default cache of 100 generated classes is smaller than the
      // set one lake_cdc pass plans, so every pass would compile again
      // (~53 Janino compiles a pass) and the JIT would chase new classes
      // for the whole run; spark.codegen_compiles shows what is left.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", s"${a.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    if (a.trace) builder.config("spark.hadoop.fs.file.impl",
      classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A full collection before every pass, untimed: Spark's ContextCleaner
    * drops the shuffle files, broadcasts and cached blocks of the last pass
    * only once a collection finds them unreachable, and under G1 that
    * happened at a different pass in every run (old-generation cleanups
    * made passes creep up and then drop). The pause lets the cleaner work. */
  private def settleHeap(): Unit = { System.gc(); Thread.sleep(100) }

  private def heapLiveMb(): Double = {
    // full collections, with pauses so Spark's ContextCleaner can drop
    // blocks of RDDs the first collection found unreachable
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    val entryNanos = System.nanoTime()
    val entryUptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val a = parse(argv)
    checkTree(a.tree)
    def sinceStart(): Double = entryUptimeS + (System.nanoTime() - entryNanos) / 1e9

    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val trace = new Trace(spark, a.trace)
    val ops = new Ops(trace)
    val wl: Workload = a.workload match {
      case "etl_jdbc" => new EtlJdbc(spark, a.seed, a.work, trace)
      case "lake_cdc" => new LakeCdc(spark, a.seed, a.work, trace)
      case "graph_iter" => new GraphIter(spark, a.seed, a.work, trace)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val problems = mutable.ArrayBuffer.empty[String]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val passCpu, passJit = mutable.ArrayBuffer.empty[Double]
    var passGcMs = 0L // collections inside timed passes, not the forced ones

    def onePass(): Unit = {
      wl.reset()
      settleHeap()
      ops.startPass()
      val (cpu0, jit0) = Host.processCpuS()
      val gc0 = gcMs()
      val p0 = System.nanoTime()
      val ok =
        try { wl.pass(ops); true }
        catch { case _: PassAborted => ops.abortPass(wl.opsPerPass); false }
      val secs = (System.nanoTime() - p0) / 1e9
      val (cpu1, jit1) = Host.processCpuS()
      if (ok) {
        if (ops.timed) {
          passGcMs += gcMs() - gc0
          passTimes += secs
          passJit += jit1 - jit0
          passCpu += cpu1 - cpu0 - (jit1 - jit0)
        }
        problems ++= wl.check()
      }
    }

    val g0 = System.nanoTime()
    trace.span("setup.generate")(wl.setup())
    val generateMs = (System.nanoTime() - g0) / 1e6
    val w0 = System.nanoTime()
    for (_ <- 1 to WarmPasses(a.workload)) trace.span("warm")(onePass())
    val warmMs = (System.nanoTime() - w0) / 1e6

    val setupWallS = sinceStart()
    // set-up in CPU seconds, JIT compiler threads excluded: wall time of
    // the same set-up moved with the host's load far more (README)
    val setupS = { val (cpu, jit) = Host.processCpuS(); cpu - jit }
    ops.timed = true
    trace.timed = true
    val c0 = trace.counts()
    val cpu0 = Host.cpuTimes()
    val timedPasses = math.max(1, math.round(a.seconds / NominalPassS(a.workload)).toInt)
    val l0 = System.nanoTime()
    for (_ <- 1 to timedPasses) trace.span("pass")(onePass())
    val loopS = (System.nanoTime() - l0) / 1e9
    if (passTimes.isEmpty) {
      System.err.println("perfbench: no timed pass succeeded; no result")
      spark.stop()
      sys.exit(7)
    }
    val passes = passTimes.size.toDouble
    val c1 = trace.counts().minus(c0)
    val gcPerPass = passGcMs / passes
    val stealPct = Host.stealPct(cpu0, Host.cpuTimes())
    val layer = if (a.trace) wl.layerMetrics(ops) ++ trace.pinMetrics() else Map.empty[String, Double]
    val heapMb = heapLiveMb()
    val jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

    problems.distinct.foreach(p => System.err.println(s"perfbench: check failed: $p"))
    System.err.println(s"perfbench: timed passes (s): ${passTimes.map(t => f"$t%.3f").mkString(" ")}" +
      f" ($timedPasses passes, $loopS%.1f s with resets and checks)")
    System.err.println(s"perfbench: pass CPU without JIT (s): ${passCpu.map(t => f"$t%.2f").mkString(" ")}; " +
      f"JIT: ${passJit.map(t => f"$t%.2f").mkString(" ")}; steal $stealPct%.1f %%")
    ops.samples.foreach { case (n, xs) =>
      System.err.println(f"perfbench: $n%-14s ms: ${xs.map(x => f"$x%.0f").mkString(" ")}")
    }
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_cpu_s", Stats.median(passCpu.toSeq), "s"),
        ("heap_live_mb", heapMb, "MB"))
      else {
        val common = Map(
          "spark.jobs" -> c1.jobs / passes, "spark.stages" -> c1.stages / passes,
          "spark.tasks" -> c1.tasks / passes,
          "spark.executor_run_s" -> c1.runMs / 1e3 / passes,
          "spark.executor_cpu_s" -> c1.cpuNs / 1e9 / passes,
          "spark.shuffle_read_mb" -> c1.shuffleRead / 1048576.0 / passes,
          "spark.shuffle_write_mb" -> c1.shuffleWrite / 1048576.0 / passes,
          "spark.spill_mb" -> c1.spill / 1048576.0 / passes,
          "spark.task_gc_ms" -> c1.taskGcMs / passes,
          "spark.codegen_compiles" -> c1.codegen / passes,
          "setup.session_ms" -> sessionMs, "setup.generate_ms" -> generateMs,
          "setup.warm_ms" -> warmMs, "setup.wall_s" -> setupWallS,
          "jvm.gc_ms" -> gcPerPass,
          "pass.wall_s" -> ops.typicalPassMs(passTimes.size) / 1e3,
          "jvm.jit_cpu_s" -> Stats.median(passJit.toSeq),
          "jvm.jit_ms" -> jitMs, "host.steal_pct" -> stealPct)
        val all = layer ++ common
        PerLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
      }
    val json = Json.obj(Seq(
      "correct" -> Json.bool(problems.isEmpty),
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    if (a.trace && a.report.nonEmpty) {
      val settings = Json.obj(Seq(
        "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
        "seconds" -> a.seconds.toString, "spark_threads" -> a.threads.toString,
        "shuffle_partitions" -> a.threads.toString,
        "jvm_flags" -> Json.str(a.jvmFlags),
        "warm_passes" -> WarmPasses(a.workload).toString,
        "timed_passes" -> passTimes.size.toString,
        "pass_s" -> Json.arr(passTimes.toSeq.map(Json.num)),
        "pass_cpu_s" -> Json.arr(passCpu.toSeq.map(Json.num)),
        "pass_jit_cpu_s" -> Json.arr(passJit.toSeq.map(Json.num)),
        "ops_ms" -> Json.obj(ops.samples.toSeq.map { case (n, xs) =>
          n -> Json.arr(xs.toSeq.map(Json.num)) }),
        "ops_jobs" -> Json.obj(ops.deltas.toSeq.map { case (n, ds) =>
          n -> Json.num(ds.map(_.jobs).sum.toDouble / ds.size) }),
        "problems" -> Json.arr(problems.distinct.toSeq.map(Json.str))))
      Files.write(Paths.get(a.report), Json.obj(Seq(
        "settings" -> settings, "result" -> json,
        "spans" -> trace.spansJson)).getBytes("UTF-8"))
    }
    spark.stop()
    println(json)
  }
}

/** Minimal JSON text builders for the result line and the trace report. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** CPU counters from /proc (read only): the host's, for the steal share,
  * and this JVM's own. */
object Host {
  private def read(f: java.io.File): String =
    try { val src = scala.io.Source.fromFile(f); try src.mkString finally src.close() }
    catch { case NonFatal(_) => "" }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used (every thread, ended ones too), and the
    * part of them its JIT compiler threads used, read from each thread's
    * /proc schedstat (read only). Neither counts time the hypervisor
    * stole. The runner fixes the compiler thread count, so no compiler
    * thread ends and takes its time with it. */
  def processCpuS(): (Double, Double) = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
    val jitNs = tasks.filter(t => read(new java.io.File(t, "comm")).contains("CompilerThre"))
      .map(t => read(new java.io.File(t, "schedstat")).split(' ').headOption
        .flatMap(_.trim.toLongOption).getOrElse(0L)).sum
    (os.getProcessCpuTime / 1e9, jitNs / 1e9)
  }

  def cpuTimes(): Array[Long] =
    try {
      val line = scala.io.Source.fromFile("/proc/stat")
      try line.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally line.close()
    } catch { case NonFatal(_) => Array.empty }

  /** Share of CPU time stolen by the hypervisor between two readings. */
  def stealPct(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      // user nice system idle iowait irq softirq steal (guest time is
      // already inside user and nice)
      val total = (0 until 8).map(i => b(i) - a(i)).sum
      if (total <= 0) 0.0 else 100.0 * (b(7) - a(7)) / total
    }
}
