package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, probe: Probe, trace: Trace,
    root: Path, benchDir: Path, work: Path, seed: Long, nproc: Int,
    stamp: String)

/** One iteration of a workload's closed loop: its wall and process-CPU
  * seconds, the Spark jobs it ran, and the workload's own named parts.
  */
final case class Iter(wallS: Double, cpuS: Double, traced: Boolean,
    jobs: Seq[JobRec], parts: Map[String, Double])

final case class Metric(name: String, value: Double, unit: String)

/** A workload: set-up (timed separately, repeated), a closed loop of
  * iterations driven by [[Main]], and the checks on their outputs. Every
  * operation it attempts is counted in `attempted`; a failed one in
  * `failed`, and a failed iteration is never timed.
  */
abstract class Workload(val ctx: Ctx) {
  var attempted = 0L
  var failed = 0L

  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
    ok
  }

  /** The layers this workload calls, beside [[Catalog.common]]: a traced
    * run must measure every per-layer metric of these.
    */
  val layers: Set[String]
  /** Builds the inputs; [[Main]] calls it several times and reports the
    * median time.
    */
  def setup(): Unit
  /** Untimed: reference outputs the iterations are checked against. */
  def prepare(): Unit = ()
  /** Untimed housekeeping before each iteration. */
  def reset(): Unit = ()
  /** One verified unit of work; None when it failed. */
  def iterate(): Option[Map[String, Double]]
  /** Untimed, checked iterations before the timed loop: the JIT keeps
    * speeding iterations up for tens of seconds, and timing starts once that
    * has mostly settled.
    */
  def warmup(): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < 10.0) {
      reset()
      iterate()
    }
  }
  /** Fewest timed iterations a run reports medians over. */
  val minIters = 3
  /** Untimed checks after the loop. */
  def finish(): Unit = ()
  /** The workload's own end-to-end metrics (beside the common ones). */
  def endToEnd(iters: Seq[Iter]): Seq[Metric]
  /** Untimed single-layer probes of the traced run, then per-layer metrics
    * from its traced iterations.
    */
  def perLayer(traced: Seq[Iter]): Seq[Metric]
}

/** Runs one workload and prints one JSON result line.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --root <checkout> --bench <benchmark dir> --stamp <sources hash>`
  */
object Main {
  /** Timed set-ups, after one untimed one that loads and compiles the
    * set-up code; `setup_s` is their median.
    */
  val SetupReps = 5
  /** Wall budget of the whole JVM; the loop stops before it. */
  val BudgetS = 140.0

  private val started = System.nanoTime()
  private def sinceStart: Double = (System.nanoTime() - started) / 1e9

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    // exit explicitly either way: a failed run must not linger on Spark's
    // threads, and prints no result line
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
    System.exit(0)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val traceMode = opt("--trace") == "1"
    val root = Paths.get(opt("--root")).toAbsolutePath.normalize
    val benchDir = Paths.get(opt("--bench")).toAbsolutePath.normalize
    val stamp = opt("--stamp")
    val work = root.resolve(".bench_build").resolve("work").resolve(workload)
    rmTree(work)
    Files.createDirectories(work)

    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = new Probe(spark.sparkContext)
    spark.sparkContext.addSparkListener(probe)
    val trace = new Trace(spark.sparkContext)
    val ctx = Ctx(spark, probe, trace, root, benchDir, work, seed, nproc, stamp)
    val w: Workload = workload match {
      case "filter_resume" => new FilterResume(ctx)
      case "dedup_skew" => new DedupSkew(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val t0 = sinceStart
    val setupS = (0 to SetupReps).map { _ =>
      System.gc()
      time(w.setup())._2
    }.tail
    System.err.println(s"[perfbench] setup_s ${setupS.mkString(" ")}")
    val t1 = sinceStart
    w.prepare()
    w.warmup()

    // closed loop, one client: the next iteration starts when the previous
    // one has finished. The traced run interleaves traced and untraced
    // iterations so the tracing overhead is measured under the same load.
    val iters = mutable.ArrayBuffer.empty[Iter]
    val loop0 = System.nanoTime()
    val t2 = sinceStart
    var k = 0
    def done: Boolean = {
      val el = (System.nanoTime() - loop0) / 1e9
      val (tr, un) = iters.partition(_.traced)
      (el >= seconds && iters.size >= w.minIters &&
        (!traceMode || (tr.size >= 2 && un.size >= 2))) ||
        (k > 0 && sinceStart > BudgetS)
    }
    while (!done) {
      // traced, untraced, untraced, traced, ...: iterations still speed up
      // a little as the run goes on, and this order gives both kinds the
      // same share of early ones
      val traced = traceMode && (k % 4 == 0 || k % 4 == 3)
      w.reset()
      trace.enabled = traced
      val from = probe.mark()
      val c0 = cpuS
      val (parts, wall) = time(trace.span("iteration")(w.iterate()))
      val cpu = cpuS - c0
      trace.enabled = false
      val jobs = probe.jobsBetween(from, probe.mark())
      parts.foreach(p => iters += Iter(wall, cpu, traced, jobs, p))
      System.err.println(f"[perfbench] iteration $k%d wall $wall%.3f s " +
        f"cpu $cpu%.3f s${if (traced) " (traced)" else ""}" +
        (if (parts.isEmpty) " FAILED" else ""))
      k += 1
    }
    val t3 = sinceStart
    w.finish()
    System.err.println(f"[perfbench] phases (s): start $t0%.1f setup ${t1 - t0}%.1f " +
      f"prepare+warm-up ${t2 - t1}%.1f loop ${t3 - t2}%.1f finish ${sinceStart - t3}%.1f")
    val metrics =
      if (!traceMode) {
        val plain = iters.toSeq
        Catalog.fill(Catalog.endToEnd, Seq(
          Metric("setup_s", Stats.median(setupS), "s"),
          Metric("wall_s", Stats.median(plain.map(_.wallS)), "s")) ++
          w.endToEnd(plain),
          required = _ => true)
      } else {
        val (tr, un) = iters.toSeq.partition(_.traced)
        // a failed operation is not timed, so a failed run (reported as not
        // correct) may lack some of its layers' metrics
        val layers = { trace.enabled = true; try w.perLayer(tr) finally trace.enabled = false }
        val sp = tr.map(i => probe.totals(i.jobs))
        def med(f: SparkTotals => Double) = Stats.median(sp.map(f))
        val jobMs = tr.flatMap(_.jobs.map(_.ms))
        trace.write(root.resolve(".bench_build").resolve("traces")
          .resolve(s"$workload-seed$seed.json"), probe.jobsBetween(0, Int.MaxValue))
        Catalog.fill(Catalog.perLayer, layers ++ Seq(
          Metric("spark.jobs", med(_.jobs.toDouble), "count"),
          Metric("spark.tasks", med(_.tasks.toDouble), "count"),
          Metric("spark.executor_run_s", med(_.runS), "s"),
          Metric("spark.executor_cpu_s", med(_.cpuS), "s"),
          Metric("spark.gc_s", med(_.gcS), "s"),
          Metric("spark.shuffle_read_bytes", med(_.shuffleRead.toDouble), "bytes"),
          Metric("spark.shuffle_write_bytes", med(_.shuffleWrite.toDouble), "bytes"),
          Metric("spark.spill_bytes", med(_.spill.toDouble), "bytes"),
          Metric("spark.task_skew", med(_.taskSkew), "ratio"),
          Metric("spark.task_failures", med(_.failures.toDouble), "count"),
          Metric("spark.job_p50_ms", Stats.quantile(jobMs, 0.5), "ms"),
          Metric("spark.job_p90_ms", Stats.quantile(jobMs, 0.9), "ms"),
          Metric("trace.wall_s", Stats.median(tr.map(_.wallS)), "s"),
          Metric("trace.overhead_s",
            Stats.median(tr.map(_.wallS)) - Stats.median(un.map(_.wallS)), "s"),
          Metric("run.cpu_s", Stats.median(tr.map(_.cpuS)), "s"),
          Metric("run.peak_rss_mb", peakRssMb, "MB"),
          Metric("run.ops_failed_frac",
            w.failed.toDouble / math.max(1L, w.attempted), "fraction")),
          required = n => w.failed == 0 &&
            (w.layers ++ Catalog.common).contains(Catalog.layerOf(n)))
      }

    val body = metrics.map(m =>
      s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}")
    val line = s"""{"correct": ${w.failed == 0 && w.attempted > 0}, """ +
      s""""attempted": ${math.max(1L, w.attempted)}, "failed": ${w.failed}, """ +
      body.mkString("\"metrics\": {", ", ", "}}")
    spark.stop()
    rmTree(work)
    println(line)
    System.out.flush()
  }
}
