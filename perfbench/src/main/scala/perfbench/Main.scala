package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** What one run measured: metric values by name, the operation tally,
  * why anything failed, context fields, and payloads for the checks the
  * Python side finishes (DuckDB oracles). */
final class Result {
  val metrics = mutable.LinkedHashMap[String, Double]()
  val context = mutable.LinkedHashMap[String, Any]()
  val checks = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def fail(cause: String, n: Long = 1): Unit = {
    failed += n
    if (failures.size < 20) failures += cause.take(300)
  }
}

/** A workload: how it warms a fresh session (the tail of set-up), how it
  * runs one round (the unit the benchmark repeats; index -1 is the
  * unmeasured warm-up round), and how it checks and reports once all
  * rounds are done. */
trait Workload {
  def warm(spark: SparkSession): Unit
  /** Release what `warm` acquired: after a set-up that is thrown away,
    * and at the end of the run. */
  def release(): Unit = ()
  def round(spark: SparkSession, trace: Trace, res: Result, index: Int): Unit
  /** End-to-end metrics from the untraced rounds. */
  def endToEnd(res: Result): Unit
  /** Per-layer metrics of the traced round (workload-owned layers). */
  def layers(trace: Trace, res: Result): Unit
  def check(spark: SparkSession, res: Result, corrupt: Boolean): Unit
  /** Forget the samples of the rounds so far (after the warm-up round). */
  def reset(): Unit
}

object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of the samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** SessionMemo's audit logs, accumulated: workloads drain the build log
  * per query (as graft.Bench does), and the traced round's totals must
  * still see every build and frame access. */
object MemoLog {
  private val builds = mutable.ArrayBuffer[(String, Double)]()
  def drainBuilds(): Seq[(String, Double)] = {
    val b = graft.PerfbenchBridge.drainMemoBuilds()
    builds ++= b
    b
  }
  def reset(): Unit = { drainBuilds(); builds.clear(); graft.PerfbenchBridge.drainFrameAccesses() }
  /** Builds and frame accesses since the last reset. */
  def drain(): (Seq[(String, Double)], Seq[String]) = {
    drainBuilds()
    val out = builds.toSeq
    builds.clear()
    (out, graft.PerfbenchBridge.drainFrameAccesses())
  }
}

object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, cores: String, corrupt: Boolean)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("data"), req("out"), kv.getOrElse("cores", "*"), kv.get("corrupt").contains("1"))
  }

  /** Core count from a master-style spec: a number, or `*` (or anything
    * unparsable) for every available processor. */
  def coreCount(spec: String): Int =
    scala.util.Try(spec.trim.toInt).toOption.filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", graft.T.warehouseDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.T.quietBoundedWindowWarnings()
    spark
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Exits explicitly: a failed run must not hang on a live non-daemon
    * thread (the stub's server), and the caller reads the exit code. */
  def main(args: Array[String]): Unit = {
    try run(args)
    catch { case t: Throwable => t.printStackTrace(); sys.exit(1) }
    sys.exit(0)
  }

  private def run(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = coreCount(o.cores)
    val res = new Result
    val wl: Workload = o.workload match {
      case "registry" => new Registry(o.data, o.seed)
      case "corpus_pipeline" => new CorpusPipeline(o.data, cores)
      case w => sys.error(s"unknown workload $w")
    }
    res.context("workload") = o.workload
    res.context("seed") = o.seed
    res.context("cores") = cores
    res.context("master") = s"local[$cores]"
    res.context("driver_max_heap_mb") = Runtime.getRuntime.maxMemory / (1 << 20)
    res.context("calib_pre") = Calibration.cpu(cores)
    res.context("calib_io_pre") = Calibration.io()

    // Set-up, five times: session build + the workload's warm-up. The
    // first four sessions are stopped; the last runs the workload. The
    // first set-up also pays JVM class loading and one-time object
    // initialisation, so it is the slowest and the median is the
    // second-slowest warm re-setup; the cold one is a context field.
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until 5) {
      val t0 = System.nanoTime()
      spark = session(cores)
      wl.warm(spark)
      setups += (System.nanoTime() - t0) / 1e9
      if (i < 4) { wl.release(); spark.stop() }
    }
    res.metrics("setup_s") = Stats.median(setups.toSeq)
    res.context("setup_samples_s") = setups.asJava
    res.context("setup_cold_s") = setups.head
    res.context("storage_memory_mb") =
      spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / (1 << 20)

    try {
      // JIT, codegen, HTTP client and file-listing caches warm in the
      // unmeasured round: a cold round costs 2-3x a warm one and varies most.
      val w0 = System.nanoTime()
      wl.round(spark, new Trace(spark, false, "warm"), res, -1)
      res.context("warm_round_s") = (System.nanoTime() - w0) / 1e9
      wl.reset()
      if (!o.trace) {
        val t0 = System.nanoTime()
        val roundSeconds = mutable.ArrayBuffer[Double]()
        def rounds = roundSeconds.size
        def elapsed = (System.nanoTime() - t0) / 1e9
        // whole rounds only: start another until `seconds` have passed
        while (rounds == 0 || elapsed < o.seconds) {
          val r0 = System.nanoTime()
          wl.round(spark, new Trace(spark, false, s"r$rounds"), res, rounds)
          roundSeconds += (System.nanoTime() - r0) / 1e9
        }
        res.context("round_s") = roundSeconds.asJava
        res.context("measured_s") = elapsed
        wl.endToEnd(res)
      } else {
        // untraced, traced, untraced: the traced round's wall time minus
        // the mean of the two rounds around it is the tracing overhead
        def untracedRound(index: Int): Double = {
          val u0 = System.nanoTime()
          wl.round(spark, new Trace(spark, false, s"untraced$index"), res, index)
          (System.nanoTime() - u0) / 1e9
        }
        val before = untracedRound(0)
        MemoLog.reset()
        val trace = new Trace(spark, true, "traced")
        heapPools.foreach(_.resetPeakUsage())
        val gc0 = gcSeconds()
        val c0 = trace.counts()
        val t0 = System.nanoTime()
        trace.span("round")(wl.round(spark, trace, res, 1))
        val wall = (System.nanoTime() - t0) / 1e9
        val c = trace.counts() - c0
        val gc = gcSeconds() - gc0
        val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
        val (builds, accesses) = MemoLog.drain()
        val l = trace.listeners.get
        val m = res.metrics
        trace.detach()
        val untraced = (before + untracedRound(2)) / 2
        m("plan.analysis_s") = c.analysisMs / 1e3
        m("plan.optimize_s") = c.optimizeMs / 1e3
        m("plan.physical_s") = c.physicalMs / 1e3
        m("exec.jobs") = c.jobs
        m("exec.stages") = c.stages
        m("exec.tasks") = c.tasks
        m("exec.tasks_per_job") = if (c.jobs > 0) c.tasks.toDouble / c.jobs else 0.0
        m("exec.task_s") = c.taskNs / 1e9
        m("exec.core_util") = c.taskNs / 1e9 / (wall * cores)
        m("exec.task_max_over_median") = Stats.median(l.stragglerRatios.toSeq)
        m("exec.input_bytes") = c.inputBytes
        m("exec.shuffle_write_bytes") = c.shuffleWrite
        m("exec.shuffle_read_bytes") = c.shuffleRead
        m("exec.spill_bytes") = c.spill
        m("memo.builds") = builds.size
        m("memo.build_s") = builds.map(_._2).sum
        // value builds (codebooks, constants) are not frame accesses
        val frameBuilds = builds.count(b => accesses.contains(b._1))
        m("memo.hit_ratio") = if (accesses.isEmpty) 0.0 else 1.0 - frameBuilds.toDouble / accesses.size
        m("jvm.gc_s") = gc
        m("jvm.heap_peak_mb") = heapPeak
        m("mem.peak_cached_mb") = trace.peakCachedBytes / 1048576.0
        m("trace.overhead_s") = wall - untraced
        wl.layers(trace, res)
        res.context("untraced_round_s") = untraced
        res.context("traced_round_s") = wall
        writeTrace(o, trace)
        printTable(trace, res)
      }
      val k0 = System.nanoTime()
      wl.check(spark, res, o.corrupt)
      res.context("check_s") = (System.nanoTime() - k0) / 1e9
    } finally {
      wl.release()
      graft.PerfbenchBridge.dropScratch(spark)
      spark.stop()
    }
    res.metrics("failed_frac") = if (res.attempted > 0) res.failed.toDouble / res.attempted else 0.0
    res.context("calib_post") = Calibration.cpu(cores)
    res.context("calib_io_post") = Calibration.io()
    write(o.out, res)
  }

  private def writeTrace(o: Opts, trace: Trace): Unit = {
    val f = new java.io.File(o.data, s"trace-${o.workload}-${o.seed}.json")
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(f, trace.toJson)
  }

  /** Per-layer table: each top-level layer span's total and self time,
    * then every metric of the traced round. */
  private def printTable(trace: Trace, res: Result): Unit = {
    val byName = trace.spans.filter(_ != null).groupBy(_.name).toSeq.sortBy(_._1)
    println(f"${"span"}%-16s ${"calls"}%6s ${"total_s"}%9s ${"self_s"}%9s ${"jobs"}%6s ${"tasks"}%7s")
    byName.foreach { case (n, ss) =>
      val d = ss.map(_.delta).foldLeft(Counts())(_ + _)
      println(f"$n%-16s ${ss.size}%6d ${ss.map(_.seconds).sum}%9.3f ${ss.map(trace.selfSeconds).sum}%9.3f ${d.jobs}%6d ${d.tasks}%7d")
    }
    res.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  $k%-28s $v%.6g") }
  }

  private def write(path: String, res: Result): Unit = {
    val root = new java.util.LinkedHashMap[String, Any]()
    root.put("attempted", res.attempted)
    root.put("failed", res.failed)
    root.put("failures", res.failures.asJava)
    root.put("metrics", res.metrics.map { case (k, v) => k -> Double.box(v) }.asJava)
    root.put("context", res.context.asJava)
    root.put("checks", res.checks.asJava)
    new ObjectMapper().writeValue(new java.io.File(path), root)
  }
}
