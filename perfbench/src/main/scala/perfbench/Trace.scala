package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative listener counters at one instant. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskNs: Long = 0,
    inputBytes: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
    spill: Long = 0, analysisMs: Long = 0, optimizeMs: Long = 0, physicalMs: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskNs - o.taskNs, inputBytes - o.inputBytes, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, analysisMs - o.analysisMs,
    optimizeMs - o.optimizeMs, physicalMs - o.physicalMs)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskNs + o.taskNs, inputBytes + o.inputBytes, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill, analysisMs + o.analysisMs,
    optimizeMs + o.optimizeMs, physicalMs + o.physicalMs)
}

/** Spark listeners feeding the trace: jobs/stages/tasks and task metrics
  * from the scheduler, planning phase times from each QueryExecution's
  * tracker, and streaming progress. Counters only grow; the trace reads
  * them at span boundaries after draining the bus. */
final class Listeners extends SparkListener with QueryExecutionListener {
  private val c = Array.fill(11)(new AtomicLong)
  // per-stage task durations, for the straggler ratio
  private val stageTaskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  val stragglerRatios = mutable.ArrayBuffer[Double]()
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()

  def counts: Counts = Counts(c(0).get, c(1).get, c(2).get, c(3).get, c(4).get,
    c(5).get, c(6).get, c(7).get, c(8).get, c(9).get, c(10).get)

  override def onJobStart(e: SparkListenerJobStart): Unit = c(0).incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    c(1).incrementAndGet()
    val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    val ts = stageTaskMs.synchronized(stageTaskMs.remove(k)).getOrElse(mutable.ArrayBuffer())
    if (ts.size >= 2) {
      val s = ts.sorted
      val med = s(s.size / 2).max(1L)
      stragglerRatios.synchronized(stragglerRatios += s.last.toDouble / med)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.executorRunTime * 1000000L)
      c(4).addAndGet(m.inputMetrics.bytesRead)
      c(5).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(6).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(7).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      stageTaskMs.synchronized(stageTaskMs.getOrElseUpdate(
        (e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) += m.executorRunTime)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    c(8).addAndGet(ms("analysis")); c(9).addAndGet(ms("optimization")); c(10).addAndGet(ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

/** One recorded span: a call into a layer, with the listener counters
  * at its two boundaries. Times are nanoseconds from the trace origin. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    start: Long, end: Long, before: Counts, after: Counts) {
  def seconds: Double = (end - start) / 1e9
  def delta: Counts = after - before
}

/** In-memory span recorder. Disabled, `span` just runs its body; enabled,
  * it drains the listener bus at both boundaries (outside the timed
  * interval) so each span's counter delta covers exactly its own
  * actions. Spans nest; the trace is written once, at the end. */
final class Trace(val spark: SparkSession, val enabled: Boolean, val run: String) {
  private val origin = System.nanoTime()
  val spans = mutable.ArrayBuffer[Span]()
  /** Most storage memory held by persisted blocks at any span boundary. */
  var peakCachedBytes = 0L
  private val stack = mutable.Stack[Int]()
  val listeners: Option[Listeners] =
    if (!enabled) None
    else {
      val l = new Listeners
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      spark.streams.addListener(l.streamListener)
      Some(l)
    }

  def counts(): Counts = listeners.fold(Counts()) { l =>
    PerfbenchBus.drain(spark.sparkContext)
    l.counts
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val before = counts()
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id so children order after their parent
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        spans(id) = Span(id, name, parent, run, t0 - origin, t1 - origin, before, counts())
        peakCachedBytes = math.max(peakCachedBytes, spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
      }
    }

  /** Duration minus the part covered by the span's children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(k => k != null && k.parent == s.id)
      .map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L; var until = s.start
    kids.foreach { case (a, b) =>
      val lo = math.max(a, until)
      if (b > lo) { covered += b - lo; until = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  def named(name: String): Seq[Span] = spans.toSeq.filter(s => s != null && s.name == name)
  def total(name: String): Double = named(name).map(_.seconds).sum
  def deltas(name: String): Counts = named(name).map(_.delta).foldLeft(Counts())(_ + _)

  def detach(): Unit = listeners.foreach { l =>
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
    spark.streams.removeListener(l.streamListener)
  }

  def toJson: java.util.List[java.util.Map[String, Any]] = {
    val out = new java.util.ArrayList[java.util.Map[String, Any]]()
    spans.filter(_ != null).foreach { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("name", s.name); m.put("parent", s.parent); m.put("run", s.run)
      m.put("start_ms", s.start / 1e6); m.put("end_ms", s.end / 1e6)
      m.put("self_s", selfSeconds(s))
      val d = s.delta
      m.put("jobs", d.jobs); m.put("stages", d.stages); m.put("tasks", d.tasks)
      m.put("task_s", d.taskNs / 1e9); m.put("input_bytes", d.inputBytes)
      m.put("shuffle_write_bytes", d.shuffleWrite); m.put("shuffle_read_bytes", d.shuffleRead)
      out.add(m)
    }
    out
  }
}
