package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.parity._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** One client-side De-bias call attempt: the batch's first value, start
  * and end (nanoTime), and whether it returned tags. */
final case class Call(key: String, start: Long, end: Long, ok: Boolean)

/** Calls recorded by [[TimedAnnotator]]. Tasks run in the driver JVM
  * (local master), so a JVM-wide queue sees every call. */
object CallLog {
  val calls = new ConcurrentLinkedQueue[Call]()
}

/** Pass-through that times each attempt of the production HttpAnnotator:
  * request encoding, the JDK HTTP round trip and response parsing. */
final class TimedAnnotator(inner: Annotator) extends Annotator {
  override def annotate(language: String, values: Seq[String]): Seq[Seq[Tag]] = {
    val t0 = System.nanoTime()
    var ok = false
    try { val r = inner.annotate(language, values); ok = true; r }
    finally CallLog.calls.add(Call(values.head, t0, System.nanoTime(), ok))
  }
}

/** The reference's enrichment step, a phase of every [[CorpusPipeline]]
  * round: `Annotate.annotateBatched` with the production
  * `RetryingAnnotator` (default 2^attempt s backoff) over `HttpAnnotator`
  * and `JdkHttpTransport`, against an in-process loopback stub with a
  * fixed service delay that rejects the first attempt of one seeded batch
  * per task. Latency-bound: cores idle while calls and backoff run. A
  * pass covers every document of the enrichment sample under `data`. */
final class AnnotateHttp(data: String, cores: Int) {
  val delayMs = 100L
  val batchSize = 16
  private var stub: Stub = _
  private var docs: Seq[Doc] = Nil
  private val failKeys: Set[String] = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$data/fail_keys.json"))
    (0 until n.size()).map(i => n.get(i).asText()).toSet
  }
  private var lastCalls: Seq[Call] = Nil
  private var lastClientMs: Seq[Double] = Nil
  private var lastMetrics: AnnotatorMetrics = _
  private var lastRows: Array[AnnotatedDoc] = Array.empty
  private var serverBusyS = 0.0
  private var serverInflightMax = 0L

  def warm(spark: SparkSession): Unit = {
    import spark.implicits._
    stub = new Stub(cores, delayMs, failKeys)
    docs = spark.read.parquet(s"$data/docs.parquet").as[Doc].collect().toSeq
  }

  def release(): Unit = stub.stop()

  /** The docs as `cores` contiguous slices (a local relation is split
    * evenly in order), so every task holds whole single-language batches. */
  private def dataset(spark: SparkSession): Dataset[Doc] = {
    import spark.implicits._
    spark.createDataset(docs)
  }

  /** One pass over the documents; returns its seconds. */
  def pass(spark: SparkSession, trace: Trace, res: Result, index: Int): Double = {
    stub.reset()
    CallLog.calls.clear()
    val metrics = AnnotatorMetrics(spark, s"annotate.r$index")
    val annotator = new RetryingAnnotator(
      new TimedAnnotator(new HttpAnnotator(stub.url, transport = new JdkHttpTransport())))
    val t0 = System.nanoTime()
    val out = trace.span("annotate") {
      Annotate.annotateBatched(dataset(spark), annotator, metrics, batchSize).collect()
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val calls = CallLog.calls.asScala.toSeq
    // client time of each attempt minus the stub's handling of it (its
    // fixed delay): what the engine's call path costs. A batch's attempts
    // are sequential, so the k-th client and server records of a key match.
    val served = stub.served.asScala.toSeq.groupBy(_._1).map { case (k, s) => k -> s.map(_._2) }
    lastClientMs = calls.groupBy(_.key).toSeq.flatMap { case (k, cs) =>
      cs.sortBy(_.start).lazyZip(served.getOrElse(k, Nil))
        .map((c, serverNs) => (c.end - c.start - serverNs) / 1e6)
    }
    val batches = metrics.batchesOk.value + metrics.batchesSkipped.value
    res.attempted += batches
    if (metrics.batchesSkipped.value > 0)
      res.fail(s"round $index: ${metrics.batchesSkipped.value} annotator batches skipped",
        metrics.batchesSkipped.value)
    lastCalls = calls; lastMetrics = metrics; lastRows = out
    serverBusyS = stub.busyNs.get / 1e9; serverInflightMax = stub.inflightMax.get
    res.context("stub_calls_last_round") = stub.calls.get
    res.context("annotate_docs") = docs.size
    res.context("stub_delay_ms") = delayMs
    seconds
  }

  def layers(trace: Trace, res: Result): Unit = {
    val m = res.metrics
    val ok = lastCalls.count(_.ok)
    val ms = lastCalls.map(c => (c.end - c.start) / 1e6)
    m("annotate.calls") = (lastMetrics.batchesOk.value + lastMetrics.batchesSkipped.value).toDouble
    m("annotate.attempts") = lastCalls.size
    m("annotate.useful_ratio") = if (lastCalls.isEmpty) 0.0 else ok.toDouble / lastCalls.size
    m("annotate.skipped") = lastMetrics.batchesSkipped.value.toDouble
    m("annotate.call_p50_ms") = Stats.quantile(ms, 0.5)
    m("annotate.call_p90_ms") = Stats.quantile(ms, 0.9)
    m("annotate.client_p50_ms") = Stats.median(lastClientMs)
    m("annotate.inflight_max") = serverInflightMax.toDouble
    // backoff: gap between a failed attempt's end and the retry's start
    m("annotate.backoff_s") = lastCalls.groupBy(_.key).values.map { cs =>
      cs.sortBy(_.start).sliding(2).collect { case Seq(a, b) if !a.ok => (b.start - a.end) / 1e9 }.sum
    }.sum
    m("annotate.server_busy_s") = serverBusyS
  }

  /** The batched tags must equal the Column path on the same docs. */
  def check(spark: SparkSession, res: Result, corrupt: Boolean): Unit = {
    val expected = Annotate.annotated(dataset(spark).toDF())
      .select(col("doc_id"), col("tags")).collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(t => Tag(t.getString(0), t.getString(1), t.getString(2)))).toMap
    val got = lastRows.map(d => d.doc_id -> d.tags).toMap
    val gotTags = if (corrupt) got.updated(got.keys.min, Seq(Tag("x", "x", "x"))) else got
    res.attempted += 1
    val wrong = expected.count { case (id, tags) => gotTags.get(id).exists(_ != tags) }
    val missing = expected.keySet.diff(gotTags.keySet).size
    if (wrong > 0 || gotTags.size != expected.size)
      res.fail(s"batched tags differ from the Column path: $wrong wrong, $missing missing docs")
  }
}
