package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `EventStreams.startQualityGate` as one registry line: the seeded event
  * files under `staged` are all in the source directory when the query
  * starts, each is one micro-batch (the source reads one file per
  * trigger), and the line ends when `processAllAvailable` returns. The
  * gate is overhead-bound like the queries: a projection and two small
  * parquet writes per micro-batch. */
final class StreamLine(staged: File, work: String) {
  val name = "stream:quality_gate"
  private val files: Seq[File] =
    Option(staged.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
  private var runs = 0
  private var dir: Option[String] = None

  def run(spark: SparkSession): Unit = {
    dir.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new File(d)))
    runs += 1
    val d = s"$work/stream$runs"
    val src = new File(s"$d/src"); src.mkdirs()
    files.foreach(f => Files.copy(f.toPath, new File(src, f.getName).toPath))
    dir = Some(d)
    val q = EventStreams.startQualityGate(EventStreams.readEventStream(spark, src.getPath),
      s"$d/good", s"$d/quarantine", Some(s"$d/ckpt"))
    try q.processAllAvailable() finally q.stop()
  }

  /** For each file of a committed micro-batch: (batch id, commit time in
    * epoch ms). The file source's log maps files to batch ids; a batch's
    * commit file is written when the batch commits. */
  private def committed(): Map[String, (Long, Long)] = {
    val ckpt = s"${dir.get}/ckpt"
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val fileBatch = Option(new File(s"$ckpt/sources/0").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith(".")).flatMap { f =>
        Files.readAllLines(f.toPath).asScala.filter(_.startsWith("{")).map { l =>
          val n = om.readTree(l)
          new File(new java.net.URI(n.path("path").asText()).getPath).getName -> n.path("batchId").asLong()
        }
      }.toMap
    val commits = Option(new File(s"$ckpt/commits").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit)).map(f => f.getName.toLong -> f.lastModified()).toMap
    fileBatch.collect { case (n, b) if commits.contains(b) => n -> (b, commits(b)) }
  }

  private def dirBytes(path: String): Long =
    org.apache.commons.io.FileUtils.listFiles(new File(path), null, true).asScala
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_")).map(_.length).sum

  def layers(trace: Trace, res: Result): Unit = {
    val progress = trace.listeners.get.progress.map(_.progress).filter(_.numInputRows > 0).toSeq
    def dur(k: String) = Stats.median(progress.map(p => p.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)))
    val c = committed()
    val rowsPerFile = files.headOption.map(f => trace.spark.read.parquet(f.getPath).count()).getOrElse(0L)
    val m = res.metrics
    m("stream.trigger_ms") = dur("triggerExecution")
    m("stream.get_batch_ms") = dur("getBatch")
    m("stream.add_batch_ms") = dur("addBatch")
    m("stream.wal_commit_ms") = dur("walCommit")
    m("stream.rows_per_batch") =
      Stats.median(c.values.groupBy(_._1).values.map(_.size * rowsPerFile.toDouble).toSeq)
    // files present but not yet committed when a micro-batch commits
    m("stream.backlog_files") = c.values.map { case (_, t) => c.values.count(_._2 > t) }.maxOption.getOrElse(0).toDouble
    m("stream.bytes_written") = (dirBytes(s"${dir.get}/good") + dirBytes(s"${dir.get}/quarantine")).toDouble
  }

  /** Every file committed, and good and quarantine rows equal to a batch
    * run of the same gate rules over the same files. */
  def check(spark: SparkSession, res: Result, corrupt: Boolean): Unit = {
    val d = dir.get
    res.attempted += 1
    val missing = files.size - committed().size
    if (missing > 0) res.fail(s"$name: $missing files not committed")
    val tagged = EventStreams.withViolations(
      graft.T.normalized(spark, "events", spark.read.parquet(s"$d/src")))
    val good = tagged.filter(size(col("violations")) === 0).drop("violations")
    val quar = tagged.filter(size(col("violations")) > 0)
      .withColumn("rule", explode(col("violations"))).drop("violations")
    Seq("good" -> good, "quarantine" -> quar).foreach { case (kind, exp) =>
      res.attempted += 1
      val sink = spark.read.parquet(s"$d/$kind/b*")
      val got: DataFrame = if (corrupt && kind == "good") sink.limit((sink.count() - 1).toInt) else sink
      val cols = exp.columns.map(col).toSeq
      val diff = exp.select(cols: _*).exceptAll(got.select(cols: _*)).count() +
        got.select(cols: _*).exceptAll(exp.select(cols: _*)).count()
      if (diff > 0) res.fail(s"$name: $kind sink differs from the batch gate by $diff rows")
    }
  }
}
