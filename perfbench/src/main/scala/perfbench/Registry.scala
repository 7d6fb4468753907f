package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftQuery, SessionMemo}
import org.apache.spark.sql.SparkSession

/** Registry workload: a named subset of `graft.Registry.all` plus the
  * streaming quality gate ([[StreamLine]]), run in shuffled order into
  * the noop sink, with `SessionMemo.clear` before each pass. A line
  * is a query (its wall time minus the memo builds it triggered), a
  * `memo:<key>` build, as in graft.Bench, or the stream gate.
  * Overhead-bound: many small jobs on ~sf0.001 tables. The first
  * warm-up pass writes every oracle-paired query's result as parquet, for
  * the DuckDB check, instead of to the noop sink.
  *
  * The whole registry takes about 85 s per warm pass on 4 cores, too long
  * for one benchmark run, so the subset keeps what later work targets at
  * a cost that fits: serial single-task work (`q_approx_quantile_audit`),
  * a memo build (`llm_e4_unigram_logprob`), and ten queries of well under
  * a task-second each, the per-job floor the registry is bound by (they
  * also keep the line median among many similar lines). Left out: the
  * unigram Viterbi chain (`llm_e4_unigram_encode`, about 8 s per pass with
  * its memo) and the query with the most jobs (`q_constraint_audit`, 19
  * jobs and 2-3 s per pass): a third of a pass, it left room for only two
  * measured passes per run. */
final class Registry(data: String, seed: Long) extends Workload {
  private val dir = s"$data/tables"
  val subset: Seq[GraftQuery] = Seq(
    "q_approx_quantile_audit", "llm_e4_unigram_logprob",
    "q_semi_join", "q_anti_join", "q_global_topk", "q_scalar_string_funcs",
    "q_array_functions", "q_hof_array_audit", "parity_a4_language_list",
    "parity_p3_first_comma_split", "llm_e1_exact_dedup", "e5_quality_gate_audit")
    .map(graft.Registry.byName)
  private val stream = new StreamLine(new java.io.File(s"$data/stream"), data)
  private val lines = mutable.ArrayBuffer[Double]()
  private val perLine = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val passes = mutable.ArrayBuffer[Double]()
  private val passP50 = mutable.ArrayBuffer[Double]()
  // The pass orders are the same in every run, not drawn from the seed:
  // the order alone moves every pass of a run by 10-15%, so seeded orders
  // made runs of the same code differ. The seed makes the stream gate's
  // events and picks the result the self-check corrupts.
  private val order = new scala.util.Random(42)
  private val verifyDir = s"$data/verify"
  private val paired = subset.filter(q => q.oracle.isDefined || q.oracleGen.isDefined)

  def warm(spark: SparkSession): Unit =
    spark.read.parquet(s"$dir/lineitem.parquet").write.format("noop").mode("overwrite").save()

  /** The warm-up round is two passes: the first, cold one writes the
    * oracle dumps; the second is one more pass as measured ones run, since
    * the first measured pass after a single warm-up pass was still 10-30%
    * slower than the next ones and varied most. */
  def round(spark: SparkSession, trace: Trace, res: Result, index: Int): Unit =
    if (index < 0) { pass(spark, trace, res, dump = true); pass(spark, trace, res, dump = false) }
    else pass(spark, trace, res, dump = false)

  private def pass(spark: SparkSession, trace: Trace, res: Result, dump: Boolean): Unit = {
    SessionMemo.clear(spark)
    MemoLog.drainBuilds()
    val p0 = System.nanoTime()
    val n0 = lines.size
    order.shuffle(subset.map(Some(_)) :+ None).foreach { q =>
      res.attempted += 1
      val name = q.fold(stream.name)(_.name)
      val t0 = System.nanoTime()
      try q match {
        case Some(q) if dump && paired.contains(q) =>
          q.run(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/${q.name}")
        case Some(q) =>
          val df = trace.span("construct")(q.run(spark, dir))
          trace.span("exec")(df.write.format("noop").mode("overwrite").save())
        case None => trace.span("stream")(stream.run(spark))
      } catch { case e: Throwable => res.fail(s"$name: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      val builds = MemoLog.drainBuilds()
      def add(line: String, s: Double): Unit = {
        lines += s
        perLine.getOrElseUpdate(line, mutable.ArrayBuffer[Double]()) += s
      }
      builds.foreach { case (k, s) => add(s"memo:$k", s) }
      add(name, math.max(wall - builds.map(_._2).sum, 0.0))
    }
    passes += (System.nanoTime() - p0) / 1e9
    passP50 += Stats.median(lines.drop(n0).toSeq)
  }

  def reset(): Unit = { lines.clear(); perLine.clear(); passes.clear(); passP50.clear() }

  def endToEnd(res: Result): Unit = {
    res.metrics("wall_s") = Stats.median(passes.toSeq)
    res.metrics("op_p50_s") = Stats.quantile(lines.toSeq, 0.5)
    res.metrics("op_p90_s") = Stats.quantile(lines.toSeq, 0.9)
    res.context("op") = "registry line (query, memo build or stream gate)"
    res.context("op_samples") = lines.size
    res.context("pass_p50_s") = passP50.asJava
    res.context("line_s") = perLine.map { case (k, v) => k -> v.asJava }.asJava
  }

  def layers(trace: Trace, res: Result): Unit = {
    res.metrics("construct.s") = trace.total("construct")
    res.metrics("construct.jobs") = trace.deltas("construct").jobs.toDouble
    stream.layers(trace, res)
  }

  /** The stream gate's sinks are checked against a batch run of its
    * rules; the first warm-up pass's query results go to the Python side with
    * their oracle SQL, to be compared with DuckDB by tools/check.py's
    * rule. */
  def check(spark: SparkSession, res: Result, corrupt: Boolean): Unit = {
    stream.check(spark, res, corrupt)
    if (corrupt) { // one extra row in a seeded one of the non-empty results
      val dumps = paired.map(q => s"$verifyDir/${q.name}").filterNot(spark.read.parquet(_).isEmpty)
      val dump = dumps(new scala.util.Random(seed).nextInt(dumps.size))
      val df = spark.read.parquet(dump)
      spark.createDataFrame(java.util.List.of(df.head()), df.schema)
        .write.mode("append").parquet(dump)
    }
    val oracle = new java.util.LinkedHashMap[String, String]()
    paired.foreach(q => oracle.put(q.name, q.oracle.getOrElse(q.oracleGen.get(spark, dir))))
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(s"$verifyDir/oracle_sql.json"), oracle)
    res.context("oracle_checked") = paired.size
    res.checks("registry_verify_dir") = verifyDir
    res.checks("registry_tables_dir") = dir
  }
}
