package graft.parity

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The enrichment stage of the reference pipeline (SURVEY.md §2.11 X1-X3),
  * re-expressed Spark-first.
  *
  * The reference POSTs each file's lines to an external De-bias annotation
  * API (reference call-debias.py:41-51) and retries with exponential
  * backoff, skipping the file after MAX_RETRIES (call-debias.py:149-174).
  * Here the annotator is a pluggable trait; the default implementation is a
  * deterministic local lexicon tagger (the environment has no egress, and a
  * deterministic annotator is what makes the pipeline oracle-checkable).
  * An HTTP implementation would sit behind the same trait.
  *
  * Two execution paths produce identical results:
  *
  *   1. [[Annotate.tagsCol]] — a pure-Column formulation (codegen'd,
  *      whole-stage, zero shuffle). This is the 100 TB path: tagging is
  *      embarrassingly parallel and stays inside WholeStageCodegen.
  *   2. [[Annotate.annotateBatched]] — a `mapPartitions` path that batches
  *      rows per language and calls the [[Annotator]] trait with
  *      retry/skip-on-exhaustion semantics (X2). This is the shape an
  *      external-service annotator needs; Spark task retries are NOT
  *      equivalent (they re-run the whole task and fail the job after
  *      spark.task.maxFailures — the reference skips the batch and keeps
  *      going, reference call-debias.py:171-174).
  */
object Lexicon {
  /** term -> issue category. Deterministic stand-in for the De-bias API's
    * tag output shape {literal, issue, source}
    * (reference analytics/parser.py:22-26). Terms chosen from the
    * documents.text vocabulary. */
  val terms: Seq[(String, String)] = Seq(
    "slow" -> "performance",
    "big" -> "scale",
    "dup" -> "duplication",
    "hash" -> "implementation",
    "scan" -> "io")

  val source = "lexicon"

  /** Language whitelist from the reference (call-debias.py:36) is
    * {nl,en,de,fr,it}; kept a parameter because testdata also has es/zh
    * (SURVEY.md §7.4.6). */
  val referenceLanguages: Seq[String] = Seq("nl", "en", "de", "fr", "it")
}

/** One tag, shaped like the reference API response tag
  * (reference call-debias.py:98-103). */
final case class Tag(literal: String, issue: String, source: String)

/** Input document row (testdata documents.parquet schema). */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** Document + its annotation tags (one "result" in reference terms). */
final case class AnnotatedDoc(doc_id: Long, text: String, lang: String, source: String, tags: Seq[Tag])

/** X1: pluggable batched annotator. One call per batch of values sharing a
  * language — mirrors the reference's one-POST-per-file granularity
  * (call-debias.py:47-49) while decoupling batch size from file size. */
trait Annotator extends Serializable {
  /** Returns one tag list per input value, in input order. May throw —
    * callers wrap with [[RetryingAnnotator]]. */
  def annotate(language: String, values: Seq[String]): Seq[Seq[Tag]]
}

/** Deterministic local lexicon tagger: one tag per lexicon term present in
  * the value's whitespace token set, in lexicon order. Must stay in exact
  * agreement with [[Annotate.tagsCol]] (tested in AnnotateSpec). */
final class LexiconAnnotator(lexicon: Seq[(String, String)] = Lexicon.terms) extends Annotator {
  override def annotate(language: String, values: Seq[String]): Seq[Seq[Tag]] =
    values.map { v =>
      // null-safe: a NULL text yields no tags, matching the Column
      // path (split(NULL) -> NULL -> no lexicon hits). An NPE here
      // would be caught as retryable and burn the batch's retries on a
      // deterministic failure, silently dropping every OTHER doc in
      // the batch via the skip-on-exhaustion path.
      val toks = if (v == null) Set.empty[String] else v.split(" ", -1).toSet
      lexicon.collect { case (t, i) if toks(t) => Tag(t, i, Lexicon.source) }
    }
}

/** Transport seam for [[HttpAnnotator]]: POST a JSON body to a URL and
  * return the response body. Production uses [[JdkHttpTransport]]; specs
  * inject a recording fake — this sandbox has zero egress, so the unit
  * contract is the REQUEST the annotator emits and how it parses a
  * response, never the remote service itself. */
trait HttpTransport extends Serializable {
  def post(url: String, jsonBody: String): String
}

/** java.net.http transport (JDK 11+, no extra dependency). A non-2xx
  * status throws so [[RetryingAnnotator]]'s backoff/skip applies — the
  * reference's response.raise_for_status() (call-debias.py:50). */
final class JdkHttpTransport(
    timeout: java.time.Duration = java.time.Duration.ofSeconds(60))
    extends HttpTransport {
  @transient private lazy val client = java.net.http.HttpClient.newHttpClient()
  override def post(url: String, jsonBody: String): String = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(timeout)
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
        jsonBody, java.nio.charset.StandardCharsets.UTF_8))
      .build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() < 200 || resp.statusCode() >= 300)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} from $url")
    resp.body()
  }
}

/** X1 over HTTP: emits the reference's exact request payload
  * `{"language", "useNER", "useLLM", "values"}` (call-debias.py:43-48,
  * same key order), POSTs it through the transport, and parses the
  * response's `results[].tags[]` into [[Tag]]s aligned to input order
  * (the same fields parser.py:22-26 reads). Any transport error, non-2xx
  * status, or malformed/misaligned response throws — wrap with
  * [[RetryingAnnotator]] for the reference's backoff/skip semantics,
  * exactly like the local impl. */
final class HttpAnnotator(
    url: String,
    useNER: Boolean = true,
    useLLM: Boolean = false,
    transport: HttpTransport = new JdkHttpTransport()) extends Annotator {

  override def annotate(language: String, values: Seq[String]): Seq[Seq[Tag]] = {
    val om = HttpAnnotator.mapper
    val root = om.createObjectNode()
    root.put("language", language)
    root.put("useNER", useNER)
    root.put("useLLM", useLLM)
    val arr = root.putArray("values")
    values.foreach(arr.add)
    val results = om.readTree(transport.post(url, om.writeValueAsString(root)))
      .path("results")
    if (!results.isArray || results.size() != values.size)
      throw new java.io.IOException(
        s"De-bias response results size ${results.size()} != ${values.size} values sent")
    (0 until results.size()).map { i =>
      val tags = results.get(i).path("tags")
      (0 until tags.size()).map { j =>
        val t = tags.get(j)
        Tag(t.path("literal").asText(""), t.path("issue").asText(""),
          t.path("source").asText(""))
      }
    }
  }
}

object HttpAnnotator {
  // one mapper per JVM: ObjectMapper is thread-safe after config and not
  // java-serializable, so it must not be a field of the (Serializable)
  // annotator that ships to executors
  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

/** Test hook: fails the first `failures` calls, then delegates. */
final class FlakyAnnotator(inner: Annotator, failures: Int) extends Annotator {
  private val remaining = new java.util.concurrent.atomic.AtomicInteger(failures)
  override def annotate(language: String, values: Seq[String]): Seq[Seq[Tag]] =
    if (remaining.getAndDecrement() > 0) throw new RuntimeException("injected annotator failure")
    else inner.annotate(language, values)
}

/** Outcome of one annotator batch (X3 accounting). */
sealed trait BatchOutcome
final case class BatchOk(tags: Seq[Seq[Tag]], attempts: Int) extends BatchOutcome
final case class BatchSkipped(error: String, attempts: Int) extends BatchOutcome

/** X2: retry with exponential backoff; skip (not fail) on exhaustion.
  * Mirrors reference call-debias.py:149-174: attempts 1..maxRetries, sleep
  * 2^attempt between attempts, one bad batch never kills the run.
  *
  * @param sleeper injectable so tests don't sleep; production default
  *                backs off 2^attempt seconds like the reference.
  */
final class RetryingAnnotator(
    inner: Annotator,
    maxRetries: Int = 5,
    sleeper: Long => Unit = millis => Thread.sleep(millis)) extends Serializable {

  def annotateBatch(language: String, values: Seq[String]): BatchOutcome = {
    var attempt = 1
    while (true) {
      try return BatchOk(inner.annotate(language, values), attempt)
      catch {
        case e: Exception =>
          if (attempt >= maxRetries) return BatchSkipped(e.getMessage, attempt)
          sleeper(math.pow(2, attempt).toLong * 1000L)
          attempt += 1
      }
    }
    sys.error("unreachable")
  }
}

/** X3: run accounting, reference call-debias.py:156-174 / gui.py:76-85
  * (success/skip log lines -> GUI status). Spark-native form: accumulators
  * visible on the driver while the job runs. */
final case class AnnotatorMetrics(
    batchesOk: LongAccumulator,
    batchesSkipped: LongAccumulator,
    retries: LongAccumulator)

object AnnotatorMetrics {
  def apply(spark: SparkSession, prefix: String): AnnotatorMetrics = AnnotatorMetrics(
    spark.sparkContext.longAccumulator(s"$prefix.batchesOk"),
    spark.sparkContext.longAccumulator(s"$prefix.batchesSkipped"),
    spark.sparkContext.longAccumulator(s"$prefix.retries"))
}

object Annotate {

  /** Column-pure tagging: array of lexicon tags present in `text`'s
    * whitespace tokens, in lexicon order. Fully codegen'd — the 100 TB hot
    * path. Equivalent to [[LexiconAnnotator]]. */
  def tagsCol(text: Column, lexicon: Seq[(String, String)] = Lexicon.terms): Column = {
    val toks = split(text, " ", -1)
    val entries = lexicon.map { case (term, issue) =>
      when(array_contains(toks, term),
        struct(lit(term).as("literal"), lit(issue).as("issue"), lit(Lexicon.source).as("source")))
    }
    filter(array(entries: _*), x => x.isNotNull)
  }

  /** documents table + `tags` column (the annotated view every parity query
    * builds on). */
  def annotated(docs: DataFrame): DataFrame = docs.withColumn("tags", tagsCol(col("text")))

  /** X1/X2 execution path: batch rows per language inside each partition
    * and call the annotator trait with retry/skip. Skipped batches emit no
    * rows (the reference writes no output JSON for a skipped file) and are
    * counted in `metrics`. With the default [[LexiconAnnotator]] the result
    * is row-for-row identical to [[annotated]]. */
  def annotateBatched(
      docs: Dataset[Doc],
      annotator: RetryingAnnotator,
      metrics: AnnotatorMetrics,
      batchSize: Int = 64): Dataset[AnnotatedDoc] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // one annotator call per language within the batch (the reference's
        // payload is per-(file, language); language is the API parameter)
        batch.groupBy(_.lang).iterator.flatMap { case (lang, rows) =>
          annotator.annotateBatch(lang, rows.map(_.text)) match {
            case BatchOk(tags, attempts) =>
              metrics.batchesOk.add(1); metrics.retries.add(attempts - 1)
              rows.lazyZip(tags).map((d, t) => AnnotatedDoc(d.doc_id, d.text, d.lang, d.source, t))
            case BatchSkipped(_, attempts) =>
              metrics.batchesSkipped.add(1); metrics.retries.add(attempts - 1)
              Seq.empty
          }
        }
      }
    }
  }
}
