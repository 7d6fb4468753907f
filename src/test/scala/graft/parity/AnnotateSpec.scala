package graft.parity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** X1/X2/X3 annotator semantics (reference call-debias.py:41-51,149-174):
  * column path == trait path, retry with backoff, skip-on-exhaustion, run
  * accounting. */
class AnnotateSpec extends SparkSpec {
  import spark.implicits._

  private val lex = new LexiconAnnotator()

  test("tagsCol agrees with LexiconAnnotator on edge cases") {
    val cases = Seq(
      "slow big dup hash scan", // every lexicon term
      "slow slow slow",         // repeated term -> one tag
      "nothing matches here",   // no tags
      "",                       // empty line
      "slowly bigger",          // substrings must NOT match (token equality)
      "big slow")               // order: tags come in LEXICON order, not text order
    val viaCol = cases.toDF("text")
      .select(Annotate.tagsCol(col("text")).as("tags"))
      .as[Seq[Tag]].collect().toSeq
    val viaTrait = lex.annotate("en", cases)
    viaCol shouldBe viaTrait
    // lexicon order, not text order
    viaTrait.last.map(_.literal) shouldBe Seq("slow", "big")
    viaTrait(1) shouldBe Seq(Tag("slow", "performance", "lexicon"))
    viaTrait(2) shouldBe Seq.empty
  }

  test("annotateBatched is row-identical to the column path") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").as[Doc]
    val metrics = AnnotatorMetrics(spark, "test")
    val batched = Annotate
      .annotateBatched(docs, new RetryingAnnotator(lex, sleeper = _ => ()), metrics, batchSize = 7)
      .select($"doc_id", $"tags").as[(Long, Seq[Tag])]
      .collect().toMap
    val cols = Annotate.annotated(docs.toDF())
      .select($"doc_id", Annotate.tagsCol($"text").as("tags")).as[(Long, Seq[Tag])]
      .collect().toMap
    batched shouldBe cols
    metrics.batchesOk.value.longValue should be > 0L
    metrics.batchesSkipped.value.longValue shouldBe 0L
  }

  test("retry succeeds after transient failures, backing off 2^attempt") {
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val retry = new RetryingAnnotator(new FlakyAnnotator(lex, failures = 2),
      maxRetries = 5, sleeper = slept += _)
    val out = retry.annotateBatch("en", Seq("slow big"))
    out shouldBe a[BatchOk]
    out.asInstanceOf[BatchOk].attempts shouldBe 3
    slept.toSeq shouldBe Seq(2000L, 4000L) // 2^1, 2^2 seconds, reference backoff
  }

  test("retry exhaustion skips the batch instead of failing") {
    val retry = new RetryingAnnotator(new FlakyAnnotator(lex, failures = 99),
      maxRetries = 3, sleeper = _ => ())
    val out = retry.annotateBatch("en", Seq("slow"))
    out shouldBe BatchSkipped("injected annotator failure", 3)
  }

  test("a skipped batch drops its rows but never kills the run (X2/X3)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").as[Doc]
    val n = docs.count()
    val metrics = AnnotatorMetrics(spark, "skiptest")
    // fail every call: every batch exhausts retries and is skipped
    val alwaysFail = new Annotator {
      def annotate(language: String, values: Seq[String]): Seq[Seq[Tag]] =
        throw new RuntimeException("down")
    }
    val out = Annotate.annotateBatched(docs,
      new RetryingAnnotator(alwaysFail, maxRetries = 2, sleeper = _ => ()), metrics)
    out.count() shouldBe 0L // skipped, not thrown
    metrics.batchesSkipped.value.longValue should be > 0L
    metrics.retries.value.longValue shouldBe metrics.batchesSkipped.value.longValue // 1 retry per skipped batch
    n should be > 0L
  }

  test("HttpAnnotator emits the reference payload verbatim and parses tags") {
    val recorded = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val transport = new HttpTransport {
      def post(url: String, body: String): String = {
        recorded += ((url, body))
        // reference response shape: one result per value, in order
        // (analytics/parser.py:22-26 reads language/literal/tags)
        """{"results": [
             {"language": "en", "literal": "a slow scan", "tags": [
               {"literal": "slow", "issue": "performance", "source": "debias"},
               {"literal": "scan", "issue": "io", "source": "debias"}]},
             {"language": "en", "literal": "clean", "tags": []}
           ]}"""
      }
    }
    val ann = new HttpAnnotator("https://example.invalid/simple",
      useNER = true, useLLM = false, transport = transport)
    val tags = ann.annotate("en", Seq("a slow scan", "clean"))
    // request: exact payload shape AND key order of call-debias.py:43-48
    val (url, body) = recorded.head
    url shouldBe "https://example.invalid/simple"
    body shouldBe """{"language":"en","useNER":true,"useLLM":false,"values":["a slow scan","clean"]}"""
    // response: tags aligned to input order
    tags shouldBe Seq(
      Seq(Tag("slow", "performance", "debias"), Tag("scan", "io", "debias")),
      Seq.empty)
  }

  test("HttpAnnotator retries through the standard wrapper and skips on exhaustion") {
    // transport fails twice then succeeds: BatchOk on attempt 3, with the
    // reference's 2^attempt backoff schedule
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val flakyTransport = new HttpTransport {
      def post(url: String, body: String): String =
        if (calls.incrementAndGet() <= 2) throw new java.io.IOException("HTTP 503")
        else """{"results": [{"language": "en", "literal": "x", "tags": []}]}"""
    }
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val retrying = new RetryingAnnotator(
      new HttpAnnotator("https://example.invalid/simple", transport = flakyTransport),
      maxRetries = 5, sleeper = sleeps += _)
    retrying.annotateBatch("en", Seq("x")) shouldBe BatchOk(Seq(Seq.empty), 3)
    sleeps.toSeq shouldBe Seq(2000L, 4000L)

    // a misaligned response (results size != values size) is a retryable
    // failure like any transport error: exhaustion skips, never throws
    val misaligned = new HttpTransport {
      def post(url: String, body: String): String = """{"results": []}"""
    }
    val skipping = new RetryingAnnotator(
      new HttpAnnotator("https://example.invalid/simple", transport = misaligned),
      maxRetries = 2, sleeper = _ => ())
    skipping.annotateBatch("en", Seq("x")) match {
      case BatchSkipped(_, attempts) => attempts shouldBe 2
      case other => fail(s"expected BatchSkipped, got $other")
    }
  }
}
