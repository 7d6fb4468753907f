package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, size => asize}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property test: [[EventStreams.withViolations]] agrees with a plain
  * Scala reference implementation of the rule set on random fixtures
  * dense in the hard cases (nulls in every nullable slot, unknown
  * event types, boundary value 0.0). Seeded hand-rolled forAll — same
  * pattern as AsOfJoinPropSpec. */
object QualityGatePropSpec {
  /** Top-level so Spark can derive an Encoder (inner classes need the
    * defining scope at deserialization time). */
  final case class Ev(event_id: Long, ts: Option[java.sql.Timestamp],
      user_id: Option[Long], event_type: String, value: Option[Double],
      props: String)
}

class QualityGatePropSpec extends SparkSpec {
  import spark.implicits._
  import QualityGatePropSpec.Ev

  private val known = Set("click", "error", "purchase", "signup", "view")
  private val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  // retention-window boundary cases (rule window [2000, 2100), UTC):
  // epoch 0 (uninitialized clock), pre-epoch, window edges, far future
  private val utc = java.util.TimeZone.getTimeZone("UTC")
  private def ts(s: String): java.sql.Timestamp = {
    val f = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    f.setTimeZone(utc)
    new java.sql.Timestamp(f.parse(s).getTime)
  }
  private val tEpoch = new java.sql.Timestamp(0L)
  private val tPre = ts("1969-07-20 20:17:40")
  private val tLowEdge = ts("2000-01-01 00:00:00")  // inclusive: clean
  private val tHighEdge = ts("2100-01-01 00:00:00") // exclusive: violation
  private val tFuture = ts("2150-01-01 00:00:00")

  private def inRetention(t: java.sql.Timestamp): Boolean =
    t.getTime >= tLowEdge.getTime && t.getTime < tHighEdge.getTime

  /** The rule set, restated independently in plain Scala. */
  private def expected(e: Ev): Set[String] = {
    val v = scala.collection.mutable.Set[String]()
    if (!e.value.exists(_ >= 0)) v += "value_non_negative"
    if (!known(e.event_type)) v += "known_event_type"
    if (e.user_id.isEmpty) v += "user_present"
    if (e.ts.isEmpty) v += "ts_present"
    if (!e.ts.exists(inRetention)) v += "ts_in_retention"
    v.toSet
  }

  private val evGen = for {
    ts <- Gen.option(Gen.oneOf(t0, tEpoch, tPre, tLowEdge, tHighEdge, tFuture))
    uid <- Gen.option(Gen.choose(1L, 5L))
    et <- Gen.oneOf("click", "view", "purchase", "hover", "weird", "")
    value <- Gen.option(Gen.oneOf(-3.0, -0.001, 0.0, 0.5, 9.0))
  } yield (ts, uid, et, value)

  test("withViolations matches the rule-by-rule Scala reference on random fixtures") {
    (1 to 8).foreach { round =>
      val rows = Gen.listOfN(40, evGen)(Gen.Parameters.default, Seed(round * 77L)).get
        .zipWithIndex.map { case ((ts, uid, et, value), i) =>
          Ev(i.toLong, ts, uid, et, value, "{}")
        }
      val got = EventStreams.withViolations(rows.toDF())
        .select(col("event_id"), col("violations"))
        .as[(Long, Seq[String])].collect()
        .map { case (id, v) => id -> v.toSet }.toMap
      rows.foreach { e =>
        withClue(s"round $round event ${e.event_id} ($e): ") {
          got(e.event_id) shouldBe expected(e)
        }
      }
      // and the good/quarantine split is a partition of the batch
      val tagged = EventStreams.withViolations(rows.toDF())
      val nGood = tagged.filter(asize(col("violations")) === 0).count()
      val nBad = tagged.filter(asize(col("violations")) > 0).count()
      nGood + nBad shouldBe rows.size.toLong
    }
  }

  test("a MemoryStream gate run aggregates to exactly the batch-twin audit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val goodDir = tempDir("graft_gate_prop_good")
    val quarDir = tempDir("graft_gate_prop_quar")
    val rows = Gen.listOfN(60, evGen)(Gen.Parameters.default, Seed(4242L)).get
      .zipWithIndex.map { case ((ts, uid, et, value), i) =>
        Ev(i.toLong, ts, uid, et, value, "{}")
      }
    val stream = MemoryStream[Ev]
    // two micro-batches, so the comparison spans a batch boundary
    stream.addData(rows.take(25))
    val q = EventStreams.startQualityGate(stream.toDF(), goodDir, quarDir)
    q.processAllAvailable()
    stream.addData(rows.drop(25))
    q.processAllAvailable(); q.stop()
    // quarantine rows (one per (row, rule)) aggregated by rule ==
    // the batch-twin audit of the same rows (e5_quality_gate_audit's
    // aggregation core), zero-count rules included
    val streamed = spark.read.parquet(s"$quarDir/*")
      .groupBy(col("rule")).count()
      .as[(String, Long)].collect().toMap
    val audited = graft.events.EventAnalytics.qualityAudit(rows.toDF())
      .select(col("rule"), col("n_violations"))
      .as[(String, Long)].collect().toMap
    audited.keySet shouldBe EventStreams.eventRules.map(_._1).toSet
    audited.foreach { case (rule, n) =>
      withClue(s"rule $rule: ") {
        streamed.getOrElse(rule, 0L) shouldBe n
      }
    }
    // and the gate's good/quarantine split reconciles with the audit:
    // good rows + distinct quarantined rows == input rows
    val nGood = spark.read.parquet(s"$goodDir/*").count()
    val nQuarRows = spark.read.parquet(s"$quarDir/*")
      .select(col("event_id")).distinct().count()
    nGood + nQuarRows shouldBe rows.size.toLong
  }
}
