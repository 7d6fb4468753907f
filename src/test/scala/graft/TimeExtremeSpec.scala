package graft

import org.apache.spark.sql.functions._

/** Extreme timestamps are the SEVENTH degenerate axis (after empty,
  * one-row, null, non-finite+magnitude, unicode, combined): real event
  * pipelines ship epoch-0 rows from uninitialized clocks, pre-epoch
  * values from sign bugs, and 1677/2262 boundary values from ns-int64
  * reinterpretation — all µs-representable, so nothing upstream
  * rejects them.
  *
  * What the round-12 gate run (full Verify + DuckDB oracle over an
  * injected sf0.001 re-encoding, receipts in PLANS.md) established:
  *
  *  - CORRECTNESS holds: calendar functions (date_trunc/date_format vs
  *    strftime), epoch arithmetic (unix_micros vs epoch_us — exact
  *    integers, negative pre-1970), window() bucketing, and datediff
  *    agree between the engines across the full µs-clamped ns range
  *    [1677-09-21, 2262-04-11], pre-epoch values included.
  *  - COST does not: any MIN/MAX-derived dense time spine spans the
  *    data's clock range, so ONE wild row widens it to centuries — the
  *    hour×type grid exploded from 17k to 25.6M rows (engine side
  *    measured 93s at sf0.001; both engines still agreed).
  *
  * The declared contract: spine operators consume GATED data (exactly
  * like vector ops consume indexable vectors) — the streaming quality
  * gate's `ts_in_retention` rule ([[graft.streaming.EventStreams
  * .eventRules]]) quarantines out-of-window clocks at ingest, and on
  * gated data the spine is calendar-bounded again. This spec pins the
  * engine side: the no-throw sweep (spine op on the gated view), the
  * rule's residue coverage, and the hazard arithmetic on raw data.
  */
class TimeExtremeSpec extends SparkSpec with AxisMatrix {

  private def usOf(s: String): Long = java.time.Instant.parse(s).toEpochMilli * 1000L

  private val nsMinUs = -9223372036854776L + 7 // floor(ns Long.Min/1000)+7
  private val nsMaxUs = 9223372036854775L - 7  // floor(ns Long.Max/1000)-7

  /** Mirrors the PLANS.md pyarrow recipe: event_id%53 residues. */
  private lazy val txDir: String = fixture("graft_timex") {
    case ("events", base) =>
      val r = col("event_id") % 53
      base.withColumn("ts", timestamp_micros(
        when(r === 11, lit(0L))
          .when(r === 17, lit(-1L))
          .when(r === 23, lit(usOf("1969-07-20T20:17:40Z") + 123456L))
          .when(r === 29, lit(nsMinUs))
          .when(r === 31, lit(nsMaxUs))
          .when(r === 37, lit(usOf("2196-02-29T23:59:59Z") + 999999L))
          .when(r === 41, lit(usOf("1900-01-01T00:00:00Z")))
          .otherwise(unix_micros(col("ts")))))
    case ("orders", base) =>
      val r = col("o_orderkey") % 59
      base.withColumn("o_orderdate", timestamp_micros(
        when(r === 13, lit(usOf("1901-12-13T00:00:00Z")))
          .when(r === 19, lit(usOf("2262-04-11T00:00:00Z")))
          .when(r === 23, lit(-1L))
          .otherwise(unix_micros(col("o_orderdate").cast("timestamp"))))
        .cast(org.apache.spark.sql.types.TimestampNTZType))
    case (_, base) => base
  }

  /** The gated twin: txDir with quarantinable events removed — what
    * the spine operators see in a gated deployment. */
  private lazy val gatedDir: String = fixture("graft_timex_gated", txDir) {
    case ("events", base) =>
      graft.streaming.EventStreams.withViolations(base)
        .filter(org.apache.spark.sql.functions.size(col("violations")) === 0)
        .drop("violations")
    case (_, base) => base
  }

  // MIN/MAX-spine ops: output cardinality is clock-range-proportional.
  // Since round 13 the contract is enforced in-plan (T.spineGuard):
  // on the raw fixture these RAISE by design (proven below), so the
  // no-throw sweep runs them on their contract input, the gated twin.
  private val spineOps = Set("e5_time_spine_gapfill", "e5_rolling_dau_wau")

  test("all registry queries execute on the extreme-timestamp corpus (spine ops on the gated twin)") {
    val failures = survives(txDir, route = spineOps.map(_ -> gatedDir).toMap)
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("ts_in_retention quarantines every wild-clock residue and only those") {
    import spark.implicits._
    val flagged = graft.streaming.EventStreams.withViolations(T(spark, txDir, "events"))
      .filter(array_contains(col("violations"), "ts_in_retention"))
      .select(col("event_id") % 53).as[Long].collect().toSet
    flagged shouldBe Set(11L, 17L, 23L, 29L, 31L, 37L, 41L)
  }

  test("the dense hour spine is MIN/MAX-driven on raw data and calendar-bounded once gated") {
    // raw hazard, by arithmetic (not materialization): hours between the
    // boundary residues span centuries
    val b = T(spark, txDir, "events")
      .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
      .head()
    val rawHours = (b.getLong(1) - b.getLong(0)) / 3600000000L
    assert(rawHours > 5000000L, s"raw spine hours = $rawHours — expected a centuries-wide grid")
    // gated reality: the spine op itself, bounded by the data window
    val gated = Registry.byName("e5_time_spine_gapfill").run(spark, gatedDir)
    val n = gated.count()
    assert(n > 0 && n < 200000L, s"gated spine rows = $n — expected a calendar-sized grid")
  }

  test("spine ops FAIL FAST on ungated wild-clock data with the contract named in-plan") {
    // the round-12 hazard (one boundary pair -> 25.6M-row grid, ~1h
    // oracle compare) must now be an immediate, descriptive error:
    // T.spineGuard raises from the 1-row bounds frame before any grid
    // row materializes, so the cost is one events scan, not the grid
    for (op <- Seq("e5_time_spine_gapfill", "e5_rolling_dau_wau")) {
      val e = intercept[Exception] {
        AxisMatrix.drain(Registry.byName(op).run(spark, txDir))
      }
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .take(8).flatMap(t => Option(t.getMessage)).mkString("\n")
      withClue(s"$op raised but without the contract message: $msg") {
        assert(msg.contains("graft.spine.maxHours") && msg.contains(op) &&
          msg.contains("ts_in_retention"))
      }
    }
  }

  test("the spine cap boundary is exact: span == cap passes, cap + 1 raises") {
    // pins the integer-div arithmetic at the boundary (a double
    // division of the µs difference could read one hour low past 2^53
    // µs — the self-review fix this case guards): build events whose
    // hour span is EXACTLY the configured cap, then exactly one more
    import spark.implicits._
    val capHours = 48L
    def dirSpanning(hours: Long): String = fixture("graft_spinecap") {
      case ("events", base) =>
        // first event at hour 0, last at hour (hours-1): dense-hour
        // span = `hours` buckets inclusive
        val loUs = 1705320000000000L // 2024-01-15T12:00:00Z
        val hiUs = loUs + (hours - 1) * 3600000000L
        base.withColumn("ts", timestamp_micros(
          when(col("event_id") % 2 === 0, lit(loUs)).otherwise(lit(hiUs))))
      case (_, base) => base
    }
    spark.conf.set("graft.spine.maxHours", capHours.toString)
    try {
      val atCap = Registry.byName("e5_time_spine_gapfill")
        .run(spark, dirSpanning(capHours))
      atCap.select(countDistinct(col("hour_bucket"))).as[Long].head() shouldBe capHours
      val e = intercept[Exception] {
        AxisMatrix.drain(Registry.byName("e5_time_spine_gapfill")
          .run(spark, dirSpanning(capHours + 1)))
      }
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .take(8).flatMap(t => Option(t.getMessage)).mkString("\n")
      assert(msg.contains("graft.spine.maxHours"),
        s"cap+1 span raised without the contract message: $msg")
    } finally spark.conf.unset("graft.spine.maxHours")
  }

  test("graft.spine.maxHours is an explicit override, not a hard wall") {
    // a deployment that KNOWS its window is wide (backfill over an
    // archive) raises the cap explicitly; the guard respects it
    spark.conf.set("graft.spine.maxHours", Long.MaxValue.toString)
    try {
      val n = Registry.byName("e5_rolling_dau_wau").run(spark, txDir).count()
      assert(n > 100000L, s"uncapped day spine rows = $n — expected the wide grid")
    } finally spark.conf.unset("graft.spine.maxHours")
  }
}
