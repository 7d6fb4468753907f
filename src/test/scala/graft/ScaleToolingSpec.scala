package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the round-11 scale/drift tooling so it cannot bitrot: the
  * ScaleProbe replication model (disjoint key spaces, constant per-key
  * cardinality, dims copied once) and DriftGen's axis re-encodings
  * (which feed the gate-level drift matrix recorded in PLANS.md). Runs
  * at sf0.001 to stay cheap. */
class ScaleToolingSpec extends SparkSpec {

  test("ScaleProbe replication: facts 2x with disjoint keys, dims 1x, per-key cardinality constant") {
    // drop any cached 2x dir first: a driver testdata regeneration
    // would otherwise leave a stale replica to compare against
    val cached = java.nio.file.Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft_scale_2x_${T.scratchKey(sfDir)}")
    if (java.nio.file.Files.exists(cached)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(cached).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val dir = ScaleProbe.buildScaledDir(spark, sfDir, 2)
    // facts doubled, dims copied once
    T(spark, dir, "lineitem").count() shouldBe T(spark, sfDir, "lineitem").count() * 2
    T(spark, dir, "events").count() shouldBe T(spark, sfDir, "events").count() * 2
    T(spark, dir, "nation").count() shouldBe T(spark, sfDir, "nation").count()
    T(spark, dir, "customer").count() shouldBe T(spark, sfDir, "customer").count()
    // replica key spaces are disjoint: every key is either < 2^40 (replica 0)
    // or >= 2^40 (replica 1), in equal counts
    val buckets = T(spark, dir, "orders")
      .groupBy((col("o_orderkey") >= (1L << 40)).as("hi")).count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    buckets(false) shouldBe buckets(true)
    // per-key cardinality constant: max lineitems per order unchanged
    def maxPerOrder(d: String) = T(spark, d, "lineitem")
      .groupBy("l_orderkey").count().agg(max("count")).collect()(0).getLong(0)
    maxPerOrder(dir) shouldBe maxPerOrder(sfDir)
    // per-DIM-key fanout doubled: orders per customer grows with the facts
    def maxPerCust(d: String) = T(spark, d, "orders")
      .groupBy("o_custkey").count().agg(max("count")).collect()(0).getLong(0)
    maxPerCust(dir) shouldBe maxPerCust(sfDir) * 2
  }

  test("ScaleProbe hot-key replication: events 2x onto the SAME user space, per-user count 2x") {
    val cached = java.nio.file.Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft_hotkey_2x_${T.scratchKey(sfDir)}")
    if (java.nio.file.Files.exists(cached)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(cached).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val dir = ScaleProbe.buildScaledDir(spark, sfDir, 2, hot = true)
    // events doubled with unique event_ids; every OTHER table one copy
    T(spark, dir, "events").count() shouldBe T(spark, sfDir, "events").count() * 2
    T(spark, dir, "events").select("event_id").distinct().count() shouldBe
      T(spark, sfDir, "events").count() * 2
    T(spark, dir, "lineitem").count() shouldBe T(spark, sfDir, "lineitem").count()
    // user POPULATION fixed, per-user event count exactly doubled —
    // the per-key growth axis the disjoint mode cannot produce
    def users(d: String) = T(spark, d, "events").select("user_id").distinct().count()
    users(dir) shouldBe users(sfDir)
    def maxPerUser(d: String) = T(spark, d, "events")
      .groupBy("user_id").count().agg(max("count")).collect()(0).getLong(0)
    maxPerUser(dir) shouldBe maxPerUser(sfDir) * 2
  }

  test("DriftGen axes re-encode the physical schema and T normalizes them back") {
    val out = tempDir("graft_driftgen_spec")
    DriftGen.generate(spark, sfDir, out, Seq("i32", "dec"))
    // the written physical schema IS drifted (raw read)…
    spark.read.parquet(s"$out/i32/orders.parquet")
      .schema("o_orderkey").dataType shouldBe IntegerType
    spark.read.parquet(s"$out/dec/lineitem.parquet")
      .schema("l_extendedprice").dataType shouldBe DecimalType(12, 2)
    // …and T restores the canonical contract with identical values
    val normed = T(spark, s"$out/i32", "orders")
    normed.schema("o_orderkey").dataType shouldBe LongType
    val a = normed.select("o_orderkey").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.toSeq
    val b = T(spark, sfDir, "orders").select("o_orderkey")
      .as[Long](spark.implicits.newLongEncoder).collect().sorted.toSeq
    a shouldBe b
    val money = T(spark, s"$out/dec", "lineitem")
    money.schema("l_extendedprice").dataType shouldBe DoubleType
    val sumDrift = money.agg(sum(T.money("l_extendedprice"))).collect()(0).getDecimal(0)
    val sumBase = T(spark, sfDir, "lineitem")
      .agg(sum(T.money("l_extendedprice"))).collect()(0).getDecimal(0)
    sumDrift shouldBe sumBase
  }

  test("DriftGen ltz axis: a long-nanos ts source re-encodes epoch-preserving") {
    import spark.implicits._
    // if the driver ever regenerates events.ts back to parquet
    // timestamp[ns], the raw read surfaces LongType nanos (nanosAsLong);
    // cast(long AS timestamp) would read SECONDS — the axis must route
    // through micros instead
    val us = Seq(1700000000000000L, 1700000000123456L)
    val nanos = us.map(_ * 1000L).toDF("ts")
    val drifted = DriftGen.recode("ltz", "events", nanos)
    drifted.schema("ts").dataType shouldBe TimestampType
    drifted.select(unix_micros(col("ts"))).as[Long].collect().sorted.toSeq shouldBe us
  }

  test("StreamStateProbe plateau gate: flat and saturating curves pass, a leak fails") {
    def curve(rows: Seq[Long]) =
      StreamStateProbe.Curve("t", rows.size, 0L, rows, rows.map(_ => 0L), 0L)
    // flat after warm-up (watermark-evicted state), final-batch collapse
    curve(Seq.fill(60)(1700L) :+ 150L).bounded shouldBe true
    // saturating (finite key dimension, e.g. tws per-user state)
    curve((1 to 60).map(i => math.min(i * 100L, 1500L))).bounded shouldBe true
    // linear growth (a state leak): last-quarter max ~2x second-quarter max
    curve((1 to 60).map(_ * 100L)).bounded shouldBe false
    // leak that only starts mid-run (watermark stops advancing)
    curve(Seq.fill(30)(1000L) ++ (1 to 30).map(1000L + _ * 200L)).bounded shouldBe false
    // too few batches to judge: no verdict, passes by design
    curve((1 to 8).map(_ * 100L)).bounded shouldBe true
  }

  test("bench_diff calibration normalization: a uniform ambient shift is divided out, a real mover is not") {
    // synthetic-shift case (r15 verdict item 3): every query AND the
    // calibration probe 1.30x slower on the new side = pure ambient
    // contention; one query additionally 2x = a real code mover. The
    // normalized gate must flag ONLY the real mover and report a 1.00x
    // normalized median.
    import scala.sys.process._
    val dir = java.nio.file.Paths.get(tempDir("graft_benchdiff_spec"))
    val qnames = (1 to 9).map(i => s"q$i")
    def detail(mult: Double, calib: Double, extra2x: Boolean): String = {
      val qs = qnames.zipWithIndex.map { case (n, i) =>
        val base = 0.5 + i * 0.3
        val v = base * mult * (if (extra2x && n == "q5") 2.0 else 1.0)
        s""""$n": $v"""
      }.mkString(", ")
      s"""{"value": 0, "calib_pre": ${0.85 * calib}, "calib_post": ${0.80 * calib},
          "queries": {$qs}}"""
    }
    def write(name: String, body: String): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.writeString(p, body)
      p.toString
    }
    val old = write("old.json", detail(1.0, 1.0, extra2x = false))
    val shifted = write("shifted.json", detail(1.3, 1.3, extra2x = false))
    val moved = write("moved.json", detail(1.3, 1.3, extra2x = true))
    def diff(a: String, b: String): String =
      Seq("python3", "tools/bench_diff.py", a, b).!!
    val uniform = diff(old, shifted)
    withClue(uniform) {
      uniform should include("median_ratio=1.30x")
      uniform should include("calib_ratio=1.30x")
      uniform should include("normalized_median=1.00x")
      uniform should include("no query moved >1.5x either way (normalized ratio)")
    }
    val real = diff(old, moved)
    withClue(real) {
      real should include("normalized_median=1.00x") // median still ambient-only
      real should include("1 query moved >1.5x (normalized ratio)")
      real should include("q5")
      (real should not).include("q4") // the uniform shift alone must not flag
    }
    // raw-detail regression guard: details lacking calib fields fall back
    // to the raw gate (pre-r10 recordings)
    val bare = write("bare.json", s"""{"queries": {"q1": 1.0, "q2": 2.0}}""")
    val bare2 = write("bare2.json", s"""{"queries": {"q1": 1.3, "q2": 2.6}}""")
    val raw = diff(bare, bare2)
    withClue(raw) {
      (raw should not).include("normalized_median")
      raw should include("no query moved >1.5x either way")
    }
  }
}
