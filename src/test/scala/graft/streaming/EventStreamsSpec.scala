package graft.streaming

import graft.{Registry, SparkSpec}
import graft.events.EventAnalytics
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming twins vs batch oracles: the same transforms bound to a
  * MemoryStream must converge to the batch answers, including state
  * carried across micro-batches. */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val batchEvents = EventAnalytics.events(spark, sfDir).cache()

  private def toEvents(rows: Array[Row]): Seq[EventStreams.Event] =
    rows.map(r => EventStreams.Event(
      r.getAs[Long]("event_id"), r.getAs[java.sql.Timestamp]("ts"),
      r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
      r.getAs[Double]("value"), r.getAs[String]("props"))).toSeq

  test("streaming hourlyStats converges to the batch e5_hourly_event_stats") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.Event]
    // two micro-batches: same hour buckets must merge across them
    // (AvailableNow only sees data queued BEFORE start)
    val all = toEvents(batchEvents.collect())
    val (b1, b2) = all.splitAt(all.size / 2)
    stream.addData(b1); stream.addData(b2)
    val q = EventStreams.hourlyStats(stream.toDF())
      .writeStream.format("memory").queryName("hourly_t")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("hourly_t")
      .select($"hour_bucket", $"event_type", $"n_events", $"total_value")
      .as[(String, String, Long, Double)].collect().toSet
    val batch = Registry.byName("e5_hourly_event_stats").run(spark, sfDir)
      .as[(String, String, Long, Double)].collect().toSet
    streamed shouldBe batch
  }

  test("streaming slidingCounts converges to batch e5_sliding_window_counts") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.Event]
    val all = toEvents(batchEvents.collect())
    val (b1, b2) = all.splitAt(all.size / 2)
    stream.addData(b1); stream.addData(b2)
    val q = EventStreams.slidingCounts(stream.toDF())
      .writeStream.format("memory").queryName("sliding_t")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("sliding_t")
      .select($"window_start", $"n_events", $"sum_value")
      .as[(String, Long, Double)].collect().toSet
    val batch = Registry.byName("e5_sliding_window_counts").run(spark, sfDir)
      .select($"window_start", $"n_events", $"sum_value")
      .as[(String, Long, Double)].collect().toSet
    streamed shouldBe batch
  }

  test("foreachBatch incremental merge: versioned state equals the one-shot aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = tempDir("graft_merge_state")
    val stream = MemoryStream[EventStreams.Event]
    val all = toEvents(batchEvents.collect())
    // three uneven batches: the merge must be split-invariant
    val (b1, rest) = all.splitAt(all.size / 4)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    stream.addData(b1)
    val q = EventStreams.startIncrementalMerge(stream.toDF(), stateDir)
    q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    stream.addData(b3); q.processAllAvailable()
    q.stop()

    val state = EventStreams.latestState(spark, stateDir).get
      .select($"user_id", $"n_events", $"spend".cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    val direct = batchEvents.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("spend"))
      .as[(Long, Long, Double)].collect().toSet
    state shouldBe direct
    // every published version is a complete snapshot (has _SUCCESS)
    new java.io.File(stateDir).listFiles().count(_.getName.startsWith("v")) should be >= 2
  }

  test("quality gate routes violating rows to the quarantine with rule names") {
    implicit val sqlCtx = spark.sqlContext
    val goodDir = tempDir("graft_gate_good")
    val quarDir = tempDir("graft_gate_quar")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // Options so NULLs survive the encoder — planted violations per rule
    val stream = MemoryStream[(Long, Option[java.sql.Timestamp], Option[Long],
      String, Option[Double], String)]
    stream.addData(Seq(
      (1L, Some(t0), Some(10L), "click", Some(1.0), "{}"),      // clean
      (2L, Some(t0), Some(11L), "click", Some(-3.0), "{}"),     // negative value
      (3L, Some(t0), Some(12L), "hover", Some(1.0), "{}")))     // unknown type
    val q = EventStreams.startQualityGate(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      goodDir, quarDir)
    q.processAllAvailable()
    // second batch queued AFTER batch 0 processes, so the replay below
    // rewrites only batch 0's directory
    stream.addData(Seq(
      (4L, Some(t0), None, "view", Some(2.0), "{}"),            // null user
      (5L, Some(t0), Some(13L), "weird", None, "{}"),           // 2 rules fail
      (6L, Some(t0), Some(14L), "purchase", Some(9.0), "{}")))  // clean
    q.processAllAvailable(); q.stop()

    val good = spark.read.parquet(s"$goodDir/*").select($"event_id")
      .as[Long].collect().sorted.toSeq
    good shouldBe Seq(1L, 6L)
    val quar = spark.read.parquet(s"$quarDir/*")
      .select($"event_id", $"rule").as[(Long, String)].collect().toSet
    quar shouldBe Set(
      2L -> "value_non_negative",
      3L -> "known_event_type",
      4L -> "user_present",
      5L -> "known_event_type", 5L -> "value_non_negative")

    // replaying a batch rewrites its own directory — no duplicate rows
    val replay = Seq((2L, Some(t0), Some(11L), "click", Some(-3.0), "{}"),
      (3L, Some(t0), Some(12L), "hover", Some(1.0), "{}"),
      (1L, Some(t0), Some(10L), "click", Some(1.0), "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    EventStreams.gateBatch(replay, 0L, goodDir, quarDir)
    spark.read.parquet(s"$goodDir/*").count() shouldBe 2L
    spark.read.parquet(s"$quarDir/*").count() shouldBe 5L

    // the same projection binds in batch mode (stream == batch)
    val batchTagged = EventStreams.withViolations(replay)
    batchTagged.filter(org.apache.spark.sql.functions.size($"violations") === 0).count() shouldBe 1L
    batchTagged.filter(org.apache.spark.sql.functions.size($"violations") > 0).count() shouldBe 2L

    // restarting over existing batch dirs without a checkpoint would
    // renumber from 0 and leave stale b1.. mixed into glob reads —
    // rejected up front (same discipline as the incremental merge)
    val stream2 = MemoryStream[(Long, Option[java.sql.Timestamp], Option[Long],
      String, Option[Double], String)]
    an[IllegalArgumentException] should be thrownBy
      EventStreams.startQualityGate(
        stream2.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        goodDir, quarDir)
  }

  test("incremental merge refuses to resume over existing state without a checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = tempDir("graft_merge_guard")
    EventStreams.mergeBatch(batchEvents.limit(5).toDF(), 0L, stateDir)
    val stream = MemoryStream[EventStreams.Event]
    // a fresh query would renumber batches from 0; the v0 short-circuit
    // would then silently drop the new data — rejected up front
    an[IllegalArgumentException] should be thrownBy
      EventStreams.startIncrementalMerge(stream.toDF(), stateDir)
  }

  test("incremental merge replay is idempotent and rebuilds over torn writes") {
    val stateDir = tempDir("graft_merge_replay")
    val b0 = batchEvents.filter($"event_id" % 3 === 0).toDF()
    val b1 = batchEvents.filter($"event_id" % 3 === 1).toDF()
    val b2 = batchEvents.filter($"event_id" % 3 === 2).toDF()
    def snap() = EventStreams.latestState(spark, stateDir).get
      .select($"user_id", $"n_events", $"spend".cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    EventStreams.mergeBatch(b0, 0L, stateDir)
    EventStreams.mergeBatch(b1, 1L, stateDir)
    val committed = snap()
    // crash AFTER v1 published but BEFORE the checkpoint commit → batch 1
    // replays; the complete v1 must short-circuit, not double-count b1
    EventStreams.mergeBatch(b1, 1L, stateDir)
    snap() shouldBe committed
    // crash MID-write: v2 exists without _SUCCESS → the replay must merge
    // from v1 (newest id < 2) and overwrite the torn directory
    val torn = new java.io.File(stateDir, "v000000002")
    torn.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(torn, "part-torn.parquet").toPath, Array[Byte](1, 2, 3))
    EventStreams.mergeBatch(b2, 2L, stateDir)
    val direct = batchEvents.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("spend"))
      .as[(Long, Long, Double)].collect().toSet
    snap() shouldBe direct
  }

  test("incremental merge: random splits + random replays all converge (property)") {
    // the one-shot aggregate is the oracle; any partition of the events
    // into batches, with any batch replayed any number of times, must
    // publish the same final state
    val direct = batchEvents.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("spend"))
      .as[(Long, Long, Double)].collect().toSet
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val stateDir = tempDir(s"graft_merge_prop_$seed")
      val nBatches = 2 + rnd.nextInt(3)
      val batches = (0 until nBatches).map { b =>
        batchEvents.filter($"event_id" % nBatches === b).toDF()
      }
      batches.zipWithIndex.foreach { case (b, id) =>
        EventStreams.mergeBatch(b, id.toLong, stateDir)
        // crash-replay an arbitrary already-committed batch
        if (rnd.nextBoolean()) {
          val replay = rnd.nextInt(id + 1)
          EventStreams.mergeBatch(batches(replay), replay.toLong, stateDir)
        }
      }
      val state = EventStreams.latestState(spark, stateDir).get
        .select($"user_id", $"n_events", $"spend".cast("double"))
        .as[(Long, Long, Double)].collect().toSet
      withClue(s"seed=$seed nBatches=$nBatches: ") { state shouldBe direct }
    }
  }

  test("streaming session_window (append + watermark) matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.Event]
    val all = toEvents(batchEvents.collect())
    val (b1, b2) = all.splitAt(all.size / 2)
    stream.addData(b1)
    stream.addData(b2)
    // append mode only emits sessions finalized by the watermark: push it
    // past every real event with a sentinel user, then filter it out
    val maxTs = batchEvents.agg(max($"ts")).as[java.sql.Timestamp].head()
    val sentinel = EventStreams.Event(-1L,
      java.sql.Timestamp.from(maxTs.toInstant.plusSeconds(24 * 3600)),
      -1L, "sentinel", 0.0, "{}")
    stream.addData(Seq(sentinel))
    val q = EventStreams.sessionWindows(stream.toDF())
      .writeStream.format("memory").queryName("sessions_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("sessions_t")
      .filter($"user_id" =!= -1L)
      .select($"user_id", unix_micros($"session_start"), unix_micros($"session_end"),
        $"session_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = Registry.byName("e5_session_window").run(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    streamed shouldBe batch
  }

  test("append-mode parquet sink writes watermark-finalized hourly buckets") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.Event]
    val all = toEvents(batchEvents.collect())
    stream.addData(all)
    // push the watermark past every event so all windows finalize
    val maxTs = batchEvents.agg(max($"ts")).as[java.sql.Timestamp].head()
    stream.addData(Seq(EventStreams.Event(-1L,
      java.sql.Timestamp.from(maxTs.toInstant.plusSeconds(48 * 3600)),
      -1L, "sentinel", 0.0, "{}")))
    val out = tempDir("graft_sink")
    val ckpt = tempDir("graft_ckpt")
    val q = EventStreams.startHourlyParquetSink(stream.toDF(), out, ckpt)
    q.processAllAvailable(); q.stop()

    val written = spark.read.parquet(out)
      .filter($"event_type" =!= "sentinel")
      .as[(String, String, Long, Double)].collect().toSet
    val batch = Registry.byName("e5_hourly_event_stats").run(spark, sfDir)
      .as[(String, String, Long, Double)].collect().toSet
    written shouldBe batch
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.Event]
    val all = toEvents(batchEvents.limit(200).collect())
    val (b1, b2) = all.splitAt(100)
    // duplicates: batch 2 replays half of batch 1 plus its own rows
    stream.addData(b1)
    stream.addData(b1.take(50) ++ b2)
    val q = EventStreams.dedupEvents(stream.toDF())
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val ids = spark.table("dedup_t").select($"event_id").as[Long].collect()
    ids.length shouldBe 200                       // replayed 50 dropped
    ids.toSet shouldBe all.map(_.event_id).toSet  // nothing lost
  }

  test("stream-stream interval join matches the batch binding of the same plan") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.Event]
    // split so many (click, purchase) pairs straddle the micro-batch
    // boundary — the join state must hold batch-1 clicks for batch-2
    // purchases
    val all = toEvents(batchEvents.orderBy($"ts", $"event_id").collect())
    val (b1, b2) = all.splitAt(all.size / 2)
    stream.addData(b1); stream.addData(b2)
    val q = EventStreams.purchaseClickJoin(stream.toDF())
      .writeStream.format("memory").queryName("ssjoin_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("ssjoin_t")
      .select($"user_id", $"purchase_id", $"click_id")
      .as[(Long, Long, Long)].collect().toSet
    // the same transform bound in batch mode (watermark is a no-op there)
    val batch = EventStreams.purchaseClickJoin(batchEvents)
      .select($"user_id", $"purchase_id", $"click_id")
      .as[(Long, Long, Long)].collect().toSet
    batch should not be empty
    streamed shouldBe batch
  }

  test("stream-stream LEFT OUTER join emits unmatched purchases after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.Event]
    val all = toEvents(batchEvents.orderBy($"ts", $"event_id").collect())
    val (b1, b2) = all.splitAt(all.size / 2)
    stream.addData(b1); stream.addData(b2)
    // outer rows only finalize once the watermark passes their lookback:
    // push it far past every real event with a sentinel user
    // outer rows need the watermark to pass their lookback AND a further
    // micro-batch to emit the expired state. The sentinels must reach
    // the EventTimeWatermark nodes, which sit BEHIND the per-branch
    // event_type filters — so each sentinel batch carries one fake
    // click AND one fake purchase (user -1, excluded below), and each
    // addData between processAllAvailable calls is its own batch.
    val maxTs = batchEvents.agg(max($"ts")).as[java.sql.Timestamp].head()
    val q = EventStreams.purchaseClickJoinLeftOuter(stream.toDF())
      .writeStream.format("memory").queryName("ssjoin_lo_t")
      .outputMode("append").start()
    q.processAllAvailable()
    Seq(48, 96).foreach { h =>
      val ts = java.sql.Timestamp.from(maxTs.toInstant.plusSeconds(h * 3600L))
      stream.addData(Seq(
        EventStreams.Event(-1L, ts, -1L, "click", 0.0, "{}"),
        EventStreams.Event(-2L, ts, -1L, "purchase", 0.0, "{}")))
      q.processAllAvailable()
    }
    q.stop()

    val streamed = spark.table("ssjoin_lo_t")
      .filter($"user_id" =!= -1L) // drop the sentinel purchases
      .select($"user_id", $"purchase_id",
        coalesce($"click_id", lit(-1L)).as("click_id"))
      .as[(Long, Long, Long)].collect().toSet
    val batch = EventStreams.purchaseClickJoinLeftOuter(batchEvents)
      .select($"user_id", $"purchase_id",
        coalesce($"click_id", lit(-1L)).as("click_id"))
      .as[(Long, Long, Long)].collect().toSet
    batch should not be empty
    // the outer join must produce strictly more rows than the inner one
    // (the click-less purchases), and match the batch binding exactly
    batch.count(_._3 == -1L) should be > 0
    withClue(s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}: ") {
      streamed shouldBe batch
    }
  }

  test("streaming forward fill converges to batch e5_forward_fill") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.Event]
    // time-ordered feed split mid-stream: the purchase-value carry must
    // survive the micro-batch boundary in per-user state
    val all = toEvents(batchEvents.orderBy($"ts", $"event_id").collect())
    val (b1, b2) = all.splitAt(all.size / 2)
    stream.addData(b1); stream.addData(b2)
    val q = EventStreams.forwardFillStream(stream.toDS())
      .writeStream.format("memory").queryName("ffill_t")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("ffill_t")
      .select($"event_id", $"user_id", $"event_type", $"last_purchase_value")
      .as[(Long, Long, String, Option[Double])].collect().toSet
    val batch = Registry.byName("e5_forward_fill").run(spark, sfDir)
      .as[(Long, Long, String, Option[Double])].collect().toSet
    batch.exists(_._4.isDefined) shouldBe true
    streamed shouldBe batch
  }

  test("transformWithState session stats match e5_sessionization per user") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider (also
    // the provider a deployment with state > heap runs); scope it to
    // this query and restore the session default after
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[EventStreams.Event]
      val updates = scala.collection.mutable.ArrayBuffer[EventStreams.UserSessions]()
      // time-ordered feed split mid-stream: users spanning the split must
      // NOT double-count the session at the boundary (state carry)
      val all = toEvents(batchEvents.orderBy($"ts", $"event_id").collect())
      val (b1, b2) = all.splitAt(all.size / 2)
      stream.addData(b1); stream.addData(b2)
      val q = EventStreams.userSessionStatsTws(stream.toDS())
        .writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStreams.UserSessions], _: Long) =>
          updates.synchronized { updates ++= batch.collect() }; ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()

      val finalPerUser = updates.groupBy(_.user_id).map { case (u, us) =>
        u -> { val last = us.last; (last.n_sessions, last.n_events) }
      }
      val batch = Registry.byName("e5_sessionization").run(spark, sfDir)
        .select($"user_id", $"n_sessions", $"n_events")
        .as[(Long, Long, Long)].collect()
        .map { case (u, s, n) => u -> ((s, n)) }.toMap
      finalPerUser shouldBe batch
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("event-time-timer closedSessions == batch session_window up to the watermark; state evicts") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[EventStreams.Event]
      // eight time-ordered chunks: the watermark advances mid-stream, so
      // timers close sessions ACROSS batches, not only at end-of-input
      val all = toEvents(batchEvents.orderBy($"ts", $"event_id").collect())
      val chunks = all.grouped(math.max(1, all.size / 8)).toSeq
      val q = EventStreams.closedSessions(stream.toDS())
        .writeStream.format("memory").queryName("closed_t")
        .outputMode("append").start()
      chunks.foreach { c => stream.addData(c); q.processAllAvailable() }
      q.stop()

      def micros(t: java.sql.Timestamp): Long =
        Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      def ceilMs(us: Long): Long = Math.floorDiv(us + 999L, 1000L)
      // the exact watermark the query finished on — the closure boundary
      val wmMs = java.time.Instant
        .parse(q.lastProgress.eventTime.get("watermark")).toEpochMilli
      val streamed = spark.table("closed_t")
        .as[EventStreams.ClosedSession].collect()
        .map(c => (c.user_id, micros(c.session_start), micros(c.session_end),
          c.n_events)).toSet
      // batch twin: the SAME sessionWindows transform bound in batch mode
      val batchAll = EventStreams.sessionWindows(batchEvents)
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect()
        .map { case (u, s, e, n) => (u, micros(s), micros(e), n) }
      val expectClosed = batchAll.filter(s => ceilMs(s._3) <= wmMs).toSet
      streamed shouldBe expectClosed
      // eviction: closed sessions leave NO state behind — the final state
      // footprint is bounded by the still-open tail (sessions + their
      // timers), nowhere near the ~session-count a no-delete processor
      // would retain
      val openCount = batchAll.count(s => ceilMs(s._3) > wmMs).toLong
      val stateRows = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get
        .stateOperators.map(_.numRowsTotal).sum
      stateRows should be <= 2L * openCount + 2
      stateRows.toInt should be < batchAll.length / 2
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("SessionCloserProcessor.insert: adversarial lateness — earlier interval, two-interval bridge, exact half-open boundaries") {
    import EventStreams.OpenSession
    val G = 1800L * 1000000L // 30 min in µs — closedSessions' default gap
    val p = new EventStreams.SessionCloserProcessor(G)
    def s(start: Long, last: Long, n: Long) = OpenSession(start, last, n)

    // (a) a late-but-admitted event PREDATING the only open session by
    // more than the gap opens a new, earlier, DISJOINT interval — the
    // reason per-key state is a list, not a single session
    p.insert(List(s(10 * G, 10 * G + 5, 3)), 8 * G) shouldBe
      List(s(8 * G, 8 * G, 1), s(10 * G, 10 * G + 5, 3))

    // (b) one event within gap of BOTH open intervals BRIDGES them:
    // single merged interval, event counts summed (+1 for the bridger)
    val two = List(s(0L, 100L, 2), s(100L + 2 * G - 50L, 100L + 2 * G, 4))
    p.insert(two, 100L + G - 1) shouldBe List(s(0L, 100L + 2 * G, 7))

    // (c) exact half-open boundaries: delta == gap starts a NEW session
    // on BOTH sides (the session_window / e5_range_join_sessions rule);
    // one µs inside either bound merges
    val one = List(s(5 * G, 6 * G, 2))
    p.insert(one, 4 * G) shouldBe List(s(4 * G, 4 * G, 1), s(5 * G, 6 * G, 2))
    p.insert(one, 7 * G) shouldBe List(s(5 * G, 6 * G, 2), s(7 * G, 7 * G, 1))
    p.insert(one, 4 * G + 1) shouldBe List(s(4 * G + 1, 6 * G, 3))
    p.insert(one, 7 * G - 1) shouldBe List(s(5 * G, 7 * G - 1, 3))
  }

  test("streaming MinHash near-dup flags stream docs against the static band index") {
    implicit val sqlCtx = spark.sqlContext
    // static index: two reference docs -> 8 band keys each
    val ref = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val idx = graft.llmops.LlmOps.minhashBandKeys(ref)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = java.sql.Timestamp.from(t0.toInstant.plusSeconds(m * 60L))
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    stream.addData(Seq(
      // near-copy of ref 100 (one word changed): most shingles shared ->
      // at least one of 8 bands collides with overwhelming probability
      (ts(0), 1L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (ts(1), 2L, "completely different words about spark physical plans here")))
    stream.addData(Seq(
      (ts(2), 3L, "one two three four five six seven eight nine ten"), // exact copy of 101
      (ts(3), 1L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))) // re-arrival
    val q = EventStreams.nearDupFlags(
        stream.toDF().toDF("ts", "doc_id", "text"), idx)
      .writeStream.format("memory").queryName("neardup_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // docs 1 and 3 flagged once each; the unrelated doc 2 absent; the
    // duplicate arrival of doc 1 collapsed by the watermark dedup
    spark.table("neardup_t").select($"doc_id").as[Long].collect().sorted.toSeq shouldBe
      Seq(1L, 3L)
    // batch binding of the same plan agrees (stream == batch)
    val batchDocs = Seq(
      (ts(0), 1L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (ts(1), 2L, "completely different words about spark physical plans here"),
      (ts(2), 3L, "one two three four five six seven eight nine ten")
    ).toDF("ts", "doc_id", "text")
    EventStreams.nearDupFlags(batchDocs, idx)
      .select($"doc_id").as[Long].collect().sorted.toSeq shouldBe Seq(1L, 3L)
  }

  test("streaming decontamination flags stream docs against the static eval index") {
    implicit val sqlCtx = spark.sqlContext
    // static eval split: one doc -> two distinct 5-grams
    val eval = Seq((0L, "alpha beta gamma delta eps zeta")).toDF("doc_id", "text")
    val evalIdx = graft.llmops.LlmOps.docNgrams(eval, graft.llmops.LlmOps.decontamN)
      .select($"doc_id".as("eval_id"), $"s")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = java.sql.Timestamp.from(t0.toInstant.plusSeconds(m * 60L))
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    stream.addData(Seq(
      (ts(0), 1L, "xx alpha beta gamma delta eps yy"),    // shares a 5-gram
      (ts(1), 2L, "one two three four five six seven"))) // clean
    stream.addData(Seq(
      (ts(2), 3L, "alpha beta gamma delta eps zeta tail"), // flagged in batch 2
      (ts(3), 1L, "xx alpha beta gamma delta eps yy"),     // re-arrival -> deduped
      // an EVAL-split doc (doc_id % 50 == 0) arriving on the stream: its
      // text matches the index verbatim, but the train-split filter must
      // drop it before the join — an eval doc cannot flag itself
      (ts(4), 50L, "alpha beta gamma delta eps zeta")))
    val q = EventStreams.decontamFlags(
        stream.toDF().toDF("ts", "doc_id", "text"), evalIdx)
      .writeStream.format("memory").queryName("decontam_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // one flag per contaminated doc: 1 and 3, the clean doc absent, the
    // duplicate arrival of doc 1 collapsed by the watermark-bounded dedup,
    // and the eval-split doc 50 excluded by the train filter
    spark.table("decontam_t").select($"doc_id").as[Long].collect().sorted.toSeq shouldBe
      Seq(1L, 3L)
  }
}
