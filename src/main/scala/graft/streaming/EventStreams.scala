package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch event analytics (SURVEY.md
  * §2.10; graft.events.EventAnalytics holds the oracle-checkable batch
  * forms). Transforms are source-agnostic: they take any streaming (or
  * batch — the same plans bind in both modes) DataFrame with the events
  * schema, so tests drive them from MemoryStream and production from
  * readStream over a file/Kafka source.
  *
  * Scale posture: state is keyed by user_id / window — bounded per key and
  * evicted by watermark; no stream-side global state. The same shuffle
  * keys as the batch twins, so a 100 TB/day stream partitions identically
  * to the batch backfill.
  */
object EventStreams {

  /** events table schema (driver testdata events.parquet). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Production entry: an unbounded stream over a growing parquet
    * directory (each new file = one micro-batch of events). A stream
    * needs a DECLARED schema, and the driver-owned physical layout has
    * drifted before (timestamp[ns] → timestamp[us]/NTZ in round 10), so
    * the entry probes the dir's CURRENT physical schema with a
    * one-footer batch read, declares that on the stream, and routes it
    * through the same [[graft.T.canonical]] normalizer as the batch
    * side — ns/NTZ/width drift is absorbed identically in both modes
    * instead of silently mismatching a static schema declaration.
    * [[eventSchema]] remains the canonical POST-normalization shape
    * every downstream transform binds against. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    // mergeSchema for the same reason as the batch read (T.apply): the
    // probed schema must be the files' UNION, not one file's accident.
    // A width-evolved dir (int32 beside int64 — unmergeable) falls back
    // to the canonical events contract, T.apply's fallback exactly.
    val physical =
      try spark.read
        .option("pathGlobFilter", "*.parquet")
        .option("mergeSchema", "true").parquet(dir).schema
      catch {
        case e: Throwable if {
          def msgs(t: Throwable): Seq[String] =
            if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
          msgs(e).exists(m => m.contains("CANNOT_MERGE_SCHEMAS") ||
            m.contains("Failed merging schemas"))
        } =>
          org.apache.spark.sql.types.StructType(
            graft.T.canonical("events").map { case (n, t) =>
              org.apache.spark.sql.types.StructField(n, t)
            })
      }
    graft.T.normalized(spark, "events",
      spark.readStream
        .schema(physical)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(dir))
  }

  /** Streaming twin of e5_hourly_event_stats: tumbling 1-hour windows,
    * late data admitted up to `watermark`. Append-mode-ready (watermarked
    * windows finalize and evict). */
  def hourlyStats(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour_bucket"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming twin of e5_sliding_window_counts' count/sum columns:
    * OVERLAPPING 1-hour windows sliding every 15 minutes — each event is
    * Expanded into its 4 covering windows before one watermarked
    * stateful aggregate, exactly the batch plan's shape; windows
    * finalize and evict once the watermark passes their end. The batch
    * twin's `n_users` (COUNT DISTINCT) column is intentionally absent:
    * streaming aggregates cannot hold exact distincts, and the
    * composable streaming answer is the dedupEvents (per-user-window
    * dropDuplicates) stage feeding this one. EventStreamsSpec proves
    * stream == batch on the shared columns. */
  def slidingCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 2)
          .as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("n_events"), col("sum_value"))

  /** Row-level data-quality rules for the event stream — the streaming
    * twin of the batch `q_constraint_audit` (which verifies a published
    * TABLE; this gates rows at INGEST). Each rule is (name, Column
    * predicate, ANSI-SQL twin of the predicate) — the SQL twin feeds
    * the oracle of the batch audit query (`e5_quality_gate_audit`), so
    * rule names and semantics have ONE definition; a row's `violations`
    * array lists every rule it fails (coalesce-to-false so a NULL
    * predicate — e.g. a range rule over a NULL value — counts as a
    * violation rather than silently passing; the SQL twin relies on
    * the same three-valued semantics via NOT coalesce(pred, FALSE)). */
  private[graft] val eventRules: Seq[(String, org.apache.spark.sql.Column, String)] = Seq(
    ("value_non_negative", col("value").isNotNull && col("value") >= 0,
      "value IS NOT NULL AND value >= 0"),
    ("known_event_type",
      col("event_type").isin("click", "error", "purchase", "signup", "view"),
      "event_type IN ('click', 'error', 'purchase', 'signup', 'view')"),
    ("user_present", col("user_id").isNotNull, "user_id IS NOT NULL"),
    ("ts_present", col("ts").isNotNull, "ts IS NOT NULL"),
    // Wild-clock defense: a single corrupt timestamp (epoch 0 from an
    // uninitialized field, 2262 from a ns-int64 boundary) makes every
    // MIN/MAX-derived time spine span centuries — measured on the
    // round-12 extreme-timestamp gate, where one such row exploded the
    // dense hour grid from 17k to 25.6M rows. Spine/window operators
    // are DOWNSTREAM of this gate by contract (like vector ops are
    // downstream of indexability), so the retention window is the
    // bound that keeps their output calendar-sized. The boundary is
    // spelled as fixed EPOCH-MICROSECOND integers on both engines —
    // a string-literal cast is interpreted in the SESSION timezone on
    // the Spark side, so a production stream that doesn't pin
    // spark.sql.session.timeZone=UTC would shift the window by the TZ
    // offset and diverge from the (naive-timestamp) batch oracle;
    // unix_micros vs epoch_us compare the same integers regardless of
    // session TZ (round-13 advisory).
    ("ts_in_retention",
      unix_micros(col("ts")) >= lit(946684800000000L) && // 2000-01-01T00:00Z
        unix_micros(col("ts")) < lit(4102444800000000L), // 2100-01-01T00:00Z
      "epoch_us(ts) >= 946684800000000 AND epoch_us(ts) < 4102444800000000"))

  /** Append a `violations: array<string>` column naming every failed
    * rule. Pure projection — binds identically in batch and streaming. */
  def withViolations(df: DataFrame): DataFrame =
    df.withColumn("violations", array_compact(array(eventRules.map {
      case (name, cond, _) => when(!coalesce(cond, lit(false)), lit(name))
    }: _*)))

  /** Streaming QUALITY GATE with a dead-letter queue: every micro-batch
    * splits into clean rows (written to `goodDir`) and violating rows
    * (written to `quarantineDir`, one row per (row, failed rule) so the
    * quarantine is directly aggregable by rule). Both sinks write one
    * immutable `b<batchId>` directory per micro-batch with overwrite
    * semantics, so a replayed batch (foreachBatch is at-least-once)
    * rewrites its own directory instead of appending duplicates — the
    * same replay-idempotency discipline as [[mergeBatch]]. At scale the
    * gate is a single projection + two partition-local writes; no
    * shuffle, no state. */
  def startQualityGate(events: DataFrame, goodDir: String,
      quarantineDir: String, checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // same resume discipline as [[startIncrementalMerge]]: without a
    // checkpoint a fresh query renumbers batches from 0, overwriting
    // only b0 and leaving STALE b1..bN from the previous run mixed
    // into downstream glob reads — rejected up front ([[childDirs]]
    // resolves through the Hadoop FS API so the check also fires on
    // hdfs:///object-store paths, where java.io.File would silently
    // see nothing)
    def hasBatchDirs(dir: String): Boolean =
      childDirs(events.sparkSession, dir, "b\\d+").nonEmpty
    require(checkpointLocation.isDefined ||
        (!hasBatchDirs(goodDir) && !hasBatchDirs(quarantineDir)),
      s"$goodDir / $quarantineDir already hold gated batches but no " +
        "checkpointLocation was given: a fresh query renumbers batches from 0 " +
        "and stale batch directories from the prior run would survive. Pass " +
        "the original checkpoint to resume, or point at empty directories.")
    val writer = events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        gateBatch(batch.toDF(), batchId, goodDir, quarantineDir)
      }
    checkpointLocation.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** One micro-batch of the quality gate — package-visible so the spec
    * can drive replays directly. */
  private[streaming] def gateBatch(batch: DataFrame, batchId: Long,
      goodDir: String, quarantineDir: String): Unit = {
    val tagged = withViolations(batch)
    tagged.filter(size(col("violations")) === 0).drop("violations")
      .write.mode("overwrite").parquet(f"$goodDir/b$batchId%09d")
    tagged.filter(size(col("violations")) > 0)
      .withColumn("rule", explode(col("violations"))).drop("violations")
      .write.mode("overwrite").parquet(f"$quarantineDir/b$batchId%09d")
    ()
  }

  /** foreachBatch incremental MERGE — the production streaming-upsert
    * sink (the streaming twin of the batch `q_merge_upsert`): each
    * micro-batch re-aggregates ONLY its own rows, full-outer-merges them
    * into the persisted per-user state, and publishes a new immutable
    * state version (`v<batchId>`) — readers always see a complete
    * snapshot, never a half-written overwrite, and the previous version
    * stays readable until the new one lands (poor-man's MVCC; a
    * lakehouse table format would do the same commit atomically).
    *
    * Scale: per batch, work is O(batch) + O(|users in state|) with both
    * sides aggregated on user_id before the merge join — the base fact
    * history is NEVER rescanned. Spend accumulates as DECIMAL(18,2) in
    * the state schema so merged totals stay exact across any batch
    * split (the spec proves batch-split invariance against the batch
    * twin).
    *
    * Recovery: pass `checkpointLocation` in production so a restarted
    * query resumes from committed offsets; WITH a checkpoint, replayed
    * batches are safe because [[mergeBatch]] is idempotent per batchId.
    * WITHOUT one, batch ids restart from 0 on every run, so resuming
    * against a stateDir holding prior versions would make the
    * completed-version short-circuit silently DROP the new batch-0
    * data — that combination is rejected up front. */
  def startIncrementalMerge(events: DataFrame, stateDir: String,
      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(checkpointLocation.isDefined ||
        completedVersions(events.sparkSession, stateDir).isEmpty,
      s"stateDir $stateDir already holds merged state but no checkpointLocation " +
        "was given: a fresh query renumbers batches from 0 and the idempotency " +
        "short-circuit would drop the new data. Pass the original checkpoint " +
        "to resume, or point at an empty stateDir.")
    val writer = events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeBatch(batch.toDF(), batchId, stateDir)
      }
    checkpointLocation.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** One micro-batch of the incremental merge — REPLAY-IDEMPOTENT, which
    * is what makes the sink exactly-once under foreachBatch's at-least-
    * once contract: a crash between the state write and the streaming
    * checkpoint commit re-runs the batch, so (a) an already-published
    * complete `v<batchId>` short-circuits (the delta was merged; merging
    * it again would double-count), and (b) the merge base is the newest
    * version with id STRICTLY BELOW batchId — never v<batchId> itself,
    * which a replay after a torn (no `_SUCCESS`) write would otherwise
    * pick up. Package-visible so the spec can drive replays directly. */
  private[streaming] def mergeBatch(batch: DataFrame, batchId: Long,
      stateDir: String): Unit = {
    val spark = batch.sparkSession
    if (completedVersions(spark, stateDir).exists(_._1 == batchId)) return
    val delta = batch
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(18, 2))
          .as("spend"))
    val merged = stateBefore(spark, stateDir, batchId) match {
      case Some(prev) => prev.unionByName(delta)
        .groupBy(col("user_id"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("spend")).cast(DecimalType(18, 2)).as("spend"))
      case None => delta
    }
    merged.write.mode("overwrite")
      .parquet(f"$stateDir/v$batchId%09d")
    ()
  }

  /** (version id, dir) of every COMPLETE (`_SUCCESS`-marked) state
    * version, ascending. A torn write (crash mid-parquet) has no marker
    * and is invisible — its directory is simply overwritten on replay. */
  /** Child directories of `dir` whose names match `pattern`, via the
    * HADOOP FileSystem API — java.io.File silently returns null for any
    * URI-scheme path (hdfs://, s3a://), which would make every
    * state/resume check vacuously pass exactly where production sinks
    * live. Resolves the filesystem from the session's Hadoop conf, so
    * local paths, HDFS, and object stores all behave identically. */
  private def childDirs(spark: SparkSession, dir: String,
      pattern: String): Seq[org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches(pattern))
      .map(_.getPath)
  }

  private def completedVersions(spark: SparkSession,
      stateDir: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    lazy val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    childDirs(spark, stateDir, "v\\d+")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(p => (p.getName.drop(1).toLong, p))
      .sortBy(_._1)
  }

  /** The newest complete state version under `stateDir`, if any — what
    * READERS consume (always a full snapshot, never a torn write). */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    completedVersions(spark, stateDir).lastOption
      .map { case (_, p) => spark.read.parquet(p.toString) }

  /** The merge base for batch `batchId`: newest complete version with a
    * strictly smaller id. */
  private def stateBefore(spark: SparkSession, stateDir: String,
      batchId: Long): Option[DataFrame] =
    completedVersions(spark, stateDir).filter(_._1 < batchId).lastOption
      .map { case (_, p) => spark.read.parquet(p.toString) }

  /** Streaming sessionization via the native session_window generator:
    * one row per (user, gap-merged session), half-open [ts, ts+gap)
    * semantics — a gap of EXACTLY 30 minutes starts a new session, and
    * the e5_session_window / e5_range_join_sessions oracles use `>= gap`
    * to match. (The lag+cumsum batch twin e5_sessionization keeps the
    * reference's `> gap` rule; its own oracle matches that instead.) */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("session_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("session_events"))

  /** Stream-stream interval join (§2.10): each purchase joined to the
    * same user's clicks in the preceding 30 minutes. Both sides carry
    * watermarks and the join condition bounds event time on BOTH sides,
    * so Spark can size and evict the join state: clicks older than
    * watermark + 30 min can never match a future purchase and are
    * dropped. Without the time bound the click state would grow without
    * limit — the stream-stream scale killer. Append-mode-ready. */
  def purchaseClickJoin(events: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"))
  }

  /** Stream-stream LEFT OUTER interval join — [[purchaseClickJoin]] with
    * unmatched purchases kept (click columns null): the "purchases with
    * no preceding click" feed an attribution pipeline needs as a stream.
    * Outer results CANNOT emit eagerly: a purchase is only provably
    * click-less once the watermark passes the end of its 30-minute
    * lookback, so unmatched rows surface with watermark delay — the
    * inherent outer-join latency, not an implementation artifact. The
    * same both-sides time bound keeps the join state evictable; Spark
    * rejects an unbounded outer stream-stream join outright. */
  def purchaseClickJoinLeftOuter(events: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"))
  }

  /** S5 streaming analog: append-mode parquet sink for the watermarked
    * hourly aggregation — windows finalize when the watermark passes,
    * each micro-batch appends its finalized buckets exactly once
    * (checkpointed offsets make restarts idempotent). */
  def startHourlyParquetSink(events: DataFrame, outPath: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    hourlyStats(events)
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .start()

  /** Streaming exact-dedup (E1's streaming twin): drop events whose
    * event_id was already seen, with state bounded by the watermark —
    * duplicates arriving within `watermark` of the original are dropped,
    * state for older keys is evicted. The streaming half of the
    * batch sha-dedup: same key discipline, incremental. */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming decontamination (llm_e2_decontamination's twin) — the
    * stream-STATIC join pattern: an unbounded stream of documents
    * (ts, doc_id, text) is checked against the static eval n-gram index,
    * which is built once and broadcast into every micro-batch; the join
    * itself keeps no stream-side state. A doc matching several eval
    * n-grams would flag repeatedly, so flags are collapsed per doc_id
    * with watermark-bounded dedup state. Emits one (doc_id, ts) per
    * contaminated doc, append-mode-ready.
    *
    * Mirrors the batch twin's split discipline: eval-split docs arriving
    * on the stream are dropped up front (an eval doc would otherwise
    * "contaminate" against itself), so only training docs are checked. */
  def decontamFlags(docs: DataFrame, evalNgrams: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    docs
      .filter(graft.llmops.LlmOps.isTrainDoc(col("doc_id")))
      .withWatermark("ts", watermark)
      .select(col("ts"), col("doc_id"), split(col("text"), " ", -1).as("t"))
      .filter(size(col("t")) >= graft.llmops.LlmOps.decontamN)
      .select(col("ts"), col("doc_id"),
        explode(expr(graft.llmops.LlmOps.ngramExpr(graft.llmops.LlmOps.decontamN))).as("s"))
      .join(broadcast(evalNgrams.select(col("s"))), Seq("s"), "left_semi")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("ts"))

  /** Streaming MinHash near-dup flagging — E2's LSH path as a
    * stream-STATIC join (the decontamFlags pattern, but approximate):
    * each arriving doc projects to its 8 MinHash band keys (pure
    * projection, no stream-side aggregate — see
    * [[graft.llmops.LlmOps.minhashBandKeys]]) and joins the broadcast
    * static band index; any band collision flags the doc as a probable
    * near-duplicate of the indexed corpus. Flags collapse per doc_id
    * with watermark-bounded dedup (a doc colliding in several bands
    * would otherwise flag once per collision). Emits (doc_id, ts),
    * append-ready.
    *
    * Scale: the static index is (index_doc, band, bh) — 8 rows per
    * indexed doc; stream-side per-row cost is 16 array_min passes over
    * the shingle array inside codegen, and the only state is the dedup
    * keys inside the watermark. This is the ingest-time "is this new
    * document a near-copy of anything we already hold" gate. */
  def nearDupFlags(docs: DataFrame, indexBands: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    val src =
      if (docs.isStreaming) docs.withWatermark("ts", watermark) else docs
    val collided = graft.llmops.LlmOps.minhashBandKeys(
        src.select(col("ts"), col("doc_id"), col("text")))
      .join(broadcast(indexBands
        .select(col("band"), col("bh"), col("doc_id").as("index_doc_id"))),
        Seq("band", "bh"), "inner")
      .filter(col("doc_id") =!= col("index_doc_id"))
    // watermark-bounded dedup is a streaming-only operator; the batch
    // binding collapses flags deterministically with min(ts) — a
    // dropDuplicates here would keep a partition-dependent survivor
    // when a doc collides in several bands, while the streaming path
    // deterministically keeps first arrival
    if (docs.isStreaming)
      collided.dropDuplicatesWithinWatermark("doc_id")
        .select(col("doc_id"), col("ts"))
    else
      collided.groupBy(col("doc_id")).agg(min(col("ts")).as("ts"))
        .select(col("doc_id"), col("ts"))
  }

  /** One event for the typed stateful path. */
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Per-user running aggregate carried across micro-batches. */
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long,
      last_ts: Long)

  private val gapMicros: Long = 30L * 60 * 1000 * 1000

  /** µs-exact epoch of an event time (Timestamp.getTime is ms-truncated;
    * the data is µs) — the sort and gap key of the typed stateful paths. */
  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** One filled event for the streaming forward-fill. `last_purchase_value`
    * is None until the user's first purchase (matching batch NULL). */
  final case class FilledEvent(event_id: Long, user_id: Long, event_type: String,
      last_purchase_value: Option[Double])

  final case class FillState(seen: Boolean, v: Double)

  /** Streaming IGNORE-NULLS forward fill (e5_forward_fill's twin): every
    * event carries the user's most recent purchase value, with the carry
    * surviving across micro-batches in per-user state (one Boolean +
    * Double per user — bounded, no timeout needed for a finite user
    * dimension; add a TTL timeout for an unbounded one). Purchase rows
    * update the carry BEFORE emitting, so a purchase carries its own
    * value — the batch window (ROWS ... AND CURRENT ROW) does the same.
    * Micro-batch iterators are not time-ordered; order is restored per
    * batch, so stream == batch holds when batches partition event time
    * (the file/Kafka ingestion order). */
  def forwardFillStream(events: Dataset[Event]): Dataset[FilledEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FillState, FilledEvent](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[Event], state: GroupState[FillState]) =>
          var st = state.getOption.getOrElse(FillState(seen = false, 0.0))
          val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val out = sorted.map { e =>
            if (e.event_type == "purchase") st = FillState(seen = true, e.value)
            FilledEvent(e.event_id, user, e.event_type,
              if (st.seen) Some(st.v) else None)
          }
          if (sorted.nonEmpty) state.update(st)
          out.iterator
      }
  }

  /** Custom-state per-user session counting on the transformWithState
    * API (Spark 4's arbitrary-state successor to
    * flatMapGroupsWithState) with the exact batch gap rule (`> 30 min`
    * starts a new session); state = (counts so far, last event time),
    * and the updated per-user row is emitted each batch (Update mode).
    * This is the shape for logic session_window can't express (e.g.
    * carrying counters across sessions). State is a named, typed
    * [[org.apache.spark.sql.streaming.ValueState]] obtained from the
    * processor handle — composable (a processor can hold many
    * value/list/map states), TTL-capable per state, and RocksDB-backed
    * (the provider transformWithState requires, which is also the one a
    * 100 TB deployment runs for state larger than executor heap).
    * Micro-batch iterators are not time-ordered; order is restored per
    * batch. EventStreamsSpec checks the per-user totals against
    * e5_sessionization. */
  final class SessionStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserSessions] {
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[UserSessions] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[UserSessions]("sessions",
        org.apache.spark.sql.Encoders.product[UserSessions],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserSessions] = {
      val prev = Option(state.get())
        .getOrElse(UserSessions(user, 0L, 0L, Long.MinValue))
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      val next = sorted.foldLeft(prev) { (st, e) =>
        val tsMicros = micros(e.ts)
        val newSession = st.last_ts == Long.MinValue || tsMicros - st.last_ts > gapMicros
        UserSessions(user,
          st.n_sessions + (if (newSession) 1 else 0),
          st.n_events + 1,
          tsMicros)
      }
      if (sorted.isEmpty) Iterator.empty
      else { state.update(next); Iterator.single(next) }
    }
  }

  def userSessionStatsTws(events: Dataset[Event]): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new SessionStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** One open (not yet watermark-closed) session interval. `start_us`/
    * `last_us` are epoch-µs event times of the first/latest event. */
  final case class OpenSession(start_us: Long, last_us: Long, n_events: Long)

  /** One finalized session, emitted exactly once when the watermark
    * passes `last + gap`. `session_end` is last_event + gap — the same
    * half-open [start, last+gap) bound the native session_window emits,
    * so the batch binding of [[sessionWindows]] is the oracle. */
  final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  /** EVENT-TIME-TIMER session closer — the state-EVICTING per-user
    * sessionizer ([[SessionStatsProcessor]]'s complement for an
    * unbounded key dimension): gap-merged sessions are held open while
    * events can still join them, emitted as [[ClosedSession]] rows when
    * the event-time watermark passes `last + gap`, and their state rows
    * are DELETED on emission. Per-key state is therefore bounded by the
    * user's open sessions inside the watermark allowance — users who go
    * quiet cost nothing after one gap+watermark window, where the no-TTL
    * running-counter processor retains every user ever seen (both
    * postures are measured side by side by graft.StreamStateProbe: this
    * curve collapses on the final watermark advance, tws_sessions stays
    * at the user dimension).
    *
    * Semantics notes:
    *  - A late-but-admitted event (inside the watermark allowance) can
    *    predate the open session by more than the gap, so per-key state
    *    is a small LIST of disjoint open sessions (ListState), merged
    *    interval-union style as events arrive; closing only ever
    *    happens via watermark, so a closed session can never receive a
    *    late member (admitted events are >= watermark > last + gap of
    *    anything closed) — the same finality argument session_window
    *    relies on.
    *  - Gap rule matches session_window: delta == gap starts a NEW
    *    session (half-open windows), which is also the
    *    e5_range_join_sessions oracle rule.
    *  - ONE registered timer per key (the earliest open `last + gap`,
    *    ceil'd to ms — timers are ms, event times µs); stale timers from
    *    extended sessions fire early and no-op against the recomputed
    *    bound.
    */
  final class SessionCloserProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, ClosedSession] {
    @transient private var state:
      org.apache.spark.sql.streaming.ListState[OpenSession] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getListState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def ceilMs(us: Long): Long = Math.floorDiv(us + 999L, 1000L)
    private def toTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    private def closed(user: Long, s: OpenSession): ClosedSession =
      ClosedSession(user, toTs(s.start_us), toTs(s.last_us + gapUs), s.n_events)

    /** Insert one event time into the disjoint sorted session list,
      * merging every session it bridges (strictly-within-gap rule).
      * Package-visible so EventStreamsSpec can pin the adversarial
      * lateness paths directly (new-earlier-interval, two-interval
      * bridge, exact half-open boundaries) without a streaming run. */
    private[streaming] def insert(sessions: List[OpenSession], t: Long): List[OpenSession] = {
      val (touch, rest) = sessions.partition(s =>
        t > s.start_us - gapUs && t < s.last_us + gapUs)
      val merged = touch.foldLeft(OpenSession(t, t, 1L)) { (a, s) =>
        OpenSession(math.min(a.start_us, s.start_us),
          math.max(a.last_us, s.last_us), a.n_events + s.n_events)
      }
      (merged :: rest).sortBy(_.start_us)
    }

    /** Re-point the key's single timer at the earliest open close bound. */
    private def syncTimer(sessions: List[OpenSession]): Unit = {
      val desired = sessions.map(s => ceilMs(s.last_us + gapUs)).minOption
      val existing = getHandle.listTimers().toSet
      existing.filterNot(desired.contains).foreach(getHandle.deleteTimer)
      desired.filterNot(existing.contains).foreach(getHandle.registerTimer)
    }

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ClosedSession] = {
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      var sessions = state.get().toList
      sorted.foreach { e => sessions = insert(sessions, micros(e.ts)) }
      state.put(sessions.toArray)
      syncTimer(sessions)
      Iterator.empty // emission is watermark-driven only
    }

    override def handleExpiredTimer(user: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[ClosedSession] = {
      val wmMs = timerValues.getCurrentWatermarkInMs()
      val sessions = state.get().toList
      val (done, open) = sessions.partition(s => ceilMs(s.last_us + gapUs) <= wmMs)
      if (open.isEmpty) state.clear() else state.put(open.toArray)
      syncTimer(open)
      done.sortBy(_.start_us).map(closed(user, _)).iterator
    }
  }

  /** Closed-session stream via [[SessionCloserProcessor]]: watermarked,
    * append-mode, RocksDB-backed (transformWithState requirement), with
    * per-user state deleted as sessions finalize. The batch binding of
    * [[sessionWindows]] is the correctness twin (EventStreamsSpec). */
  def closedSessions(events: Dataset[Event], gap: String = "30 minutes",
      watermark: String = "1 hour"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(gapUs.months == 0 && gapUs.days == 0,
      s"session gap must be sub-day, got '$gap'")
    events
      .withWatermark("ts", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionCloserProcessor(gapUs.microseconds),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }
}
