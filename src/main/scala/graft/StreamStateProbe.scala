package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming STATE-STORE boundedness probe (round-14 mandate #1): the
  * §2.10 surface asserts "watermark-bounded state" and the per-batch
  * floor gate (tools/stream_diff.py) catches driver-work accretion, but
  * neither ever RECORDED state size over a sustained run — a state leak
  * (a watermark that never advances a partition, a session that never
  * closes, missing TTL on arbitrary state) passes both and kills a
  * 100 TB stream in hours. This main drives the stateful pipelines over
  * a long chunked run and gates that per-batch state ROWS plateau after
  * warm-up instead of growing monotonically.
  *
  * Ingest staging: the sfDir's events are split into `chunks` files in
  * EVENT-TIME order (one micro-batch each under `maxFilesPerTrigger=1`)
  * with a deterministic out-of-order mix layered on top, so watermark
  * finalization is actually exercised rather than vacuously satisfied:
  *  - rows in the last hour of their chunk with event_id % 5 == 0 are
  *    displaced one chunk later — they arrive behind the watermark's
  *    advance but inside the 1-hour allowance: ADMITTED late rows that
  *    reopen/extend existing state;
  *  - rows with event_id % 89 == 7 are displaced four chunks (~45h at
  *    the default 64-chunk split of the 30-day fixture) — far beyond
  *    the allowance: DROPPED stragglers, counted by the state store's
  *    numRowsDroppedByWatermark (the probe asserts this path fired).
  * Chunk files get strictly increasing mtimes (2s apart) so the file
  * source replays them in event-time order. The global event-time rank
  * behind the chunk split is computed scale-safely (range partition +
  * per-partition row_number + broadcast offsets — no single-partition
  * stage; r14 mandate #4), so the probe can be pointed at replicated
  * big dirs; the staged dir is cached under /tmp (recipe-versioned,
  * like DupProbe's).
  *
  * Pipelines (all on the RocksDB state store provider — the one a
  * deployment with state larger than heap runs, and the one
  * transformWithState requires): the watermarked tumbling-window agg
  * (`hourly_stats`), native session windows (`sessions`), watermarked
  * dedup (`dedup`), the stream-stream interval join (`join`), and the
  * transformWithState per-user sessionizer (`tws_sessions`), and the
  * event-time-timer session closer (`session_closer`). The watermark-
  * evicted pipelines' row curves must go FLAT once the watermark starts
  * finalizing; `tws_sessions` holds one row per user with NO timeout by
  * design (finite user dimension — its own scaladoc documents the
  * trade), so its curve plateaus at the distinct-user count instead —
  * the same gate covers both shapes, and `session_closer` is the
  * timer-evicting counterpoint measured side by side with it.
  *
  * Gate, per pipeline: with B batches, state rows are sampled per batch
  * from `StreamingQueryProgress.stateOperators` (numRowsTotal summed
  * across operators); plateau requires max(last quarter) <= 1.4 x
  * max(second quarter). A leak shows ~2x between those windows (linear
  * growth), a plateau ~1.0; watermark-lag wobble stays well inside 1.4.
  * Exit 1 if any pipeline is unbounded.
  *
  * Prints ONE JSON line (`"metric":"stream_state"`); the canonical
  * argless run (sf0.1, 64 chunks) also records per-batch curves to
  * STREAMSTATE_DETAIL.json for tools/stream_state_diff.py, which gates
  * round-over-round plateau growth the way stream_diff gates the
  * per-batch floor.
  *
  * Usage: `runMain graft.StreamStateProbe [sfDir] [chunks]`. */
object StreamStateProbe {

  /** Bump on any change to the staging recipe below — versioned into
    * the cached dir name so stale encodings cannot be silently reused. */
  private val stageRecipeVersion = 2 // v2: two-phase ranked staging (same
  // chunk assignment as v1's ntile — bumped to force a re-stage so the
  // 1.00x curve reproduction is actually measured, not cache-trivial)

  private val canonicalSf = "/root/testdata/sf0.1"
  private val canonicalChunks = 64

  /** Build (or reuse) the time-ordered + out-of-order chunk staging. */
  private[graft] def stageChunks(spark: SparkSession, sfDir: String,
      chunks: Int): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_streamstate_v${stageRecipeVersion}_${chunks}c_${T.scratchKey(sfDir)}"
    val marker = java.nio.file.Paths.get(s"$dir/_STAGE_OK")
    if (java.nio.file.Files.exists(marker)) return dir
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    // Chunk assignment = ntile(chunks) over a global (ts, event_id)
    // order, computed WITHOUT a single-partition window (r14 mandate
    // #4): range-partition on the sort key, rank within each partition
    // in parallel, then add broadcast per-partition offsets to get the
    // exact global 1-based rank (the same two-phase prefix-sum shape as
    // e5_peak_concurrency). (ts, event_id) is a total order (event_id
    // unique) and range partitions are contiguous, so the rank — and
    // therefore the chunk assignment — is identical to the old
    // ntile-over-global-sort, run to run and partitioning to
    // partitioning; the canonical curves reproduce at 1.00x.
    val parts = T(spark, sfDir, "events")
      .repartitionByRange(32, col("ts"), col("event_id"))
      .sortWithinPartitions(col("ts"), col("event_id"))
      .withColumn("pid", spark_partition_id())
      .persist()
    val pidCounts = parts.groupBy("pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap // <= 32 rows: bounded
    val offsets: Map[Int, Long] = {
      var acc = 0L
      pidCounts.toSeq.sortBy(_._1).map { case (pid, c) =>
        val o = pid -> acc; acc += c; o
      }.toMap
    }
    val n = pidCounts.values.sum
    // ntile semantics: first (n % k) buckets hold (n/k + 1) rows each
    val bucketSize = n / chunks
    val remainder = n % chunks
    val cut = (bucketSize + 1) * remainder
    val wPid = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("ts"), col("event_id"))
    val rn = element_at(typedLit(offsets), col("pid")) +
      row_number().over(wPid)
    val wChunk = org.apache.spark.sql.expressions.Window.partitionBy(col("c0"))
    val staged = parts
      .withColumn("c0",
        // floor() because Column./ on longs is DOUBLE division; exact
        // here (both operands < 2^53, quotients spaced >= half-ulp)
        when(rn <= cut, floor((rn - 1) / (bucketSize + 1)) + 1)
          .otherwise(floor((rn - 1 - cut) / math.max(bucketSize, 1L)) +
            (remainder + 1))
          .cast("int"))
      .drop("pid")
      .withColumn("cmax", max(col("ts")).over(wChunk))
      .withColumn("c",
        when(col("event_id") % 89 === 7, least(col("c0") + 4, lit(chunks)))
          .when(col("ts") >= col("cmax") - expr("INTERVAL 1 HOUR") &&
              col("event_id") % 5 === 0,
            least(col("c0") + 1, lit(chunks)))
          .otherwise(col("c0")))
      .drop("c0", "cmax")
      .persist()
    staged.count()
    (1 to chunks).foreach { i =>
      val scratch = s"$dir/_stage"
      staged.filter(col("c") === i).drop("c")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"expected 1 part file for chunk $i, got ${part.length}")
      val dest = new java.io.File(dir, f"c$i%04d.parquet")
      java.nio.file.Files.move(part(0).toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // strictly increasing mtimes = the file source's replay order
      dest.setLastModified(1700000000000L + i * 2000L)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    }
    staged.unpersist()
    parts.unpersist()
    java.nio.file.Files.write(marker, Array.emptyByteArray)
    dir
  }

  /** Per-batch state samples for one pipeline run to completion.
    * Package-visible so ScaleToolingSpec can pin the plateau gate on
    * synthetic curves (flat/leaking/saturating/short). */
  private[graft] final case class Curve(name: String, batches: Int, inputRows: Long,
      stateRows: Seq[Long], memBytes: Seq[Long], dropped: Long,
      sstBytes: Seq[Long] = Nil, pinnedBytes: Seq[Long] = Nil) {
    // plateau gate: second-quarter max vs last-quarter max (see scaladoc)
    def q2max: Long = quarter(stateRows, 1).maxOption.getOrElse(0L)
    def q4max: Long = quarter(stateRows, 3).maxOption.getOrElse(0L)
    private def quarter(xs: Seq[Long], i: Int): Seq[Long] = {
      val n = xs.size
      xs.slice(i * n / 4, (i + 1) * n / 4)
    }
    def bounded: Boolean =
      stateRows.size < 16 || q4max <= math.max(q2max, 1L) * 1.4
    // mem-side gate (r15, VERDICT r14 item 1): state ROWS are blind to
    // per-key VALUE growth (a ListState whose per-key blob accretes), so
    // LIVE STATE BYTES must plateau too. The signal is rocksdbSstFileSize
    // (total-sst-files-size of the LIVE db: every committed key+value
    // lands in SST on the per-commit flush, so a value leak grows it
    // without bound), NOT memoryUsedBytes: that number is block-cache +
    // memtables + table-reader accounting, measured (r15, 256-batch run,
    // PLANS.md) to grow LINEARLY IN COMMIT COUNT (~4 KB/batch, no
    // plateau at RocksDB's 100-version retention window) while rows AND
    // sst bytes stay flat — and to go flat at the cap the moment
    // boundedMemoryUsage caps the shared cache (GRAFT_ROCKSDB_MAX_MB
    // run): dead blocks of rotated SST files accumulating in an
    // unpressured LRU, an accounting artifact, not state. SST bytes
    // saw-tooth with compaction timing (q4/q2 measured <= 1.15x over 256
    // batches), so the gate compares quarter maxima with a 2.0x
    // allowance: a genuine linear value leak reads q4/q2 ~ 2.3x.
    def memQ2max: Long = sstBytes.slice(sstBytes.size / 4, sstBytes.size / 2)
      .maxOption.getOrElse(0L)
    def memQ4max: Long = quarter(sstBytes, 3).maxOption.getOrElse(0L)
    def memBounded: Boolean =
      sstBytes.size < 16 || memQ4max <= math.max(memQ2max, 1L) * 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", canonicalSf))
    // strict: a typo'd chunk count must not silently record receipts
    // labeled for the canonical 64 (r14 advice; matches DupProbe)
    val chunks = args.lift(1).map(GraftSession.positiveInt("StreamStateProbe chunks", _))
      .getOrElse(canonicalChunks)
    val spark = GraftSession.local("32",
      // state-op parallelism, not correctness: 8 keeps 5 x ~64 RocksDB
      // micro-batches fast; state ROW counts are partition-independent
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // GRAFT_ROCKSDB_MAX_MB: opt-in bounded-memory mode — the r15
      // adjudication instrument for the memoryUsedBytes question. With a
      // shared capped cache the metric must PLATEAU at the cap if the
      // unbounded-mode linear growth is cache/memtable accounting (dead
      // blocks of rotated SST files) rather than live state; live state
      // itself is gated via sst_bytes either way.
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" ->
        sys.env.contains("GRAFT_ROCKSDB_MAX_MB").toString,
      "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" ->
        sys.env.getOrElse("GRAFT_ROCKSDB_MAX_MB", "500"),
      "spark.sql.streaming.numRecentProgressUpdates" -> (chunks + 64).toString)
    import spark.implicits._

    val staged = stageChunks(spark, sfDir, chunks)
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_streamstate_run_${T.scratchKey(sfDir)}")
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    def ckpt(name: String): String = root.resolve(s"ckpt_$name").toString

    def events(): DataFrame =
      graft.streaming.EventStreams.readEventStream(spark, staged)
    def run(name: String)(start: () => StreamingQuery): Curve = {
      val q = start()
      try q.processAllAvailable() finally q.stop()
      val progs = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
      def custom(key: String): Seq[Long] = progs.map(_.stateOperators.map(
        _.customMetrics.getOrDefault(key, 0L): Long).sum)
      Curve(name,
        batches = progs.size,
        inputRows = progs.map(_.numInputRows).sum,
        stateRows = progs.map(_.stateOperators.map(_.numRowsTotal).sum),
        memBytes = progs.map(_.stateOperators.map(_.memoryUsedBytes).sum),
        dropped = progs.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum,
        sstBytes = custom("rocksdbSstFileSize"),
        pinnedBytes = custom("rocksdbPinnedBlocksMemoryUsage"))
    }
    def noop(df: DataFrame, name: String, mode: String = "append"): StreamingQuery =
      df.writeStream.outputMode(mode).format("noop")
        .option("checkpointLocation", ckpt(name)).start()

    val E = graft.streaming.EventStreams
    val curves = Seq(
      run("hourly_stats")(() => noop(E.hourlyStats(events()), "hourly_stats")),
      run("sessions")(() => noop(E.sessionWindows(events()), "sessions")),
      run("dedup")(() => noop(E.dedupEvents(events()), "dedup")),
      run("join")(() => noop(E.purchaseClickJoin(events()), "join")),
      run("tws_sessions")(() => noop(
        E.userSessionStatsTws(events().as[E.Event]).toDF(), "tws_sessions", "update")),
      // the event-time-timer session closer: same per-user sessionization
      // pressure as tws_sessions but with state DELETED as sessions
      // finalize — the curve should track the open-session level (like
      // `sessions`) and collapse on the final watermark advance, where
      // tws_sessions saturates at the full user dimension and stays there
      run("session_closer")(() => noop(
        E.closedSessions(events().as[E.Event]).toDF(), "session_closer")))

    def line(c: Curve): String =
      s""""${c.name}":{"batches":${c.batches},"input_rows":${c.inputRows},""" +
        s""""state_rows_first":${c.stateRows.headOption.getOrElse(0L)},""" +
        s""""state_rows_q2max":${c.q2max},"state_rows_q4max":${c.q4max},""" +
        s""""state_rows_last":${c.stateRows.lastOption.getOrElse(0L)},""" +
        s""""state_rows_max":${c.stateRows.maxOption.getOrElse(0L)},""" +
        s""""mem_bytes_last":${c.memBytes.lastOption.getOrElse(0L)},""" +
        s""""sst_bytes_q2max":${c.memQ2max},"sst_bytes_q4max":${c.memQ4max},""" +
        s""""dropped_by_watermark":${c.dropped},"bounded":${c.bounded},""" +
        s""""mem_bounded":${c.memBounded}}"""
    val unbounded = curves.filterNot(_.bounded).map(_.name) ++
      curves.filterNot(_.memBounded).map(_.name + ":sst_bytes")
    // the straggler displacement must actually have exercised the
    // watermark-drop path somewhere, or the whole run was vacuous
    val anyDropped = curves.map(_.dropped).sum > 0
    val json =
      s"""{"metric":"stream_state","chunks":$chunks,"provider":"rocksdb",""" +
        s""""pipelines":{${curves.map(line).mkString(",")}},""" +
        s""""unbounded":[${unbounded.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""watermark_drops_exercised":$anyDropped,"sf":"$sfDir"}"""
    println(json)
    // GRAFT_STREAMSTATE_DETAIL_OUT writes the per-batch curves for ANY
    // run (long-horizon / scaled-dir analysis); the canonical argless
    // run always records them to the repo-tracked STREAMSTATE_DETAIL.json
    val detailPath: Option[String] = sys.env.get("GRAFT_STREAMSTATE_DETAIL_OUT")
      .orElse(if (args.isEmpty && sfDir == canonicalSf && chunks == canonicalChunks)
        Some("STREAMSTATE_DETAIL.json") else None)
    detailPath.foreach { out =>
      def detail(c: Curve): String =
        s""""${c.name}":{"state_rows":[${c.stateRows.mkString(",")}],""" +
          s""""mem_bytes":[${c.memBytes.mkString(",")}],""" +
          s""""sst_bytes":[${c.sstBytes.mkString(",")}],""" +
          s""""pinned_bytes":[${c.pinnedBytes.mkString(",")}],""" +
          s""""q2max":${c.q2max},"q4max":${c.q4max},""" +
          s""""sst_q2max":${c.memQ2max},"sst_q4max":${c.memQ4max},""" +
          s""""dropped":${c.dropped},""" +
          s""""batches":${c.batches},"bounded":${c.bounded},""" +
          s""""mem_bounded":${c.memBounded}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (s"""{"metric":"stream_state_detail","chunks":$chunks,"sf":"$sfDir",""" +
          s""""pipelines":{${curves.map(detail).mkString(",")}}}""" + "\n").getBytes("UTF-8"))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    spark.stop()
    if (unbounded.nonEmpty) {
      System.err.println(s"[stream-state] UNBOUNDED state growth: ${unbounded.mkString(", ")}")
      sys.exit(1)
    }
    if (!anyDropped) {
      System.err.println("[stream-state] no pipeline recorded numRowsDroppedByWatermark > 0 " +
        "— the out-of-order staging no longer exercises watermark drops; probe is vacuous")
      sys.exit(1)
    }
  }
}
