package graft

/** Streaming-throughput measurement for the §2.10 surface: the
  * correctness story is spec-proven (stream ≡ batch, replay
  * idempotency), but a scale posture needs a measured rows/sec line.
  * This main stages the sfDir's events as `chunks` parquet files (one
  * micro-batch each under `maxFilesPerTrigger=1`), then drives two
  * representative pipelines end-to-end with `processAllAvailable`:
  *
  *  - `quality_gate` — the foreachBatch dead-letter gate
  *    ([[graft.streaming.EventStreams.startQualityGate]]): projection +
  *    rule split + two partition-local parquet writes per batch. No
  *    shuffle, no state — this measures the per-micro-batch floor
  *    (scheduling + write amplification), the dominant cost of any
  *    at-scale ingest gate.
  *  - `hourly_stats` — the watermarked tumbling-window aggregate
  *    ([[graft.streaming.EventStreams.hourlyStats]]) into a memory
  *    sink: one stateful shuffle per batch; measures the stateful-agg
  *    path.
  *
  * Prints ONE JSON line:
  * `{"metric":"stream_throughput","rows":N,"chunks":K,"pipelines":
  *   {"quality_gate":{"sec":s,"rows_per_sec":r},...},"sf":dir}`.
  *
  * Scale reading: rows/sec here is single-JVM local[32]; on a cluster
  * the gate path scales with input partitions (no shuffle) and the
  * stateful path with shuffle partitions — the number to watch across
  * rounds is the per-batch overhead (sec/chunks), which is what grows
  * when a pipeline accretes per-batch driver work.
  *
  * Usage: `runMain graft.StreamBench [sfDir] [chunks]`. */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val chunks = args.lift(1).map(GraftSession.positiveInt("StreamBench chunks", _))
      .getOrElse(16)
    val spark = GraftSession.local("32")

    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_streambench_${T.scratchKey(sfDir)}")
    def sub(name: String): String = root.resolve(name).toString
    // fresh scratch every run: the gate requires empty sinks or a
    // resumable checkpoint, and a throughput run must not resume
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)

    val staged = sub("staged_events")
    spark.read.parquet(s"$sfDir/events.parquet")
      .repartition(chunks).write.mode("overwrite").parquet(staged)
    val nRows = spark.read.parquet(staged).count()

    def timed(run: () => Unit): Double = {
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    }

    val gateSec = timed { () =>
      val q = graft.streaming.EventStreams.startQualityGate(
        graft.streaming.EventStreams.readEventStream(spark, staged),
        sub("good"), sub("quarantine"), Some(sub("gate_ckpt")))
      try { q.processAllAvailable() } finally q.stop()
    }

    val aggSec = timed { () =>
      val q = graft.streaming.EventStreams.hourlyStats(
          graft.streaming.EventStreams.readEventStream(spark, staged))
        .writeStream.outputMode("append")
        .format("memory").queryName("sb_hourly")
        .option("checkpointLocation", sub("agg_ckpt"))
        .start()
      try { q.processAllAvailable() } finally q.stop()
    }

    def r1(v: Double) = T.jdec(v, 1)
    def line(name: String, sec: Double): String =
      s""""$name":{"sec":${T.jdec(sec, 3)},"rows_per_sec":${r1(nRows / sec)},"sec_per_batch":${T.jdec(sec / chunks, 3)}}"""
    val json =
      s"""{"metric":"stream_throughput","rows":$nRows,"chunks":$chunks,"pipelines":{${line("quality_gate", gateSec)},${line("hourly_stats", aggSec)}},"sf":"$sfDir"}"""
    println(json)
    // Bench's recording rule, keyed on the EFFECTIVE config: only the
    // canonical (sf0.1, 16 chunks) run writes the recorded detail —
    // args.isEmpty alone would let an SPARK_GRAFT_SF_DIR-overridden
    // exploration clobber the line tools/stream_diff.py gates the
    // per-batch floor against (and the gate would then sit dead on an
    // sf-mismatch exit 2 until someone re-recorded).
    if (args.isEmpty && sfDir == "/root/testdata/sf0.1" && chunks == 16)
      java.nio.file.Files.write(java.nio.file.Paths.get("STREAM_DETAIL.json"),
        (json + "\n").getBytes("UTF-8"))
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    spark.stop()
  }
}
