package graft.streaming

import graft.{Registry, SparkSpec}
import graft.events.EventAnalytics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The production entry readEventStream: a growing parquet directory
  * consumed file-by-file (maxFilesPerTrigger=1), aggregated with the
  * same hourlyStats transform — results must equal the batch query even
  * though the files arrive as separate micro-batches. */
class FileStreamSpec extends SparkSpec {
  import spark.implicits._

  test("parquet file stream == batch aggregation across per-file micro-batches") {
    val srcDir = tempDir("graft_stream_src")
    val batch = EventAnalytics.events(spark, sfDir).cache()
    // three files = three micro-batches; hour buckets span all of them
    val parts = batch.randomSplit(Array(1, 1, 1), seed = 5)
    parts.zipWithIndex.foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$srcDir/f$i")
    }
    // readEventStream expects a flat dir of parquet files
    val flat = tempDir("graft_stream_flat")
    var n = 0
    parts.indices.foreach { i =>
      Files.list(java.nio.file.Paths.get(s"$srcDir/f$i")).forEach { f =>
        if (f.toString.endsWith(".parquet")) {
          Files.copy(f, java.nio.file.Paths.get(s"$flat/part$n.parquet")); n += 1
        }
      }
    }

    val q = EventStreams.hourlyStats(EventStreams.readEventStream(spark, flat))
      .writeStream.format("memory").queryName("filestream_t")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("filestream_t")
      .as[(String, String, Long, Double)].collect().toSet
    val expected = Registry.byName("e5_hourly_event_stats").run(spark, sfDir)
      .as[(String, String, Long, Double)].collect().toSet
    streamed shouldBe expected
  }

  test("file stream absorbs a drifted (NTZ) physical encoding like the batch side") {
    import org.apache.spark.sql.types.TimestampNTZType
    // the round-10 drift shape: timestamp[us] with isAdjustedToUTC=false
    val driftDir = tempDir("graft_stream_ntz")
    EventAnalytics.events(spark, sfDir)
      .withColumn("ts", col("ts").cast(TimestampNTZType))
      .coalesce(1).write.mode("overwrite").parquet(s"$driftDir/files")
    val flat = tempDir("graft_stream_ntz_flat")
    var n = 0
    Files.list(java.nio.file.Paths.get(s"$driftDir/files")).forEach { f =>
      if (f.toString.endsWith(".parquet")) {
        Files.copy(f, java.nio.file.Paths.get(s"$flat/part$n.parquet")); n += 1
      }
    }
    val stream = EventStreams.readEventStream(spark, flat)
    stream.schema("ts").dataType shouldBe EventStreams.eventSchema("ts").dataType
    val q = EventStreams.hourlyStats(stream)
      .writeStream.format("memory").queryName("filestream_ntz_t")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("filestream_ntz_t")
      .as[(String, String, Long, Double)].collect().toSet
    val expected = Registry.byName("e5_hourly_event_stats").run(spark, sfDir)
      .as[(String, String, Long, Double)].collect().toSet
    streamed shouldBe expected
  }
}
