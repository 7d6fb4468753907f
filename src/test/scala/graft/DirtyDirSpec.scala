package graft

import org.apache.spark.sql.functions._
import scala.sys.process._
import AxisMatrix.{ordered, rows}

/** Dirty-directory axis (fifteenth, round 17): a live lake's table dirs
  * accumulate junk beside the data files — markers, crc shadows, editor
  * strays, half-renamed writer temps, in-flight job dirs. The read
  * contract is exactly NON-HIDDEN `*.parquet` FILES: Spark's listing
  * drops hidden (`.`/`_`-prefixed) names, `T.apply`'s pathGlobFilter
  * drops the rest; the oracle mirrors with a Python-globbed file list
  * (DuckDB's own glob matches hidden dotfiles — measured).
  *
  * Boundaries pinned here, both FAIL-LOUDLY by design:
  *  - junk NAMED like data (a zero-byte `x.parquet`) — that is
  *    corruption, not junk;
  *  - a garbage `.crc` shadow naming an EXISTING data file — Hadoop's
  *    LocalFileSystem is a ChecksumFileSystem, so a matching `.crc` is
  *    an ACTIVE integrity sidecar; only an ORPHANED one is junk.
  *
  * The cross-engine half is the full Verify + check.py gate over
  * `tools/make_fixtures.py dirty` (§2b-j in the verify skill).
  */
class DirtyDirSpec extends SparkSpec with AxisMatrix {

  private lazy val dirtyDir: String = {
    val dir = tempDir("graft_dirty_spec")
    Seq("python3", "tools/make_fixtures.py", sfDir, dir, "dirty").!!
    s"$dir/graft_dirty_sf"
  }

  test("every table reads byte-identically from the junk-polluted dir") {
    T.tableNames.foreach { t =>
      val clean = rows(T(spark, sfDir, t))
      val dirty = rows(T(spark, dirtyDir, t))
      withClue(t)(dirty shouldBe clean)
    }
  }

  test("representative queries are junk-invariant end to end") {
    Seq("llm_e4_doc_quality", "e5_sessionization", "llm_e3_cosine_topk",
      "q1_pricing_summary").foreach { name =>
      val q = Registry.byName(name)
      val clean = ordered(q.run(spark, sfDir))
      val dirty = ordered(q.run(spark, dirtyDir))
      withClue(name)(dirty shouldBe clean)
    }
  }

  test("the streaming schema probe survives the junk (events dir)") {
    // readEventStream's batch probe lists the dir and reads footers; the
    // construction throwing on junk was the pre-contract failure mode
    val stream = graft.streaming.EventStreams
      .readEventStream(spark, s"$dirtyDir/events.parquet")
    stream.isStreaming shouldBe true
    stream.columns.toSeq shouldBe T.canonical("events").map(_._1)
  }

  test("the file-source STREAM over the junk dir converges to the clean batch twin") {
    // not just the schema probe: the streaming file source re-lists the
    // dir per micro-batch, so its own pathGlobFilter is load-bearing
    import org.apache.spark.sql.streaming.Trigger
    val q = graft.streaming.EventStreams
      .hourlyStats(graft.streaming.EventStreams
        .readEventStream(spark, s"$dirtyDir/events.parquet"))
      .writeStream.format("memory").queryName("dirty_hourly_t")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = rows(spark.table("dirty_hourly_t"))
    val batch = rows(Registry.byName("e5_hourly_event_stats").run(spark, sfDir))
    streamed shouldBe batch
  }

  test("boundary: junk NAMED like data fails loudly (zero-byte x.parquet)") {
    val dir = tempDir("graft_dirty_bnd")
    val d = new java.io.File(s"$dir/documents.parquet"); d.mkdirs()
    val src = new java.io.File(s"$sfDir/documents.parquet")
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(d, "part-000.parquet").toPath)
    new java.io.File(d, "x.parquet").createNewFile() // zero-byte impostor
    val e = intercept[Exception] {
      T(spark, dir, "documents").count()
    }
    SessionMemo.clear(spark) // drop the poisoned memoized frame
    e.getMessage should (include("x.parquet") or include("FAILED_READ_FILE"))
  }

  test("boundary: a garbage .crc naming an EXISTING file fails loudly") {
    val dir = tempDir("graft_dirty_crc")
    val d = new java.io.File(s"$dir/documents.parquet"); d.mkdirs()
    val src = new java.io.File(s"$sfDir/documents.parquet")
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(d, "part-000.parquet").toPath)
    val crc = new java.io.FileOutputStream(new java.io.File(d, ".part-000.parquet.crc"))
    crc.write(0); crc.write("garbage-crc".getBytes("UTF-8")); crc.close()
    val e = intercept[Exception] {
      T(spark, dir, "documents")
        .select(sum(org.apache.spark.sql.functions.length(col("text")))).collect()
    }
    SessionMemo.clear(spark)
    // the checksum machinery surfaces EOF/FAILED_READ, never silence
    e.toString.length should be > 0
  }
}
