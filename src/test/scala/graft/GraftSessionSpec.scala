package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The session factory: CPU-spec parsing, the strict count parser the
  * mains share, the settings every session gets, a guard that no
  * entry point builds a session outside the factory, and the scratch
  * dirs that release deletes. */
class GraftSessionSpec extends SparkSpec {

  test("cpuCount: a positive integer spec is the count; anything else falls back") {
    val cores = Runtime.getRuntime.availableProcessors
    GraftSession.cpuCount("7") shouldBe 7
    GraftSession.cpuCount("*") shouldBe cores
    GraftSession.cpuCount("0") shouldBe cores
    GraftSession.cpuCount("abc") shouldBe cores
  }

  test("positiveInt accepts positive integers and names the input on anything else") {
    GraftSession.positiveInt("SPARK_GRAFT_BENCH_REPEATS", "3") shouldBe 3
    Seq("0", "-2", "abc", "", "1.5").foreach { raw =>
      val e = intercept[IllegalArgumentException](GraftSession.positiveInt("StreamBench chunks", raw))
      e.getMessage should include("StreamBench chunks")
      e.getMessage should include(s"'$raw'")
    }
  }

  test("every session gets the shared settings from the factory") {
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    spark.conf.get("spark.sql.warehouse.dir") should endWith(T.warehouseDir)
    spark.sparkContext.master shouldBe "local[4]"
    // Bench and the probes rely on AQE, which the factory leaves at Spark's default
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
  }

  // perfbench/ (the benchmark's own build) lies outside src/ and keeps
  // its own session
  test("no file in src/ but GraftSession calls the session builder") {
    val needle = "SparkSession" + ".builder("
    val files = Files.walk(Paths.get("src")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    files should not be empty
    val sites = files.filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => p.getFileName.toString)
    sites shouldBe Seq("GraftSession.scala")
  }

  /** Dirs named `graft_…` in java.io.tmpdir and one level below it. */
  private def graftDirs(): Set[Path] = {
    def children(d: Path): Seq[Path] =
      try Files.list(d).iterator.asScala.filter(p =>
        Files.isDirectory(p) && p.getFileName.toString.startsWith("graft_")).toSeq
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => Nil }
    val top = children(Paths.get(sys.props("java.io.tmpdir")))
    (top ++ top.flatMap(children)).toSet
  }

  test("release deletes the corpus, results and blob dirs the round-trip queries write") {
    val copy = tempDir("graft_scratch_copy")
    Files.copy(Paths.get(sfDir, "documents.parquet"), Paths.get(copy, "documents.parquet"))
    val before = graftDirs()
    Seq("parity_s1s3_text_corpus_scan", "parity_s4s5_json_roundtrip", "mm_binary_ingest")
      .foreach(q => Registry.byName(q).run(spark, copy).collect())
    val written = (graftDirs() -- before).filter(p => Seq("graft_corpus_", "graft_results_",
      "graft_binfiles_").exists(p.getFileName.toString.startsWith))
    // the blob dir's key also covers the documents listing: the copy's is the one new one
    val (blobs, keyed) = written.toSeq.map(_.getFileName.toString).partition(_.startsWith("graft_binfiles_"))
    blobs should have size 1
    keyed.sorted shouldBe Seq(s"graft_corpus_${T.scratchKey(copy)}", s"graft_results_${T.scratchKey(copy)}")
    GraftSession.release(spark)
    written.filter(Files.exists(_)) shouldBe empty
  }
}
