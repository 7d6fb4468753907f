package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built: every main and the
  * test suite go through [[local]], so the semantics the engine relies
  * on cannot drift between entry points. Callers add only their own
  * settings (a partition count, a state-store provider, an app name). */
object GraftSession {
  /** The CPU spec Bench and Verify run at (`SPARK_GRAFT_CPUS`). */
  def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Thread count of a `local[spec]` master for numeric uses: the spec
    * when it is a positive integer, else the processor count (the
    * spec `*` means every core). */
  def cpuCount(spec: String): Int =
    spec.toIntOption.filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `raw` as a positive integer, or an error naming `input`: a typo in
    * a count must fail the run, not fall back to a default and label
    * the receipts with the wrong value. */
  def positiveInt(input: String, raw: String): Int =
    raw.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$input must be a positive integer, got '$raw'"))

  /** A `local[cpus]` session (the spec is used verbatim, so `*` works)
    * with one shuffle partition per thread; `conf` pairs are applied
    * last, so they override the shared settings. */
  def local(cpus: String, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpuCount(cpus).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet timestamp[ns]; read as long (nanos) and let
      // EventAnalytics.events() normalize to TimestampType
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // keep catalog scaffolding (bucketed-table metadata) out of the
      // repo working tree — table DATA already goes to tmpdir paths
      .config("spark.sql.warehouse.dir", T.warehouseDir)
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    T.quietBoundedWindowWarnings()
    spark
  }

  /** Drops what a session leaves behind: memoized frames, bucketed
    * tables and the scratch dirs of the layout and format readers. */
  def release(spark: SparkSession): Unit = {
    SessionMemo.clear(spark)
    relational.Relational.dropBucketedTables(spark)
    sources.Formats.dropScratch()
    sources.Layout.dropScratch()
  }
}
