package graft.sources

import graft.{GraftQuery, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout operators (S-family, SURVEY §2.1 continued): Hive-style
  * partitioned writes and partition-pruned reads — the layout decision
  * that matters most at 100 TB. A `lang=<v>/` directory tree turns every
  * per-language query into a scan of 1/|lang| of the corpus: the filter
  * is resolved against the FILE INDEX (PartitionFilters), so the pruned
  * partitions' files are never opened, never listed into tasks, never
  * decoded. Contrast with `PushedFilters`, which still reads footers and
  * row-groups of every file.
  *
  * The reference's input tree is exactly this layout (one directory per
  * language, `/root/reference/call-debias.py:184-186`); here it becomes a
  * first-class columnar layout instead of a Python `os.walk`.
  */
object Layout {

  /** One partitioned copy of `documents` per (process, sfDir), written
    * lazily and only once — the layout cost is paid at write time and
    * amortized over every subsequent pruned query, which is the whole
    * point of partitioning. Keyed like the bucketed tables: pid-scoped
    * tmpdir so concurrent harnesses never collide. */
  private val written = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def layoutRoot: String =
    s"${sys.props("java.io.tmpdir")}/graft_layout_p${ProcessHandle.current().pid()}"

  private[graft] def partitionedDocs(s: SparkSession, dir: String): String =
    written.computeIfAbsent(dir, { _ =>
      // path keyed by the shared T.scratchKey (16 md5 hex of the FULL
      // dir), matching the memo key: dir.hashCode could collide two
      // dirs onto one path while the map treats them as distinct — the
      // second write would silently overwrite the first dir's layout
      val path = s"$layoutRoot/${T.scratchKey(dir)}/docs_by_lang"
      T(s, dir, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(path)
      path
    })

  /** Delete this process's layout-scratch tree and forget the written
    * paths (so a later call rebuilds) — harness/test teardown hook. */
  private[graft] def dropScratch(): Unit = {
    written.clear()
    val root = java.nio.file.Paths.get(layoutRoot)
    if (java.nio.file.Files.exists(root)) {
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(pth => { java.nio.file.Files.deleteIfExists(pth); () })
    }
  }

  /** Per-language quality aggregate over the PRUNED partition only. The
    * scan's PartitionFilters (asserted in LayoutSpec) restrict the file
    * index to `lang=de/` before any task launches: at 100 TB with 50
    * languages this reads 2% of the bytes a full scan would.
    *
    * `lang` is a partition column on the Spark side (directory-derived)
    * and a data column in the oracle's parquet — same values, and the
    * aggregate keys on it identically. */
  private val prunedScan = GraftQuery(
    "q_partition_pruned_scan",
    "Hive-partitioned write + partition-pruned per-language scan (S1 §2.1)",
    Some("""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents WHERE lang = 'de' GROUP BY lang"""),
    (s, dir) => {
      val path = partitionedDocs(s, dir)
      // DECLARED schema on the read-back (the contract shape we just
      // wrote): skips the footer-sampling inference job, and — the
      // empty-input case — an all-empty write emits no part files at
      // all, where inference has nothing to read and throws
      s.read.schema(T(s, dir, "documents").schema).parquet(path)
        .filter(col("lang") === "de")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ", -1))).as("n_tokens"))
    })

  /** Dynamic-partition-pruning shape: the language filter lives on a DIM
    * table (a tiny language→family mapping) and reaches the partitioned
    * fact scan through the join — Spark plans a DPP subquery that
    * evaluates the dim filter first and prunes fact partitions at
    * runtime. This is the star-schema version of static pruning: the
    * fact query never names the partition values, yet still reads only
    * the matching directories. */
  private val dppScan = GraftQuery(
    "q_dynamic_partition_pruning",
    "dim-filter prunes partitioned fact scan through the join (DPP, §2.1/§2.3)",
    Some("""
      WITH langdim AS (
        SELECT * FROM (VALUES ('en', 'germanic'), ('de', 'germanic'),
                              ('fr', 'romance'), ('es', 'romance'),
                              ('zh', 'sinitic')) AS t(lang, family))
      SELECT d.lang, COUNT(*) AS n_docs
      FROM documents d JOIN langdim l ON d.lang = l.lang
      WHERE l.family = 'romance'
      GROUP BY d.lang ORDER BY d.lang"""),
    (s, dir) => {
      import s.implicits._
      val path = partitionedDocs(s, dir)
      // the dim must be FILE-backed: an inline VALUES relation is
      // constant-folded before the DPP rule looks for a selective dim
      // filter, and no pruning subquery would be planted
      val dimPath = written.computeIfAbsent(s"$dir#langdim", { _ =>
        val p = s"$layoutRoot/${T.scratchKey(dir)}/langdim"
        Seq(("en", "germanic"), ("de", "germanic"), ("fr", "romance"),
          ("es", "romance"), ("zh", "sinitic")).toDF("lang", "family")
          .write.mode("overwrite").parquet(p)
        p
      })
      s.read.schema(T(s, dir, "documents").schema).parquet(path).as("d")
        .join(s.read.parquet(dimPath).filter(col("family") === "romance").as("l"), "lang")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    })

  /** 16-bit × 16-bit Morton (z-order) interleave: bit i of x lands at
    * zval bit 2i, bit i of y at 2i+1. Disjoint bit positions, so the
    * terms combine by plain addition — one codegen'd arithmetic chain,
    * no UDF. Exposed for LayoutSpec's bit-exactness cases. */
  private[graft] def zValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** The identical interleave as DuckDB SQL, generated from the same
    * loop so the two plans cannot drift. */
  private[graft] def zValueSql(x: String, y: String): String =
    (0 until 16).map { i =>
      s"(($x >> $i) & 1) * ${1L << (2 * i)} + (($y >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Z-order (Morton-curve) layout audit over the events log, on the
    * classic (user, time) query pair: normalize `user_id` and
    * `epoch_us(ts)` into a 16-bit grid via broadcast min/max bounds,
    * interleave into a 32-bit z-value, and audit locality per top-6-bit
    * z-bucket (64 buckets). Fixing the top 6 z-bits fixes the top 3 bits
    * of BOTH coordinates, so every bucket's x-span and y-span are < 2¹³
    * of the 2¹⁶ grid — the property that makes min/max file stats prune
    * BOTH a user-range and a time-range predicate. A row-major (time-
    * sorted) layout prunes only time: any user filter reads every file.
    *
    * The production write path is `repartitionByRange(zval) +
    * sortWithinPartitions(zval)` before the parquet write; the audit
    * buckets by fixed z-prefix instead because range-boundary SAMPLING is
    * nondeterministic — same locality math, oracle-reproducible. Scale
    * shape: one 4-value bounds aggregate (broadcast back), then the
    * z-value is a map-side arithmetic chain and the audit aggregates on
    * the 64-value bucket key. One full scan, one tiny shuffle. */
  private val zorderAudit = GraftQuery(
    "q_zorder_locality",
    "Morton-interleaved (user, time) layout key + per-z-bucket locality audit (§2.1)",
    Some(s"""
      WITH b AS (
        SELECT MIN(user_id) AS xmin, MAX(user_id) AS xmax,
               MIN(epoch_us(ts)) AS ymin, MAX(epoch_us(ts)) AS ymax
        FROM events),
      g AS (
        SELECT COALESCE(CAST(floor((user_id - xmin) * CAST(65535.0 AS DOUBLE)
                 / NULLIF(xmax - xmin, 0)) AS BIGINT), 0) AS xn,
               COALESCE(CAST(floor((epoch_us(ts) - ymin) * CAST(65535.0 AS DOUBLE)
                 / NULLIF(ymax - ymin, 0)) AS BIGINT), 0) AS yn
        FROM events CROSS JOIN b),
      z AS (
        SELECT xn, yn, (${zValueSql("xn", "yn")}) AS zval FROM g)
      SELECT zval >> 26 AS zbucket,
             COUNT(*) AS n_events,
             MAX(xn) - MIN(xn) AS x_span,
             MAX(yn) - MIN(yn) AS y_span
      FROM z GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      val ev = graft.events.EventAnalytics.events(s, dir)
        .select(col("user_id").as("x"), unix_micros(col("ts")).as("y"))
      val bounds = ev.agg(
        min(col("x")).as("xmin"), max(col("x")).as("xmax"),
        min(col("y")).as("ymin"), max(col("y")).as("ymax"))
      // a zero-extent axis (all rows share one user or one timestamp —
      // the one-row corpus is the degenerate case) maps every point to
      // grid 0 instead of dividing by zero (NULLIF + COALESCE in the
      // oracle; ANSI Spark THREW here, DuckDB would NaN — measured,
      // round-11 one-row gate)
      def axis(v: org.apache.spark.sql.Column, lo: String, hi: String): org.apache.spark.sql.Column =
        coalesce(
          floor((v - col(lo)) * lit(65535.0) /
            when(col(hi) =!= col(lo), col(hi) - col(lo))).cast("long"),
          lit(0L))
      val grid = ev
        .crossJoin(broadcast(bounds)) // 1-row bounds
        .select(
          axis(col("x"), "xmin", "xmax").as("xn"),
          axis(col("y"), "ymin", "ymax").as("yn"))
      grid
        .withColumn("zval", zValue(col("xn"), col("yn")))
        .groupBy(shiftright(col("zval"), 26).as("zbucket"))
        .agg(
          count(lit(1)).as("n_events"),
          (max(col("xn")) - min(col("xn"))).as("x_span"),
          (max(col("yn")) - min(col("yn"))).as("y_span"))
        .orderBy(col("zbucket"))
    })

  def queries: Seq[GraftQuery] = Seq(prunedScan, dppScan, zorderAudit)
}
