package graft.sources

import graft.{GraftQuery, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Interchange-format sources/sinks beyond parquet and JSON (S-family
  * breadth, SURVEY §2.1): CSV with an explicit schema and ORC, each
  * proven by a write → read-back round trip whose result is
  * oracle-compared against the parquet original. The reference reads
  * raw-line text and writes JSON (`/root/reference/call-debias.py:141-147`);
  * a complete engine must also ingest/emit the columnar and delimited
  * formats a data platform exchanges.
  *
  * Both round trips declare the read schema EXPLICITLY (never inferred:
  * schema inference is an extra full scan and a correctness hazard —
  * a CSV column of digit-strings would come back as integers). The
  * write is a normal partitioned Spark write (multiple part files, no
  * coalesce(1) — a single-file write would serialize the sink at
  * scale); the read is a directory scan, so the round trip exercises
  * the same multi-file path a cluster run would.
  */
object Formats {

  /** Process-scoped scratch root of every per-dir round-trip dump (the
    * format round trips here, the parity corpus and results, the
    * binary-file corpus): per-process so concurrent harnesses (test JVM
    * vs Bench) never collide, under java.io.tmpdir so the repo tree
    * stays clean, and one tree so [[dropScratch]] deletes them all. */
  private def scratchRoot: String =
    s"${sys.props("java.io.tmpdir")}/graft_formats_p${ProcessHandle.current().pid()}"

  /** Scratch path for `sub` under `dir`'s dataset: keyed by the shared
    * [[graft.T.scratchKey]] (hashCode could collide two dirs onto one
    * path, silently serving one SF's rows to the other's lazy read). */
  private[graft] def scratch(dir: String, sub: String): String =
    s"$scratchRoot/${sub}_${graft.T.scratchKey(dir)}"

  /** Delete this process's format-scratch tree — wired into the
    * harness/test teardown beside Relational.dropBucketedTables so
    * round-trip dumps cannot accumulate per pid across runs. */
  private[graft] def dropScratch(): Unit = {
    val root = java.nio.file.Paths.get(scratchRoot)
    if (java.nio.file.Files.exists(root)) {
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(pth => { java.nio.file.Files.deleteIfExists(pth); () })
    }
  }

  private val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  /** CSV round trip on `nation`: write with the default quoting rules
    * (commas/quotes in values are quoted on write and unescaped on
    * read), read back with the explicit schema, return ordered. The
    * oracle reads the parquet original — a value or type drift anywhere
    * in the writer/parser path breaks the hash compare. */
  private val csvRoundtrip = GraftQuery(
    "q_csv_roundtrip",
    "CSV sink + explicit-schema source round trip on nation (S-family §2.1)",
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
    (s, dir) => {
      val path = scratch(dir, "nation_csv")
      T(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .write.mode("overwrite").option("header", "false").csv(path)
      s.read.schema(nationSchema).option("header", "false").csv(path)
        .orderBy(col("n_nationkey"))
    })

  private val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  /** ORC round trip on `supplier` (includes a DOUBLE column — ORC is
    * binary-exact, no text-formatting hazard, and like parquet it
    * carries min/max stats for predicate pushdown, so it is the
    * interchange format of choice when a peer system is ORC-native). */
  private val orcRoundtrip = GraftQuery(
    "q_orc_roundtrip",
    "ORC sink + source round trip on supplier (S-family §2.1)",
    Some("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey"),
    (s, dir) => {
      val path = scratch(dir, "supplier_orc")
      T(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
        .write.mode("overwrite").orc(path)
      s.read.schema(supplierSchema).orc(path)
        .orderBy(col("s_suppkey"))
    })

  private val jsonlSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("n_chars", LongType),
    StructField("_corrupt_record", StringType)))

  /** PERMISSIVE JSON-lines ingestion with corrupt-record capture: the
    * real-world JSONL feed is never clean, and the ingestion contract
    * that scales is "parse what parses, QUARANTINE the rest in
    * `_corrupt_record`" — never FAILFAST (one bad byte kills a 100 TB
    * job) and never DROPMALFORMED (silent data loss). The fixture
    * derives deterministically from `documents`: every doc_id % 50 == 0
    * line is written truncated mid-string (invalid JSON), the rest as
    * valid objects, so the oracle can predict exactly which rows land
    * in the quarantine: parsed rows keep their lang, corrupt rows
    * surface as lang NULL with the raw line preserved. The audit output
    * is the per-lang count + quarantine size an ingestion run reports.
    */
  private val jsonlPermissive = GraftQuery(
    "q_jsonl_permissive",
    "PERMISSIVE JSONL source: parse + corrupt-record quarantine audit (S-family §2.1)",
    Some("""
      SELECT CASE WHEN doc_id % 50 = 0 THEN NULL ELSE lang END AS lang,
             COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quarantined
      FROM documents
      GROUP BY 1
      ORDER BY lang"""),
    (s, dir) => {
      val path = scratch(dir, "docs_jsonl")
      T(s, dir, "documents")
        .select(
          when(col("doc_id") % 50 === 0,
            concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"lang\": \"")))
            .otherwise(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
            .as("value"))
        .write.mode("overwrite").text(path)
      s.read.schema(jsonlSchema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_quarantined"))
        .orderBy(col("lang"))
    })

  private val salvageN = 4
  private val salvageCorruptIdx = 2

  /** Corrupt-FOOTER parquet salvage with an explicit quarantine audit —
    * [[jsonlPermissive]]'s contract at the parquet layer (the round-16
    * verdict's seventeenth-axis candidate): a 100 TB lake always holds
    * a few files whose footer a dying writer truncated, and the
    * production posture is neither FAILFAST (one bad tail kills the
    * job) nor silent `ignoreCorruptFiles=true` alone (data loss with no
    * receipt) — it is "salvage what reads, and REPORT exactly what was
    * quarantined". Two distributed passes over the dir:
    *
    *  - a footer PROBE: `mapPartitions` over the file list, each task
    *    opening just the parquet footer ([[org.apache.parquet.hadoop.ParquetFileReader]])
    *    and classifying ok/quarantined — metadata-only I/O, no row data,
    *    trivially parallel over millions of files;
    *  - the SALVAGE read: a normal declared-schema scan with
    *    `ignoreCorruptFiles=true`, whose per-file row counts
    *    (`input_file_name`) join the probe verdicts — so a file that
    *    probes ok but contributes zero rows is honestly reported as
    *    (ok, 0), never conflated with quarantine (the empty-input axis
    *    exercises exactly this: an empty shard is a VALID 388-byte
    *    parquet file).
    *
    * The fixture derives deterministically from `documents`: four
    * single-file shards by doc_id residue, then shard
    * [[salvageCorruptIdx]]'s last 8 bytes (footer length + PAR1 magic)
    * are overwritten — so the oracle predicts the full audit from the
    * base table alone. */
  private val parquetSalvage = GraftQuery(
    "q_parquet_salvage",
    "corrupt-footer parquet salvage: probe + ignoreCorruptFiles read + quarantine audit (S-family §2.1)",
    Some(s"""
      WITH c AS (SELECT doc_id % $salvageN AS b, COUNT(*) AS n FROM documents GROUP BY 1),
           f AS (SELECT unnest(generate_series(0, ${salvageN - 1})) AS i)
      SELECT 'p' || f.i || '.parquet' AS file,
             CASE WHEN f.i = $salvageCorruptIdx THEN 'quarantined' ELSE 'ok' END AS status,
             CAST(CASE WHEN f.i = $salvageCorruptIdx THEN 0 ELSE coalesce(c.n, 0) END AS BIGINT)
               AS n_rows
      FROM f LEFT JOIN c ON c.b = f.i
      ORDER BY file"""),
    (s, dir) => {
      val path = scratch(dir, "docs_salvage")
      // Fixture build: ONCE per (session, dir) via the memo — a re-run of
      // the query must not destructively dropTree+rebuild under another
      // plan's in-flight lazy read — and through Hadoop FileSystem APIs,
      // not java.io, so driver-built bytes land on whatever filesystem
      // the scratch scheme resolves to (the same FS the executor-side
      // probe and scan read). Cross-PROCESS runs are disjoint by the
      // pid-keyed scratch root, so no multi-writer case remains.
      graft.SessionMemo.value(s, dir, "salvage_fixture") {
        val basePath = new org.apache.hadoop.fs.Path(path)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        fs.mkdirs(basePath)
        val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"))
        (0 until salvageN).foreach { i =>
          val tmp = new org.apache.hadoop.fs.Path(s"$path/_build_$i")
          docs.filter(col("doc_id") % salvageN === i).coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
          val part = fs.listStatus(tmp).map(_.getPath)
            .find(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
            .getOrElse(sys.error(s"salvage fixture: no part file under $tmp"))
          if (!fs.rename(part, new org.apache.hadoop.fs.Path(basePath, s"p$i.parquet")))
            sys.error(s"salvage fixture: rename failed for $part")
          fs.delete(tmp, true)
        }
        // Hadoop output streams are create/append only (no random write):
        // corrupt the last 8 bytes (footer length + PAR1 magic) by
        // read-modify-rewrite — the shard is one coalesced part file of a
        // bounded residue slice, so the full-file copy is small by
        // construction.
        val victim = new org.apache.hadoop.fs.Path(basePath, s"p$salvageCorruptIdx.parquet")
        val len = fs.getFileStatus(victim).getLen.toInt
        val bytes = new Array[Byte](len)
        val in = fs.open(victim)
        try in.readFully(0, bytes) finally in.close()
        System.arraycopy("GARBAGE!".getBytes("UTF-8"), 0, bytes, len - 8, 8)
        val out = fs.create(victim, true)
        try out.write(bytes) finally out.close()
        path
      }
      import s.implicits._
      val status = s.createDataset((0 until salvageN).map(i => s"p$i.parquet"))
        .repartition(salvageN)
        .mapPartitions { it =>
          val conf = new org.apache.hadoop.conf.Configuration()
          it.map { f =>
            val ok =
              try {
                val in = org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromPath(new org.apache.hadoop.fs.Path(s"$path/$f"), conf)
                val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                r.close(); true
              } catch { case scala.util.control.NonFatal(_) => false }
            (f, if (ok) "ok" else "quarantined")
          }
        }.toDF("file", "status")
      val salvaged = s.read
        .schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType))))
        .option("ignoreCorruptFiles", "true")
        .parquet(path)
        .select(regexp_extract(input_file_name(), "[^/]+$", 0).as("file"))
        .groupBy(col("file")).agg(count(lit(1)).as("n_rows"))
      status.join(salvaged, Seq("file"), "left")
        .select(col("file"), col("status"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"))
        .orderBy(col("file"))
    })

  def queries: Seq[GraftQuery] =
    Seq(csvRoundtrip, orcRoundtrip, jsonlPermissive, parquetSalvage)
}
