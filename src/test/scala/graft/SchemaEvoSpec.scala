package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Schema EVOLUTION is the thirteenth degenerate axis (round 16): a
  * long-lived table dir mixes files written BEFORE a late column
  * existed with files written after — provenance tags, a props payload,
  * any column added mid-lake. Two failure modes this axis exists to
  * close:
  *
  *  - SILENT DATA LOSS on read: single-footer schema inference picks
  *    ONE file's schema; whenever listing order lands on an old file,
  *    the late column vanishes from the read schema and every new
  *    file's values are dropped without an error. The contract read
  *    (`T.apply`) therefore infers with mergeSchema=true — the files'
  *    UNION, footers only — and the oracle mirrors with DuckDB's
  *    union_by_name.
  *  - the ALL-FILES-MISSING boundary: before the first new-schema write
  *    lands, the declared column exists in NO file. The normalizer
  *    surfaces it as a typed all-null column (contract order preserved)
  *    instead of failing the whole surface on a resolver error.
  *
  * DECLARED SEMANTICS: rows from old files carry NULL in the late
  * column — indistinguishable from the null-injection axis, whose
  * contracts (round 11) already govern every consumer. The cross-engine
  * half is the §2b-e gate (make_fixtures.py `schemaevo` +
  * Verify + check.py); this spec pins the engine side.
  */
class SchemaEvoSpec extends SparkSpec with AxisMatrix {

  /** Write `df` as ONE parquet file named `name` inside table dir `d`
    * (via a scratch write + move — Spark controls its own part names). */
  private def writeOneFile(df: org.apache.spark.sql.DataFrame, d: String, name: String): Unit = {
    val scratch = tempDir("graft_evo_w")
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(scratch))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var moved = false
    while (part.hasNext) {
      val f = part.next()
      if (f.toString.endsWith(".parquet")) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.move(f, java.nio.file.Paths.get(d, name))
        moved = true
      }
    }
    require(moved, s"no parquet file written for $d/$name")
  }

  /** In-JVM twin of the make_fixtures recipe: documents loses `source`
    * and events loses `props` in the older (first-sorting) file; the
    * split is key parity so both halves are non-empty and deterministic. */
  private lazy val evoDir: String = {
    val dir = tempDir("graft_schemaevo")
    val late = Map("documents" -> ("source", "doc_id"), "events" -> ("props", "event_id"))
    T.tableNames.foreach { t =>
      val base = T(spark, sfDir, t)
      late.get(t) match {
        case Some((c, key)) =>
          val d = s"$dir/$t.parquet"
          // two physically separate files; the old (narrow) schema sorts
          // FIRST so single-footer inference would pick the WRONG schema
          writeOneFile(base.filter(col(key) % 2 === 0).drop(c), d, "part-000-old.parquet")
          writeOneFile(base.filter(col(key) % 2 =!= 0), d, "part-001-new.parquet")
        case None =>
          base.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    }
    SessionMemo.clear(spark)
    dir
  }

  /** The explicit twin: SAME rows, the late column materialized as real
    * NULLs in one uniform-schema file — what the evolved dir must be
    * indistinguishable from. Built from the EVOLVED read so the two
    * dirs carry identical rows. */
  private lazy val twinDir: String = fixture("graft_schemaevo_twin", evoDir)((_, base) => base)

  test("the union read surfaces the late column: old rows null, new rows carry values") {
    val docs = T(spark, evoDir, "documents")
    docs.columns.toSeq shouldBe Seq("doc_id", "text", "lang", "source", "n_chars")
    val nNull = docs.filter(col("source").isNull).count()
    val nVal = docs.filter(col("source").isNotNull).count()
    withClue("old-file rows must read as null source:") { nNull should be > 0L }
    withClue("new-file rows must KEEP their source values (the silent-loss mode):") {
      nVal should be > 0L
    }
    nNull + nVal shouldBe spark.read.parquet(s"$sfDir/documents.parquet").count()
  }

  test("a declared column missing from EVERY file reads as a typed all-null column, in contract order") {
    val dir = tempDir("graft_schemaevo_all")
    spark.read.parquet(s"$sfDir/documents.parquet").drop("source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SessionMemo.clear(spark)
    try {
      val docs = T(spark, dir, "documents")
      docs.columns.toSeq shouldBe Seq("doc_id", "text", "lang", "source", "n_chars")
      docs.schema("source").dataType shouldBe StringType
      docs.schema("doc_id").dataType shouldBe LongType
      docs.filter(col("source").isNotNull).count() shouldBe 0L
    } finally SessionMemo.clear(spark)
  }

  /** WIDTH evolution: the same key columns int32 in the older file,
    * int64 in the newer — unmergeable by footer union, absorbed by the
    * declared-schema fallback read. */
  private lazy val widthDir: String = {
    val dir = tempDir("graft_widthevo")
    val narrow = Map("documents" -> Seq("doc_id", "n_chars"),
      "events" -> Seq("event_id", "user_id"))
    T.tableNames.foreach { t =>
      val base = T(spark, sfDir, t)
      narrow.get(t) match {
        case Some(cols) =>
          val key = cols.head
          val d = s"$dir/$t.parquet"
          val old = base.filter(col(key) % 2 === 0)
          val narrowed = old.select(old.columns.map { c =>
            if (cols.contains(c)) col(c).cast("int").as(c) else col(c)
          }.toSeq: _*)
          writeOneFile(narrowed, d, "part-000-old-width.parquet")
          writeOneFile(base.filter(col(key) % 2 =!= 0), d, "part-001-new-width.parquet")
        case None =>
          base.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    }
    SessionMemo.clear(spark)
    dir
  }

  test("width-evolved dir: unmergeable footers fall back to the contract read, rows intact") {
    val docs = T(spark, widthDir, "documents")
    docs.schema("doc_id").dataType shouldBe LongType
    docs.schema("n_chars").dataType shouldBe LongType
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.count() shouldBe base.count()
    // values from BOTH width generations survive the fallback read
    import spark.implicits._
    val got = docs.select("doc_id").as[Long].collect().sorted
    val want = base.select(col("doc_id").cast("long")).as[Long].collect().sorted
    got shouldBe want
  }

  test("every registry query is byte-identical on the width-evolved dir vs the uniform original") {
    val diffs = sweep()(q => sameRows(q, widthDir).toSeq)
    withClue(diffs.mkString("\n")) { diffs shouldBe empty }
  }

  test("every registry query is byte-identical on the evolved dir vs its explicit-null twin") {
    val diffs = sweep()(q => sameRows(q, evoDir, twinDir).toSeq)
    withClue(diffs.mkString("\n")) { diffs shouldBe empty }
  }
}
