package graft

import scala.sys.process._
import AxisMatrix.{ordered, rows}

/** Physical-encoding drift axis (sixteenth, round 17): one table dir
  * mixes files whose writers chose different codecs (zstd, gzip,
  * snappy, uncompressed), pathological row-group sizes (7 rows), data
  * page v2, and dictionary-off encoding — the writer accidents a
  * 100 TB lake accumulates across compactions and tool upgrades. Codec
  * and page layout are PHYSICAL properties; the logical surface must
  * not move at all. The cross-engine half is the full Verify +
  * check.py gate over `tools/make_fixtures.py encdrift` (§2b-p in the
  * verify skill).
  */
class EncodingDriftSpec extends SparkSpec with AxisMatrix {

  private def buildAxis(axis: String): String = {
    val dir = tempDir("graft_enc_spec")
    Seq("python3", "tools/make_fixtures.py", sfDir, dir, axis).!!
    s"$dir/graft_${axis}_sf"
  }

  private lazy val encDir: String = buildAxis("encdrift")

  /** Seventeenth axis (round 19): column-order permutation per file,
    * LZ4_RAW, 1-row row groups with 64-byte pages, and
    * reversed-order+uncompressed+dict-off+page-v2 composed in one
    * file. */
  private lazy val enc2Dir: String = buildAxis("encdrift2")

  private def tablesIdentical(dir: String): Unit =
    T.tableNames.foreach { t =>
      val clean = rows(T(spark, sfDir, t))
      val mixed = rows(T(spark, dir, t))
      withClue(t)(mixed shouldBe clean)
    }

  private def queriesInvariant(dir: String): Unit =
    // spans the hot readers: documents text ops, events windows,
    // embeddings vector math, lineitem exact-decimal aggregation
    Seq("llm_e4_doc_quality", "e5_sessionization", "llm_e2_semdedup",
      "q1_pricing_summary").foreach { name =>
      val q = Registry.byName(name)
      val clean = ordered(q.run(spark, sfDir))
      val mixed = ordered(q.run(spark, dir))
      withClue(name)(mixed shouldBe clean)
    }

  test("every table reads byte-identically from the mixed-encoding dir") {
    tablesIdentical(encDir)
  }

  test("representative queries are encoding-invariant end to end") {
    queriesInvariant(encDir)
  }

  test("every table reads byte-identically under column-order/lz4/1-row-group drift") {
    tablesIdentical(enc2Dir)
  }

  test("representative queries are invariant under column-order/lz4/1-row-group drift") {
    queriesInvariant(enc2Dir)
  }

  test("column order is restored to the declared contract order") {
    // a reversed-field file in the dir must not leak physical order
    // into the logical schema (T restores declared order, the
    // layout-drift contract)
    T.tableNames.foreach { t =>
      withClue(t) {
        T(spark, enc2Dir, t).columns.toSeq shouldBe T(spark, sfDir, t).columns.toSeq
      }
    }
  }
}
