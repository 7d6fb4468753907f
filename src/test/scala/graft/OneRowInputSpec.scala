package graft

import org.apache.spark.sql.functions._

/** Every registry query must RUN — with sane degenerate semantics — on
  * a ONE-row-per-table corpus: the boundary between EmptyInputSpec's
  * zero-row axis and real data, where group sizes hit n=1 and
  * min==max. A 100 TB job's partition/filter chains routinely hand a
  * stage exactly one row. The first gate run (round 11) found two real
  * bugs, both fixed at the source and mirrored in the oracles:
  *
  *  - q_zorder_locality divided by a zero coordinate extent
  *    (xmax−xmin = 0): ANSI Spark THREW, DuckDB would have produced
  *    NaN. Contract: a zero-extent axis maps every point to grid 0
  *    (NULLIF + COALESCE on both sides);
  *  - q_corr_matrix's single-row variance n·Σx² − (Σx)² is 0 in exact
  *    arithmetic but can land one ulp NEGATIVE after the two
  *    decimal→double conversions — sqrt(−ε) is NaN in Spark but an
  *    ERROR in DuckDB. Contract: variance terms clamp at 0
  *    (GREATEST on both sides), so degenerate groups emit NULL
  *    correlation via the existing NULLIF discipline.
  */
class OneRowInputSpec extends SparkSpec with AxisMatrix {

  private lazy val oneDir: String = fixture("graft_onerow")((_, base) => base.limit(1))

  test("all registry queries execute on the one-row corpus") {
    val failures = survives(oneDir)
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("single-row correlation is NULL, never NaN or an error") {
    val rows = Registry.byName("q_corr_matrix").run(spark, oneDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("corr_val")))
      assert(r.isNullAt(r.fieldIndex("cov_val")))
    }
  }

  test("zero-extent z-order grid maps the point to bucket 0 with zero spans") {
    val rows = Registry.byName("q_zorder_locality").run(spark, oneDir).collect()
    rows.length shouldBe 1
    val r = rows.head
    r.getLong(r.fieldIndex("zbucket")) shouldBe 0L
    r.getLong(r.fieldIndex("x_span")) shouldBe 0L
    r.getLong(r.fieldIndex("y_span")) shouldBe 0L
  }
}
