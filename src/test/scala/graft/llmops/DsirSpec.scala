package graft.llmops

import graft.{Registry, SparkSpec}
import org.apache.spark.sql.functions._

/** DSIR hashed-bigram importance weights: closed-form replay of the full
  * model on the sf0.001 corpus, plus a planted-vocabulary directional
  * check (target-looking docs weigh higher) on a synthetic dir. */
class DsirSpec extends SparkSpec {

  private def run(name: String, dir: String = sfDir) =
    Registry.byName(name).run(spark, dir)

  /** The engine's md5 bucket, replayed driver-side. */
  private def bucket(prev: String, tk: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest((prev + " " + tk).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(8), 16) % Dsir.dsirB
  }
  private def ln7(x: Double): Double = { val y = math.log(x) * 1e7; y - (y % 1.0) }
  private def q4(x: Double): Double = { val y = x * 10000.0 + 0.5; (y - (y % 1.0)) / 10000.0 }

  test("llm_e4_dsir_weights matches a driver-side replay of the hashed-bigram model") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .filter(_.getAs[String]("text") != null)
    val occ = docs.flatMap { r =>
      val t = r.getAs[String]("text").split(" ", -1)
      t.sliding(2).filter(_.length == 2).map(p =>
        (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), bucket(p(0), p(1))))
    }
    val cr = occ.groupBy(_._3).map { case (b, os) => b -> os.length.toLong }
    val ct = occ.filter(_._2 == Dsir.dsirTargetLang).groupBy(_._3)
      .map { case (b, os) => b -> os.length.toLong }.withDefaultValue(0L)
    val nr = occ.length.toLong
    val nt = occ.count(_._2 == Dsir.dsirTargetLang).toLong
    // summands are differences of integer-valued doubles on the 1e-7
    // grid, so this driver-side sum is exact in any order — same
    // argument the engine's partition-insensitivity rests on
    val expected = occ.groupBy(_._1).map { case (d, os) =>
      val sum7 = os.map(o => ln7(ct(o._3) + 1.0) - ln7(cr(o._3) + 1.0)).sum
      d -> (os.length.toLong,
        q4((sum7 + os.length * (ln7(nr + Dsir.dsirB.toDouble)
          - ln7(nt + Dsir.dsirB.toDouble))) / 1e7))
    }
    val got = run("llm_e4_dsir_weights").collect()
    got.length shouldBe expected.size
    got.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val (n, w) = expected(d)
      withClue(s"doc $d:") {
        r.getAs[Long]("n_bigrams") shouldBe n
        r.getAs[Double]("dsir_logweight") shouldBe w
      }
    }
  }

  test("llm_e4_dsir_weights plan: B-bounded model broadcasts back onto the stream") {
    val qe = run("llm_e4_dsir_weights").queryExecution
    val p = qe.executedPlan.toString
    // the 128-row model and the 1-row totals both come back as
    // broadcasts; the corpus stream is a pure generate projection
    "BroadcastExchange".r.findAllIn(p).size should be >= 2
    p should include("Generate posexplode")
    p should not include "CartesianProduct"
  }

  test("planted vocabulary: target-looking docs weigh higher than off-target docs") {
    import spark.implicits._
    val dir = tempDir("graft_test_dsir")
    // 'en' docs speak one vocabulary, 'xx' docs a disjoint one; a probe
    // doc in each vocabulary carries lang 'zz' so its weight comes only
    // from its CONTENT, not its own lang tag
    val enText = "alpha beta gamma delta alpha beta gamma delta alpha beta"
    val xxText = "omega sigma kappa lambda omega sigma kappa lambda omega sigma"
    val rows = (0L until 10L).map(i => (i, enText, "en", "srcA", enText.length.toLong)) ++
      (10L until 20L).map(i => (i, xxText, "xx", "srcB", xxText.length.toLong)) ++
      Seq((20L, enText, "zz", "srcC", enText.length.toLong),
        (21L, xxText, "zz", "srcC", xxText.length.toLong))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.SessionMemo.clear(spark)
    try {
      val w = run("llm_e4_dsir_weights", dir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_logweight")).toMap
      withClue("target-vocabulary probe vs off-target probe:") {
        w(20L) should be > w(21L)
      }
      // and the en slice itself scores strictly above the xx slice
      (0L until 10L).foreach(d => w(d) should be > w(10L))
    } finally {
      graft.SessionMemo.clear(spark)
    }
  }
}
