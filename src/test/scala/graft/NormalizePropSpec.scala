package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property test for the contract read (`T.normalize` via a physical
  * re-encoding + read-back): ANY composition of the three physical
  * accidents a lake can serve — a column subset (schema evolution), a
  * column-order permutation (partition discovery), and width drift
  * (int64 keys narrowed to int32) — must normalize to the declared
  * documents contract: canonical names in canonical order, canonical
  * types, original rows preserved, absent columns all-null. Seeded
  * hand-rolled forAll (same pattern as AsOfJoinPropSpec). */
class NormalizePropSpec extends SparkSpec {

  private val declared = Seq("doc_id", "text", "lang", "source", "n_chars")

  // a random physical accident: which columns survive (doc_id always —
  // a table without its key is a different pathology), their order,
  // and whether the int64 columns are narrowed
  private case class Accident(keep: Seq[String], narrow: Boolean)

  private val accidentGen: Gen[Accident] = for {
    dropText <- Gen.prob(0.3)
    dropLang <- Gen.prob(0.3)
    dropSource <- Gen.prob(0.5)
    dropChars <- Gen.prob(0.3)
    kept = declared.filter {
      case "text" => !dropText
      case "lang" => !dropLang
      case "source" => !dropSource
      case "n_chars" => !dropChars
      case _ => true
    }
    shuffleKeys <- Gen.listOfN(kept.length, Gen.choose(0, 1000000))
    perm = kept.zip(shuffleKeys).sortBy(_._2).map(_._1)
    narrow <- Gen.prob(0.5)
  } yield Accident(perm, narrow)

  test("normalize is a fixed point over random subset x permutation x width accidents") {
    val base = spark.read.parquet(s"$sfDir/documents.parquet").limit(50).cache()
    val expectedRows = base.count()
    val params = org.scalacheck.Gen.Parameters.default
    (1 to 25).foreach { i =>
      val acc = accidentGen(params, Seed(42L + i)).get
      val dir = tempDir(s"graft_normprop_$i")
      // materialize the accident: project to the kept permutation, narrow
      val projected = base.select(acc.keep.map { c =>
        if (acc.narrow && (c == "doc_id" || c == "n_chars")) col(c).cast("int").as(c)
        else col(c)
      }: _*)
      projected.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      SessionMemo.clear(spark)
      try {
        val got = T(spark, dir, "documents")
        withClue(s"accident $i (${acc.keep.mkString(",")}, narrow=${acc.narrow}):") {
          got.columns.toSeq shouldBe declared
          got.schema("doc_id").dataType shouldBe LongType
          got.schema("n_chars").dataType shouldBe LongType
          got.schema("text").dataType shouldBe StringType
          got.count() shouldBe expectedRows
          // absent columns read all-null; present columns keep values
          declared.foreach { c =>
            val nonNull = got.filter(col(c).isNotNull).count()
            if (acc.keep.contains(c)) nonNull should be > 0L
            else nonNull shouldBe 0L
          }
          // present-column VALUES round-trip (multiset, via checksum on
          // doc_id-keyed compare for one surviving payload column)
          acc.keep.filterNot(_ == "doc_id").headOption.foreach { c =>
            val a = got.select(col("doc_id"), col(c).cast("string"))
              .collect().map(r => (r.get(0), r.get(1))).toSet
            val b = base.select(col("doc_id"), col(c).cast("string"))
              .collect().map(r => (r.get(0), r.get(1))).toSet
            a shouldBe b
          }
        }
      } finally SessionMemo.clear(spark)
    }
    base.unpersist()
  }
}
