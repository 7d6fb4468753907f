package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import AxisMatrix.{diff, failure, rows}

/** The sweep helper's own contracts: failure lines survive any
  * exception message, the row check compares multisets, no spec grows
  * its own sweep or comparator beside the helper, and every temp dir
  * comes from `SparkSpec.tempDir`. */
class AxisMatrixSpec extends SparkSpec {
  import spark.implicits._

  test("a failure line falls back to the exception class on a null or empty message") {
    failure("q", new NullPointerException()) shouldBe "q: java.lang.NullPointerException"
    failure("q", new RuntimeException("")) shouldBe "q: java.lang.RuntimeException"
    failure("q", new RuntimeException("first\nsecond")) shouldBe "q: first"
  }

  test("the row check compares multisets: order is free, a duplicated row is a difference") {
    val two = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    diff("q", rows(two), rows(Seq((2L, "b"), (1L, "a")).toDF("k", "v"))) shouldBe None
    val dup = Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("k", "v")
    diff("q", rows(dup), rows(two)).get should startWith("q: 3 vs 2 rows")
  }

  test("the row check catches a single changed field, -0.0 against 0.0 included") {
    val base = Seq((1L, "a", 0.0), (2L, "b", 1.5)).toDF("k", "v", "x")
    val changed = Seq((1L, "a", 0.0), (2L, "c", 1.5)).toDF("k", "v", "x")
    diff("q", rows(changed), rows(base)) should not be None
    val negZero = Seq((1L, "a", -0.0), (2L, "b", 1.5)).toDF("k", "v", "x")
    diff("q", rows(negZero), rows(base)) should not be None
  }

  /** `<file>: <needle>` for every needle found in a `src/test` Scala file. */
  private def sites(needles: Seq[String]): Seq[String] = {
    val files = Files.walk(Paths.get("src/test")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    files should not be empty
    for {
      p <- files
      text = Files.readString(p)
      n <- needles if text.contains(n)
    } yield s"${(p: Path).getFileName}: $n"
  }

  test("no file in src/test but AxisMatrix runs a noop sink or an exceptAll comparison") {
    val needles = Seq("format(\"" + "noop\")", "except" + "All(", "linesIterator" + ".next()")
    sites(needles) shouldBe Seq("AxisMatrix.scala: " + needles.head)
  }

  test("no file in src/test but SparkSpec creates a temp dir (every spec's dirs are deleted)") {
    val needle = "createTemp" + "Directory"
    sites(Seq(needle)) shouldBe Seq("SparkSpec.scala: " + needle)
  }
}
