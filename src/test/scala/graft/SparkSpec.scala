package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session; specs in
  * one forked test JVM reuse it). Built by the same factory as the mains
  * so tests see the same semantics the driver harness does. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("4", "spark.app.name" -> "graft-tests")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  // stable identifier (not a def) so `import spark.implicits._` works
  lazy val spark: SparkSession = SparkSpec.spark
  /** sf0.001 driver testdata — the smallest fixture set. */
  val sfDir = "/root/testdata/sf0.001"

  // release LlmOps' memoized frames after each suite (the session itself
  // is shared JVM-wide; the next suite rebuilds what it needs)
  override protected def afterAll(): Unit = {
    GraftSession.release(spark)
    super.afterAll()
  }
}
