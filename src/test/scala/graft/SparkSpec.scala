package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
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

  /** Deletes `dir` and everything under it; a missing dir is a no-op. */
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }
}

trait SparkSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  // stable identifier (not a def) so `import spark.implicits._` works
  lazy val spark: SparkSession = SparkSpec.spark
  /** sf0.001 driver testdata — the smallest fixture set. */
  val sfDir = "/root/testdata/sf0.001"

  private val createdDirs = mutable.Buffer.empty[String]

  /** A fresh temp dir, deleted with its contents in this spec's afterAll. */
  protected def tempDir(prefix: String): String = createdDirs.synchronized {
    val dir = Files.createTempDirectory(prefix).toString
    createdDirs += dir
    dir
  }

  // release LlmOps' memoized frames after each suite (the session itself
  // is shared JVM-wide; the next suite rebuilds what it needs)
  override protected def afterAll(): Unit =
    try {
      GraftSession.release(spark)
      super.afterAll()
    } finally createdDirs.synchronized { createdDirs.foreach(SparkSpec.delete); createdDirs.clear() }
}
