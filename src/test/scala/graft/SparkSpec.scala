package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** ONE session builder for every test entry point (the scalatest trait
  * below and the scalacheck Properties object). getOrCreate means the
  * first caller's config wins for the whole JVM — a second, drifted
  * builder would silently run with someone else's config. It is the
  * mains' conf set ([[Session]]) at a fixed 4 cores, so the tested
  * plans are the benchmarked and verified ones on any host. */
object TestSession {
  // one warehouse per JVM (every suite's session is the same one),
  // removed at exit with the export dirs
  private lazy val warehouse = graft.sources.FormatSources.scratchDir(
    System.getProperty("java.io.tmpdir"), "wh", "test")

  def spark: SparkSession = Session.builder(cores = 4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", warehouse)
    .getOrCreate()
}

/** Shared test fixture: one session per JVM (getOrCreate), sf0.001
  * testdata. Sessions are never stopped per-suite — suites share it. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  private val testDirs = scala.collection.mutable.Buffer.empty[java.nio.file.Path]

  /** A fresh temp dir, deleted when the current test finishes. */
  def testDir(prefix: String): java.nio.file.Path = synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    testDirs += d
    d
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally synchronized {
      testDirs.foreach(Util.deleteRecursively)
      testDirs.clear()
    }
}
