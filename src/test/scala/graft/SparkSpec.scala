package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** ONE session builder for every test entry point (the scalatest trait
  * below and the scalacheck Properties object). getOrCreate means the
  * first caller's config wins for the whole JVM — a second, drifted
  * builder would silently run with someone else's config. It is the
  * mains' conf set ([[Session]]) at a fixed 4 cores, so the tested
  * plans are the benchmarked and verified ones on any host. */
object TestSession {
  def spark: SparkSession = Session.builder(cores = 4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh_").toString)
    .getOrCreate()
}

/** Shared test fixture: one session per JVM (getOrCreate), sf0.001
  * testdata. Sessions are never stopped per-suite — suites share it. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"
}
