package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.desc
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("the fingerprint ignores row order and partitioning, not content") {
    val df = spark.range(500).selectExpr("id", "cast(id % 7 as string) AS s",
      "array(id, id * 2) AS a", "map('k', id) AS m", "id AS `dotted.name`")
    val fp = Fingerprint.of(df)
    assert(Fingerprint.of(df.orderBy(desc("id"))) == fp)
    assert(Fingerprint.of(df.repartition(5)) == fp)
    assert(Fingerprint.of(df.filter("id > 0")) != fp)
    assert(Fingerprint.of(df.union(df.filter("id = 3"))) != fp, "a duplicated row")
    assert(Fingerprint.of(df.selectExpr("id", "s", "a", "map('k', id + 1)", "`dotted.name`")) != fp)
    assert(Fingerprint.of(df.filter("id < 0")) == "0:0:0")
  }

  test("the seed alone sets each pass's key order") {
    val keys = Workloads.all("fixture_read").keys
    def orders(seed: Long) = (-2 to 5).map(Workloads.order(keys, seed, _))
    val a = orders(1)
    assert(orders(1) == a, "same seed, same orders")
    assert(a.forall(_.sorted == keys.sorted), "every pass runs every key once")
    assert(a.distinct.size > 1, "passes differ")
    assert(orders(2) != a, "another seed, other orders")
  }

  test("every workload key is an engine key with an expected fingerprint") {
    Workloads.all.values.foreach { w =>
      assert(w.keys.forall(graft.SparkEntry.queries.contains), w.name)
      val expected = new ObjectMapper().readTree(
        Files.readString(Paths.get("expected", s"${w.name}.json")))
      assert(expected.fieldNames().asScala.toSeq.sorted == w.keys.sorted, w.name)
    }
  }
}
