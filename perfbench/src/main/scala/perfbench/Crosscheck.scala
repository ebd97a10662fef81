package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Ties the expected fingerprints to the DuckDB oracle: fingerprints the
  * per-key result directories `graft.Verify` dumped (the ones
  * `scripts/compare.py` checks against DuckDB) and compares each with
  * the expected fingerprint of the same key.
  *
  * Usage: Crosscheck <verify-out-dir> <expected.json>
  * Exits non-zero if any key present in both differs.
  */
object Crosscheck {
  def main(args: Array[String]): Unit = {
    val Array(out, expectedFile) = args
    val expected = new ObjectMapper().readTree(Files.readString(Paths.get(expectedFile)))
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val checked = expected.fieldNames().asScala.toSeq.sorted
      .filter(k => Files.isDirectory(Paths.get(out, k))).map { k =>
        val got = Fingerprint.of(spark.read.parquet(Paths.get(out, k).toString))
        val want = expected.get(k).asText()
        println(s"${if (got == want) "match   " else "MISMATCH"} $k $got $want")
        got == want
      }
    spark.stop()
    println(s"${checked.count(identity)}/${checked.size} keys match")
    if (checked.contains(false)) sys.exit(1)
  }
}
