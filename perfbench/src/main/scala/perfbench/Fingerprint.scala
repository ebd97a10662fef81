package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, shiftrightunsigned, sum, xxhash64}

/** An order-insensitive fingerprint of a query result: the row count
  * plus two sums over a 64-bit hash of each row.
  *
  * Sums commute, so neither row order nor partitioning changes the
  * value, while a changed, missing or duplicated row does. The hash is
  * split into 32-bit halves so that the sums cannot overflow a long for
  * fewer than 2^31 rows. Every column is hashed through its string
  * form, which also covers types `xxhash64` rejects (maps, variants).
  */
object Fingerprint {

  def of(df: DataFrame): String = {
    // positional names: results may carry duplicate or dotted names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.columns.map(c => col(c).cast("string")): _*)
    val row = named.select(h.as("h"))
      .agg(count(lit(1)),
        sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def orZero(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    s"${row.getLong(0)}:${orZero(1)}:${orZero(2)}"
  }
}
