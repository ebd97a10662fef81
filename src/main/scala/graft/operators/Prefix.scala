package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one scalable global running sum: a TWO-LEVEL prefix sum. The
  * naive `sum(v) OVER (PARTITION BY groups ORDER BY order)` sorts each
  * group's rows in ONE task — the whole corpus when `groups` is empty,
  * the classic global-sort bottleneck. Instead:
  *   1. per-bucket totals over the bucket axis (one row per bucket);
  *   2. an exclusive running offset over that small frame — the only
  *      single-partition (or per-group) window, and it never sees rows;
  *   3. a running sum within each (groups, buckets) partition, plus the
  *      bucket's offset.
  * Running sums are associative, so the result equals the one-window
  * definition bit for bit (integer sums). Row numbers, exclusive sums
  * and 0-based positions are a sum of `lit(1L)`, `cum − v` and `cum − 1`.
  */
object Prefix {

  /** Adds one inclusive running sum per `sums` entry (output name →
    * value column) to `df`, restarting per `groups` and ordered by
    * `buckets` then `order`. `buckets` must be monotone in `order`
    * within a group (bucket order IS row order), and `order` must be a
    * total order within each (groups, buckets) partition.
    *
    * `boundedBuckets`: the bucket axis has a fixed number of values
    * whatever the input size (a value range, 256 hash buckets), so the
    * offsets frame is broadcast. An axis that grows with the input
    * (`doc_id DIV 1000`) is joined by shuffle instead. Keys join
    * null-safely: a window groups NULL keys together, so the offset join
    * must match them too.
    */
  def runningSums(df: DataFrame, groups: Seq[String], buckets: Seq[String],
      order: Seq[String], sums: Seq[(String, Column)],
      boundedBuckets: Boolean): DataFrame = {
    val keys = groups ++ buckets
    val within = Window.partitionBy(keys.map(col): _*)
      .orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val before = Window.partitionBy(groups.map(col): _*)
      .orderBy(buckets.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = sums.map { case (n, v) => sum(v).as(n) }
    val offsets = df.groupBy(keys.map(col): _*).agg(totals.head, totals.tail: _*)
      .select(keys.map(k => col(k).as(s"_pfx_$k")) ++ sums.map { case (n, _) =>
        coalesce(sum(col(n)).over(before), lit(0L)).as(s"_pfx_$n")
      }: _*)
    val local = sums.foldLeft(df) { case (d, (n, v)) =>
      d.withColumn(n, sum(v).over(within))
    }
    local
      .join(if (boundedBuckets) broadcast(offsets) else offsets,
        keys.map(k => col(k) <=> col(s"_pfx_$k")).reduce(_ && _))
      .select(df.columns.map(col).toSeq ++ sums.map { case (n, _) =>
        (col(s"_pfx_$n") + col(n)).as(n)
      }: _*)
  }
}
