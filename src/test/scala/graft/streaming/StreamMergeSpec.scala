package graft.streaming

import graft.SparkSpec
import graft.operators.Layout

/** Pins the two properties stream_merge_cdc's oracle can't see:
  * streaming-equals-batch equivalence, and apply idempotence (the
  * at-least-once → exactly-once discipline for a redelivered batch). */
class StreamMergeSpec extends SparkSpec {

  test("stream_merge_cdc reaches exactly the batch merge_into state, " +
      "and re-applying a changelog slice (redelivery) is a no-op") {
    val streamed = Streams.streamMergeCdc(spark, sf).collect().toSeq
    val batch = Layout.mergeInto(spark, sf).collect().toSeq
    assert(streamed === batch,
      "streaming micro-batch merges diverged from the one-shot batch merge")

    // redelivery drill: the 'I' slice arrives AGAIN after the stream
    // finished — matched-'I' keeps the target row, so the table state
    // must be byte-identical afterwards
    val path = graft.sources.FormatSources.exportPath("smergetgt", sf)
    val redelivered = Layout.mergeChangelog(spark, sf)
      .filter(org.apache.spark.sql.functions.col("op") === "I")
    Layout.mergeApply(spark, path, redelivered)
    val after = spark.read.parquet(path)
      .selectExpr("event_id", "event_type", "user_id", "cents")
      .orderBy("event_id").collect().toSeq
    assert(after === streamed,
      "re-applying an insert batch changed the table — apply is not idempotent")

    // and a redelivered 'U' slice is equally a no-op (same new value
    // applied twice)
    val reU = Layout.mergeChangelog(spark, sf)
      .filter(org.apache.spark.sql.functions.col("op") === "U")
    Layout.mergeApply(spark, path, reU)
    val afterU = spark.read.parquet(path)
      .selectExpr("event_id", "event_type", "user_id", "cents")
      .orderBy("event_id").collect().toSeq
    assert(afterU === streamed)
  }

  test("MergeTargetCache: an insert that CREATES a partition is " +
      "discovered by refresh; an empty batch is a no-op; cached reads " +
      "track every rewrite") {
    // r18: the streaming CDC sink holds this cache across micro-batches
    // (schema once, per-partition file lists re-listed only for touched
    // partitions). The production changelog only touches partitions
    // that already exist, so the refresh-discovers-a-NEW-dir path and
    // the empty-batch early return need their own pins.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = testDir("graft_mtc_spec_").toString
    Seq((1L, "click", 10L, 100L), (2L, "view", 20L, 200L))
      .toDF("event_id", "event_type", "user_id", "cents")
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    val cache = new Layout.MergeTargetCache(spark, path, "event_type")
    // batch 1: INSERT into a partition the target has never had
    Layout.mergeApply(spark, path,
      Seq((5L, "npe", 50L, 500L, "I"))
        .toDF("event_id", "event_type", "user_id", "cents", "op"),
      Some(cache))
    // batch 2: UPDATE the freshly created partition — the cached read
    // must see batch 1's file (refresh discovered the new dir), or the
    // full-outer merge would treat id 5 as unmatched and the 'U' would
    // no-op
    Layout.mergeApply(spark, path,
      Seq((5L, "npe", 50L, 999L, "U"))
        .toDF("event_id", "event_type", "user_id", "cents", "op"),
      Some(cache))
    // batch 3: EMPTY changelog — must return without writing
    val filesBefore = spark.read.parquet(path).inputFiles.sorted.toSeq
    Layout.mergeApply(spark, path,
      Seq.empty[(Long, String, Long, Long, String)]
        .toDF("event_id", "event_type", "user_id", "cents", "op"),
      Some(cache))
    assert(spark.read.parquet(path).inputFiles.sorted.toSeq === filesBefore,
      "an empty changelog batch rewrote the target")
    val state = spark.read.parquet(path)
      .select("event_id", "event_type", "cents")
      .orderBy("event_id").collect().toSeq.map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(state === Seq((1L, "click", 100L), (2L, "view", 200L),
      (5L, "npe", 999L)),
      s"cached-manifest merges diverged from expected state: $state")
    // and the cache-read equals a fresh root read for the new partition
    val cached = cache.read(spark, Seq("npe"))
      .select("event_id", "cents").collect().toSeq
    val fresh = spark.read.parquet(path)
      .filter(col("event_type") === "npe")
      .select("event_id", "cents").collect().toSeq
    assert(cached === fresh)
  }
}
