package graft

import org.apache.spark.sql.functions._

/** `Tables.fanned*` — the r19 input-skew fan-out (optimization guide
  * §2.5): pins (1) row identity vs the plain loader, (2) the fan-out
  * actually fires on the single-row-group fixture files, and (3) the
  * SCALE no-op contract — on an input that can already split to the
  * spread target (a multi-file directory), no repartition is added, so
  * the wrapper provably never reaches a production plan. */
class FannedSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("fanned returns exactly the loader's rows (documents, events)") {
    val a = Tables.fannedDocuments(spark, sf).orderBy("doc_id").collect()
    val b = Tables.documents(spark, sf).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
    val c = Tables.fannedEvents(spark, sf)
      .select("event_id").orderBy("event_id").collect()
    val d = Tables.events(spark, sf)
      .select("event_id").orderBy("event_id").collect()
    assert(c.toSeq == d.toSeq)
  }

  test("fanned fires on the single-row-group fixture: rows spread wide") {
    // the fixture file is one row group — unsplittable, so the wrapper
    // must add the hash spread (more than one non-empty partition)
    val parts = Tables.fanned(spark, sf, "lineitem", "l_orderkey")
      .rdd.getNumPartitions
    assert(parts >= 2, s"expected fan-out on a 1-row-group file, got $parts")
  }

  test("fanned is a NO-OP on a splittable (multi-file) input") {
    val tmp = testDir("fanned_spec_").toString
    val name = "mf"
    Tables.documents(spark, sf)
      .repartition(8) // 8 part files -> >= 8 row groups
      .write.mode("overwrite").parquet(s"$tmp/$name.parquet")
    val fanned = Tables.fanned(spark, tmp, name, "doc_id")
    // no exchange of any kind: the splittability probe must prove the
    // layout and return the bare scan
    assert(!planOf(fanned).contains("Exchange"),
      s"fan-out must not reach a splittable input's plan:\n${planOf(fanned)}")
    assert(fanned.count() == Tables.documents(spark, sf).count())
  }

  test("in-progress files under _temporary/ do not make a table splittable") {
    // Hadoop's hidden-file convention: Spark's scan skips paths with a
    // `_`/`.` component below the root, so the footer probe must too —
    // else a half-written job's parts flip a one-row-group table to
    // "splittable" and the fan-out silently turns off
    val tmp = testDir("fanned_spec_tmp_").toString
    val table = s"$tmp/t.parquet"
    Tables.documents(spark, sf).coalesce(1)
      .write.mode("overwrite").parquet(table)
    Tables.documents(spark, sf).repartition(8) // >= 8 row groups
      .write.mode("overwrite").parquet(s"$table/_temporary/0")
    val fanned = Tables.fanned(spark, tmp, "t", "doc_id")
    assert(planOf(fanned).contains("Exchange"),
      s"a one-row-group table must stay unsplittable:\n${planOf(fanned)}")
    assert(fanned.count() == Tables.documents(spark, sf).count())
  }
}
