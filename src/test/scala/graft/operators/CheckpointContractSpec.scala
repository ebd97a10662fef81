package graft.operators

import graft.SparkSpec

/** Pins the documented lifetime contract of the eagerly-checkpointed
  * keys (`join_bloom` Q95, `join_skew_aqe` Q106 — VERDICT r8 item 7).
  *
  * Both operators must materialize under a SCOPED conf (runtime bloom
  * thresholds / AQE skew thresholds live at execution time), so they
  * return an eager `localCheckpoint` whose storage blocks are released
  * at the next harness boundary (`Caches.releaseAll()`), NOT when the
  * caller drops the frame. The contract a public API caller gets:
  *
  *  1. the returned frame is freely re-readable any number of times
  *     BEFORE the next `releaseAll()` — including across later
  *     invocations of the same operator (the r7 fix: invocation N must
  *     not invalidate invocation N-1's escaped result);
  *  2. after `releaseAll()` the frame is DEAD — the checkpoint
  *     truncated its lineage, so the dropped blocks are unrecomputable
  *     and re-execution fails loudly (checkpoint-block-not-found), it
  *     never silently recomputes under the wrong (unscoped) conf.
  *
  * The failure in (2) is the footgun this spec makes load-bearing: if a
  * refactor ever swaps the localCheckpoint for a lazily recomputable
  * persist, re-execution after release would silently re-plan WITHOUT
  * the scoped conf (no bloom probe / no skew split) — correct rows,
  * wrong plan, invisible at 0.001 scale and a regression at 100 TB.
  * This spec fails on that refactor: test 2 demands an exception.
  */
class CheckpointContractSpec extends SparkSpec {

  test("join_bloom/join_skew_aqe: results re-readable across invocations, until releaseAll") {
    val bloom1 = Relational.joinBloom(spark, sf)
    val first = bloom1.collect()
    // a second invocation must NOT invalidate the escaped first result
    val bloom2 = Relational.joinBloom(spark, sf)
    assert(bloom2.collect().length == first.length)
    assert(bloom1.collect().toSeq == first.toSeq,
      "first result must survive a second invocation (ADVICE r7)")
    val skew1 = Relational.joinSkewAqe(spark, sf)
    val skewFirst = skew1.collect()
    val skew2 = Relational.joinSkewAqe(spark, sf)
    assert(skew2.collect().length == skewFirst.length)
    assert(skew1.collect().toSeq == skewFirst.toSeq)
    Caches.releaseAll() // leave the JVM-shared session clean for other suites
  }

  test("knnGraph memo: one build per corpus until releaseAll, fresh and " +
      "readable after") {
    // The k-NN graph index memo (Similarity.knnGraph) dedups the
    // committed-artifact read per corpus dir (since r16 the frame is a
    // parquet scan of the AnnIndexStore commit, not a checkpoint — the
    // memo clear at releaseAll is hygiene, and the post-release serve
    // below reads the SAME committed files through a fresh scan; the
    // no-rebuild property itself is pinned in SimilaritySpec via the
    // AnnIndexStore.commits counter).
    val g1 = Similarity.knnGraph(spark, sf)
    assert(Similarity.knnGraph(spark, sf) eq g1,
      "second call must hit the memo — one build per corpus dir")
    assert(g1.count() > 0)
    Caches.releaseAll()
    val g2 = Similarity.knnGraph(spark, sf)
    assert(!(g2 eq g1),
      "memo must clear at releaseAll — the old frame's blocks are gone")
    assert(g2.count() > 0, "rebuilt index must be fully readable")
    Caches.releaseAll()
  }

  test("Caches.persist: MEMORY_AND_DISK before releaseAll, NONE after") {
    import org.apache.spark.storage.StorageLevel
    val df = Caches.persist(graft.Tables.region(spark, sf)
      .selectExpr("r_regionkey * 7 AS k"))
    assert(df.count() > 0)
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Caches.releaseAll()
    assert(df.storageLevel == StorageLevel.NONE,
      "releaseAll must unpersist every Caches.persist frame")
  }

  test("knnGraph memo is keyed per session: a new session gets its own " +
      "frame") {
    // a plan born on one session cannot execute on another (the
    // Tables.load rule), so the memo must not hand the parent's frame
    // to a child session
    val g = Similarity.knnGraph(spark, sf)
    val child = spark.newSession()
    val gc = Similarity.knnGraph(child, sf)
    assert(!(gc eq g), "a new session must not get the parent's frame")
    assert(gc.sparkSession eq child)
    assert(Similarity.knnGraph(child, sf) eq gc)
    assert(gc.count() == g.count())
    Caches.releaseAll()
  }

  test("after releaseAll a held frame fails loudly — never a silent unscoped recompute") {
    val held = Relational.joinBloom(spark, sf)
    assert(held.collect().nonEmpty)
    Caches.releaseAll()
    // The blocks are gone and the lineage is truncated, so any NEW
    // query over the held frame must re-run the map stage, hit the
    // missing checkpoint block, and throw — never re-plan the join
    // without the scoped bloom conf. (Re-collecting `held` itself may
    // still succeed: its memoized physical plan can be served from the
    // first run's shuffle outputs via DAGScheduler stage-skipping
    // without touching the checkpoint at all. That reuse is
    // best-effort scheduler behavior, not part of the contract, so the
    // pin is on the fresh-plan path.)
    val e = intercept[Exception] {
      held.filter(org.apache.spark.sql.functions.col("ship_year") >= 0).count()
    }
    val msg = Option(e.getMessage).getOrElse("") + " " +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND") ||
      msg.toLowerCase.contains("checkpoint block"),
      s"expected a checkpoint-block-lost failure, got: $msg")
  }
}
