package graft.operators

import graft.SparkSpec

/** Dedup suite correctness (SURVEY.md §2B Q37/Q38).
  *
  * The driver corpus plants 25 near-dup pairs (5-gram Jaccard ≥ 0.875)
  * with a clean similarity gap below 0.3 — `dedupNgram` is the exact
  * ground truth (itself oracle-verified by the driver), and the
  * approximate regimes are asserted against it. Synthetic planted
  * duplicates cover the regression path end-to-end without depending on
  * corpus specifics.
  */
class DedupSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dedup_exact: corpus has no exact duplicates; grouping is total") {
    val rows = Dedup.dedupExact(spark, sf).collect()
    assert(rows.length === 500)
    assert(rows.forall(_.getLong(2) == 1L))
  }

  test("exactHash: composed vs decomposed accent variants dedup together " +
      "(the canonical-normalizer contract, VERDICT r9 item 5)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // same content four ways: precomposed é, decomposed e+U+0301,
    // case drift, internal-whitespace drift — one hash group; a
    // genuinely different doc stays distinct
    val docs = Seq(
      (1L, "Café du Monde"),
      (2L, "Café du Monde"),
      (3L, "café DU monde"),
      (4L, "  café du \t monde "),
      (5L, "beignets du monde")).toDF("doc_id", "text")
    val hashes = docs.select(col("doc_id"),
      Dedup.exactHash(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Set(1L, 2L, 3L, 4L).map(hashes).size === 1,
      "accent/case/whitespace variants must share one content hash")
    assert(hashes(5L) !== hashes(1L))
  }

  test("MinHash-LSH finds every planted pair (vs exact ngram ground truth)") {
    val exact = pairs(Dedup.dedupNgram(spark, sf))
    val near  = pairs(Dedup.dedupNear(spark, sf))
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(near === exact)
  }

  test("MinHash pipeline reports the exact Jaccard for every pair") {
    val exact = Dedup.dedupNgram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val near = Dedup.dedupNear(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // candidate generation is approximate; the verify stage is exact —
    // values must match dedup_ngram's to the digit
    assert(near === exact)
  }

  test("SimHash pairs are a subset of exact near-dup pairs") {
    val exact = pairs(Dedup.dedupNgram(spark, sf))
    val sim   = pairs(Dedup.dedupSimhash(spark, sf))
    assert(sim.nonEmpty)
    assert(sim.subsetOf(exact))
  }

  test("simhash fingerprint matches an independent per-nibble md5 replay " +
      "(pins the r12 md5 bit source the DuckDB oracle depends on)") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val got = Dedup.simhash(Seq((7L, text)).toDF("doc_id", "text")).collect()
    assert(got.length === 1)
    // pure-JVM replay of the declared bit mapping: distinct 5-shingles,
    // bit b of a shingle's vote = hex nibble b/4 of md5, shifted b%4
    val w = text.toLowerCase.trim.split("\\s+")
    val sh = (0 to w.length - 5).map(i => w.slice(i, i + 5).mkString(" ")).distinct
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = Array.fill(64)(0)
    sh.foreach { s =>
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      for (b <- 0 until 64) {
        val nib = Integer.parseInt(hex.substring(b / 4, b / 4 + 1), 16)
        votes(b) += (if (((nib >> (b % 4)) & 1) == 1) 1 else -1)
      }
    }
    val expected =
      (0 until 64).map(b => if (votes(b) > 0) 1L << b else 0L).reduce(_ | _)
    assert(got(0).getLong(0) === 7L)
    assert(got(0).getLong(1) === expected)
  }

  test("planted synthetic duplicates: ngramPairs finds exactly the clones") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (0L, base),
      (1L, base),                                   // exact clone (J=1.0)
      (2L, "  " + base.toUpperCase + "  "),         // normalization clone
      (3L, base.replace("sigma", "psi")),           // near-dup (few shingles differ)
      (4L, "one two three four five six seven eight nine ten"), // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.ngramPairs(docs, 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet === Set((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L),
      (1L, 3L), (2L, 3L)))
    assert(got((0L, 1L)) === 1.0)   // identical text
    assert(got((0L, 2L)) === 1.0)   // case/whitespace normalization agrees
    assert(got((0L, 3L)) < 1.0)     // a real edit lowers Jaccard
  }

  test("containmentPairs flags a short doc embedded in a long one that " +
      "Jaccard structurally misses") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, short),                       // the quoted fragment
      (1L, filler + " " + short),        // long doc containing it verbatim
      (2L, "one two three four five six seven eight nine ten"),
    ).toDF("doc_id", "text")
    val c = Dedup.containmentPairs(docs, 0.9).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    // containment sees the embedding...
    assert(c.keySet === Set((0L, 1L)))
    assert(c((0L, 1L))._1 === 1.0)          // every short-doc shingle is in the long doc
    assert(c((0L, 1L))._2 < 0.8)            // ...at a Jaccard the J ≥ 0.8 keys reject
    // ...and the Jaccard pipeline indeed misses the pair entirely.
    assert(Dedup.ngramPairs(docs).collect().isEmpty)
  }

  test("dedup_incremental: exact and near flags fire on cross-set dups; " +
      "batch-internal dups do NOT flag") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "uno dos tres cuatro cinco seis siete ocho nueve diez " +
      "once doce trece catorce quince"
    // corpus = ids not divisible by 10; batch = divisible
    val docs = Seq(
      (1L, base),                                // corpus
      (2L, other),                               // corpus
      (10L, "  " + base.toUpperCase + "  "),     // batch: exact (normalized) clone of 1
      (20L, other.replace("quince", "veinte")),  // batch: near-dup of 2, not exact
      (30L, "jade quartz topaz ruby onyx beryl opal agate flint slate"),
      (40L, "red orange yellow green blue indigo violet cyan magenta white"),
      (50L, "red orange yellow green blue indigo violet cyan magenta white"),
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalFlags(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(out.keySet === Set(10L, 20L, 30L, 40L, 50L))
    assert(out(10L) === ((1, 1, 0)), "normalized exact clone: both flags")
    assert(out(20L) === ((0, 1, 0)), "one-word edit: near only")
    assert(out(30L) === ((0, 0, 1)), "unique batch doc kept")
    // the defining property vs self-dedup: 40 and 50 duplicate EACH
    // OTHER inside the batch but match nothing in the corpus — the
    // incremental pass must keep both (batch-internal dedup is the
    // self-dedup pass's job, with its own keep-best policy)
    assert(out(40L) === ((0, 0, 1)) && out(50L) === ((0, 0, 1)),
      "batch-internal duplicates must not flag against the corpus")
  }

  test("connectedComponents: chains, stars and pairs collapse to min id") {
    import spark.implicits._
    // 10–14 is a 5-node chain (diameter 4 → needs >1 propagation round,
    // exercising the pointer jump); 20 is a star hub; 30–31 a lone pair.
    val edges = Seq(
      (11L, 10L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 21L), (20L, 22L), (20L, 23L),
      (31L, 30L),
    ).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("dedup_components: labels are transitive-closure-consistent") {
    val rows = Dedup.dedupComponents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val comp = rows.map(r => r._1 -> r._2).toMap
    // every near-dup pair must share a component label
    Dedup.dedupNgram(spark, sf).collect().foreach { r =>
      assert(comp(r.getLong(0)) === comp(r.getLong(1)))
    }
    // the label is the component minimum, and exactly the canonical doc
    rows.groupBy(_._2).foreach { case (label, members) =>
      assert(members.map(_._1).min === label)
      assert(members.count(_._4 == 1) === 1)
      assert(members.forall(m => m._3 == members.length))
    }
  }

  test("iterative loops release superseded checkpoint blocks (storage stays flat)") {
    // Each CC / PageRank round eagerly localCheckpoints its frame;
    // without the explicit release (Caches.releaseCheckpoint) the
    // superseded rounds' blocks linger until ContextCleaner GC —
    // rounds × blocks of executor storage across a long bench/verify
    // session (VERDICT r6 item 4). After a full run of BOTH loops +
    // releaseAll, the only persistent RDDs allowed to survive are the
    // two loops' FINAL frames (never released — callers may still read
    // them); the per-round frames must be gone from the persistence map.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Dedup.dedupComponents(spark, sf).write.format("noop").mode("overwrite").save()
    Graph.graphPagerank(spark, sf).write.format("noop").mode("overwrite").save()
    Caches.releaseAll()
    val leaked = sc.getPersistentRDDs.keySet -- before
    // CC ran ≥ 2 rounds and PageRank exactly 5 — an unreleased history
    // would hold ≥ 7 checkpoint RDDs; only the two final frames remain.
    assert(leaked.size <= 2,
      s"${leaked.size} new persistent RDDs survive the two iterative " +
        "loops — superseded checkpoint blocks are not being released")
  }
}
