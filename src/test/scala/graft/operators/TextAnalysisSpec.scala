package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Structural contracts for the chunking operator (the oracle certifies
  * the emitted values; this spec pins the WINDOWING invariants a chunker
  * must hold — full coverage, fixed size, fixed overlap). */
class TextAnalysisSpec extends SparkSpec {

  test("doc_chunk: every doc fully covered; non-tail chunks are exactly " +
      "32 tokens; tail ends at the last token") {
    val chunks = TextAnalysis.docChunk(spark, sf)
    val nDocs = Tables.documents(spark, sf).count()
    // every doc emits at least one chunk
    assert(chunks.select("doc_id").distinct().count() === nDocs)
    val perDoc = chunks.groupBy("doc_id")
      .agg(max(col("chunk_id")).as("last_k"),
        max_by(col("n_chunk_tokens"), col("chunk_id")).as("tail_len"),
        min(col("n_chunk_tokens")).as("min_len"),
        sum(when(col("n_chunk_tokens") =!= 32, 1).otherwise(0)).as("n_short"))
    val nTok = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("n"))
    val bad = perDoc.join(nTok, "doc_id")
      .filter(
        // tail chunk must end exactly at token n (full coverage, no
        // over-run): last_k*stride + tail_len == n
        col("last_k") * 24 + col("tail_len") =!= col("n") ||
        // at most the tail may be shorter than the chunk size
        col("n_short") > 1 ||
        // every chunk is non-empty
        col("min_len") <= 0)
      .count()
    assert(bad === 0)
    // chunk_text really holds n_chunk_tokens tokens
    val mismatched = TextAnalysis.docChunk(spark, sf)
      .filter(size(split(col("chunk_text"), "\\s+")).cast("long")
        =!= col("n_chunk_tokens"))
      .count()
    assert(mismatched === 0)
  }

  test("seq_pack: two-level (lang, shard) prefix sum is bit-identical " +
      "to the single per-lang running window") {
    import org.apache.spark.sql.expressions.Window
    // the naive formulation — correct but parallelism-bounded by
    // |languages|; the shipped operator must produce EXACTLY this
    // (running sums are associative, so sharding cannot change values)
    val budget = 2048L
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val naive = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        ((col("cum") - col("n_tok")) / budget).cast("long").as("bin_id"),
        pmod(col("cum") - col("n_tok"), lit(budget)).as("bin_off"))
    val shipped = TextAnalysis.seqPack(spark, sf)
    assert(shipped.count() === naive.count())
    assert(shipped.exceptAll(naive).count() === 0)
    assert(naive.exceptAll(shipped).count() === 0)

    // NULL-lang docs: the window groups them as one partition, so the
    // two-level offset join must match them null-safely rather than
    // dropping them (plain equi-join semantics)
    import spark.implicits._
    val withNulls = Seq(
      (0L, Option("en"), 100L), (1L, Option.empty[String], 50L),
      (1500L, Option.empty[String], 60L), (2L, Option("en"), 2040L))
      .toDF("doc_id", "lang", "n_tok")
    val packed = TextAnalysis.packBins(withNulls).collect()
    assert(packed.length === 4, "null-lang rows must not be dropped")
    val nulls = packed.filter(_.isNullAt(1)).map(r =>
      (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    // null-lang stream: doc 1 (shard 0) then doc 1500 (shard 1) —
    // cumsum crosses the shard boundary: offsets 0 then 50
    assert(nulls === Set((1L, 0L, 0L), (1500L, 0L, 50L)))
  }

  test("Prefix.runningSums equals the one-window running sum on both " +
      "bucket axes: an empty frame, one bucket, adjacent keys split by " +
      "a bucket boundary, a NULL group key, two value columns") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // order keys are unique per case, so `k` is a total order with or
    // without the group partition
    val cases = Seq(
      "empty" -> Seq.empty[(Option[String], Long, Long, Long)],
      "one bucket" -> Seq((Some("a"), 3L, 5L, 1L), (Some("a"), 1L, 7L, 2L),
        (Some("b"), 2L, 4L, 3L)),
      "boundary" -> Seq((Some("a"), 9L, 5L, 1L), (Some("a"), 10L, 6L, 2L),
        (Some("a"), 11L, 1L, 3L), (Some("b"), 19L, 2L, 4L),
        (Some("a"), 20L, 3L, 5L)),
      "null group" -> Seq((None, 5L, 1L, 10L), (None, 15L, 2L, 20L),
        (Some("a"), 6L, 3L, 30L), (None, 25L, 4L, 40L)))
    for ((name, rows) <- cases; groups <- Seq(Seq("g"), Nil);
         bounded <- Seq(true, false)) {
      val df = rows.toDF("g", "k", "v1", "v2")
        .withColumn("bkt", expr("k DIV 10"))
      val w = Window.partitionBy(groups.map(col): _*).orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
      val want = df.withColumn("c1", sum(col("v1")).over(w))
        .withColumn("c2", sum(col("v2")).over(w))
      val got = Prefix.runningSums(df, groups, Seq("bkt"), Seq("k"),
        Seq("c1" -> col("v1"), "c2" -> col("v2")), bounded)
      val label = s"$name, groups=$groups, bounded=$bounded"
      assert(got.columns.toSeq === want.columns.toSeq, label)
      val g = got.collect().toSeq
      assert(g.size === rows.size, label)
      assert(g.toSet === want.collect().toSet, label)
    }
  }

  test("text_entropy: analytic golden values — uniform alphabets hit " +
      "log2(k) exactly, repetition scores zero") {
    import spark.implicits._
    // H("aaaa")=0; H("ab")=1; H("abcd")=2; H("aab")=0.9183
    // (= log2 3 − 2/3); values are ANALYTIC, not regression-pinned
    val docs = Seq((0L, "aaaa"), (1L, "ab"), (2L, "abcd"), (3L, "aab"))
      .toDF("doc_id", "text")
    val counts = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
      .groupBy("doc_id", "c").agg(count(lit(1)).as("n"))
    val got = counts.groupBy("doc_id")
      .agg(sum(col("n")).as("n_chars"),
        sum(col("n") * log2(col("n"))).as("s"))
      .select(col("doc_id"), col("n_chars"),
        round(log2(col("n_chars")) - col("s") / col("n_chars"), 4)
          .as("entropy_bits"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got === Seq((0L, 4L, 0.0), (1L, 2L, 1.0), (2L, 4L, 2.0),
      (3L, 3L, 0.9183)))
    // and the declared operator agrees with this formulation on the
    // real corpus (same expression tree — a refactor that drifts the
    // algebra must fail here, not at oracle time)
    val op = TextAnalysis.textEntropy(spark, sf)
    assert(op.filter(col("entropy_bits") < 0 ||
      col("entropy_bits") > log2(col("n_chars"))).count() === 0,
      "entropy must sit in [0, log2(n_chars)]")
  }

  test("token_bpe: golden greedy encodings on a fixed rank table " +
      "(exact GPT-2 merge-all-occurrences semantics)") {
    val ranks = Map(
      ("t", "h") -> 0, ("th", "e") -> 1, ("i", "n") -> 2,
      ("a", "n") -> 3, ("an", "d") -> 4, ("l", "l") -> 5)
    def enc(w: String) = TextAnalysis.bpeEncodeWord(w, ranks).toSeq
    assert(enc("the") === Seq("the"))            // chained: th, then th+e
    assert(enc("thin") === Seq("th", "in"))
    assert(enc("and") === Seq("and"))            // an (3), then an+d (4)
    assert(enc("xyz") === Seq("x", "y", "z"))    // no ranked pair
    assert(enc("a") === Seq("a"))                // single symbol
    // merge-ALL-occurrences in one step: both "ll" pairs of "llll"
    // merge in the first application (GPT-2 semantics), not one
    assert(enc("llll") === Seq("ll", "ll"))
    // lower rank wins even when a later pair appears first in the word
    assert(enc("inthe") === Seq("in", "the"))
  }

  test("token_bpe: decode∘encode over corpus docs reproduces the " +
      "normalized text modulo whitespace; id spaces partition cleanly") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val (ranks, symIds) = TextAnalysis.bpeTables(docs)
    // 128/pass is a CAP: a small corpus can expose fewer distinct
    // adjacent pairs than the budget (sf0.001 yields ~133)
    assert(ranks.nonEmpty && ranks.size <= 256)
    val idToSym: Map[Long, String] = symIds.map(_.swap)
    val out = TextAnalysis.tokenBpe(spark, sf)
      .select("doc_id", "n_tokens", "token_ids_str").collect()
      .map { r =>
        val ids = r.getString(2) match {
          case "" => Seq.empty[Long]
          case s  => s.split(' ').toSeq.map(_.toLong)
        }
        r.getLong(0) -> ((r.getLong(1), ids))
      }.toMap
    val norm = docs.select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .as[(Long, String)].collect().toMap
    // decode: char ids back to codepoints, merge ids via the symbol
    // table; concatenation must equal the normalized text with ALL
    // whitespace stripped (the pre-tokenizer consumes separators)
    out.foreach { case (docId, (n, ids)) =>
      assert(ids.length === n)
      val decoded = ids.map { id =>
        if (id < TextAnalysis.BpeMergeIdBase)
          new String(Character.toChars(id.toInt))
        else idToSym(id)
      }.mkString
      assert(decoded === norm(docId).replaceAll("\\s+", ""),
        s"decode∘encode mismatch on doc $docId")
    }
    // the chars/4 heuristic token_count ships should be within 2× of
    // the real tokenization corpus-wide (it is ~3.2 chars/token here)
    val totalTokens = out.values.map(_._1).sum.toDouble
    val totalChars = norm.values.map(_.length).sum.toDouble
    val ratio = (totalChars / 4.0) / totalTokens
    assert(ratio > 0.5 && ratio < 2.0,
      s"chars/4 heuristic off by ${ratio}x vs real BPE token count")
  }

  test("token_bpe_train: the learned merge table is structurally sound " +
      "and replaying it sequentially over the word-frequency table " +
      "reproduces every round's pair count independently") {
    val merges = TextAnalysis.tokenBpeTrain(spark, sf).collect()
    assert(merges.length === 10)
    assert(merges.map(_.getLong(0)).toSeq === (1L to 10L))
    merges.foreach { r =>
      assert(r.getString(3) === r.getString(1) + r.getString(2))
      assert(r.getLong(4) > 0L)
    }
    // independent sequential replay (plain Scala, no Spark): rebuild
    // the word-frequency table, walk the 10 rounds with a
    // HashMap-based pair counter and leftmost-nonoverlapping merge,
    // and require the SAME argmax pair and count each round — a
    // second, engine-free derivation of the whole trajectory.
    import scala.collection.mutable
    import spark.implicits._
    val words = mutable.HashMap.empty[List[String], Long]
    Tables.documents(spark, sf).select(lower(col("text"))).as[String]
      .collect()
      .foreach { t =>
        t.split("[^a-z]+").filter(_.nonEmpty).foreach { w =>
          val k = w.map(_.toString).toList
          words(k) = words.getOrElse(k, 0L) + 1L
        }
      }
    var vocab = words.toMap
    merges.foreach { r =>
      val (el, er, cnt) = (r.getString(1), r.getString(2), r.getLong(4))
      val counts = mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + c
        }
      }
      val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      assert(best._1 === ((el, er)), s"round ${r.getLong(0)} argmax")
      assert(best._2 === cnt, s"round ${r.getLong(0)} pair count")
      def mergeSyms(s: List[String]): List[String] = s match {
        case a :: b :: rest if a == el && b == er =>
          (a + b) :: mergeSyms(rest)
        case a :: rest => a :: mergeSyms(rest)
        case Nil => Nil
      }
      vocab = vocab.groupMapReduce { case (s, _) => mergeSyms(s) }(_._2)(_ + _)
    }
  }
}
