package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LSH candidate-blowup stress (VERDICT r7 "what's missing" item 1,
  * second risk): the scale rehearsal measures a fixture-shaped 4%
  * pair-dup corpus; the failure mode it cannot see is a HIGHLY
  * duplicative corpus with large duplicate clusters, where banded
  * MinHash candidate count grows as Σ clusterᵢ² — if runtime ever grew
  * FASTER than the emitted pair count, the two-phase design would be
  * broken. This harness builds corpora of fixed size whose docs group
  * into near-dup clusters of size 1 (unique), 2, 10 and 50 — every
  * in-cluster pair is a true J≥0.8 near-dup (shared base + one novel
  * token per member) — and times [[Dedup.minhashPairs]] against the
  * emitted pair count. Results: SCALING.md §"LSH blowup stress".
  */
object LshStress {

  /** n docs in clusters of `cSize`: members share the cluster base
    * token stream and append one member-unique token, so every
    * in-cluster pair has J ≈ 52/54 ≥ 0.8 and cross-cluster pairs share
    * nothing. Expected pairs = (n/cSize)·C(cSize,2). */
  private def clusteredDocs(spark: SparkSession, n: Long, cSize: Int): DataFrame =
    spark.range(n)
      .select(col("id").as("doc_id"))
      .withColumn("seed", col("doc_id") - pmod(col("doc_id"), lit(cSize)))
      .withColumn("n_tok",
        (lit(30) + pmod(abs(xxhash64(col("seed"))), lit(50))).cast("int"))
      .withColumn("base", concat_ws(" ",
        transform(sequence(lit(0), col("n_tok") - 1),
          i => hex(xxhash64(col("seed"), i)))))
      .withColumn("text",
        when(col("doc_id") === col("seed"), col("base"))
          .otherwise(concat(col("base"), lit(" NOVEL"),
            col("doc_id").cast("string"))))
      .select(col("doc_id"), col("text"))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(50000L)
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val out = Seq(1, 2, 10, 50).map { cSize =>
      val docs = clusteredDocs(spark, n, cSize).persist()
      docs.count()
      Dedup.minhashPairs(docs).write.format("noop").mode("overwrite").save() // warm
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        Dedup.minhashPairs(docs).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val pairs = Dedup.minhashPairs(docs).count()
      docs.unpersist()
      s""""c$cSize":{"sec":${times.min},"pairs":$pairs}"""
    }
    println(out.mkString("{\"n_docs\":" + n + ",", ",", "}"))
    spark.stop()
  }
}
