package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator (VERDICT r7 item 3): synthesizes an
  * sf1-equivalent table set — 10× the bench sf0.1 row counts, same
  * schemas and distribution SHAPES as the driver fixtures
  * (FIXTURES.md §A) — so the expensive keys can be timed one decade
  * above the largest driver sf and the sf0.1→sf1 scaling CURVE
  * recorded (SCALING.md). The driver testdata itself is read-only and
  * is never touched.
  *
  * Design rules:
  *  - fully DISTRIBUTED and deterministic: every column is a pure
  *    expression of `spark.range`'s id (hash-derived), so generation
  *    is embarrassingly parallel, reproducible across runs/partition
  *    counts, and no row ever materializes on the driver — the same
  *    discipline a 100 TB backfill generator needs (the alternative,
  *    seeded per-partition Random, breaks under repartitioning);
  *  - documents carry the structures the dedup/text family measures:
  *    ~4% near-dup pairs (a doc copies its predecessor's token stream
  *    plus one novel token — Jaccard ≈ 0.97 ≥ the 0.8 contract), an
  *    sf0.1-matched exact-dup rate, the same ~40-word vocabulary and
  *    30–80-token lengths, en-heavy language mix;
  *  - events.ts is written as µs TIMESTAMP_NTZ — the driver fixtures
  *    store non-UTC-adjusted parquet TIMESTAMP(MICROS) (ns in earlier
  *    rounds; `Tables.events` normalizes either encoding to a UTC
  *    TimestampType);
  *  - usage: `ScaleGen <outDir> [mult]` then
  *    `SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_ONLY=... graft.Bench`.
  */
object ScaleGen {

  private val Vocab: Seq[String] = Seq(
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "join", "shuffle", "page", "block", "cache", "index", "range",
    "limit", "count", "plan", "stage", "task", "node", "disk", "memory")

  private def h(cols: Column*): Column = abs(xxhash64(cols: _*))

  /** @param dupEvery one doc in `dupEvery` is a near-dup of its
    *   predecessor — 25 (4%) matches the driver fixture shape; small
    *   values (e.g. 3 → 33%) build the highly-duplicative corpus the
    *   LSH blowup stress test needs (SCALING.md). */
  def documents(spark: SparkSession, n: Long, dupEvery: Int = 25): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val langs = array(Seq("en", "en", "en", "en", "en", "en", "en", "en",
      "de", "de", "de", "fr", "fr", "fr", "es", "es", "es",
      "zh", "zh", "zh").map(lit): _*)
    spark.range(n)
      .select(col("id").as("doc_id"))
      // near-dup: re-generate the PREDECESSOR's token stream;
      // exact-dup: ~0.16% re-generate doc_id-2 verbatim
      .withColumn("ndup",
        col("doc_id") > 0 && pmod(col("doc_id"), lit(dupEvery)) === 1)
      .withColumn("xdup",
        col("doc_id") > 1 && pmod(col("doc_id"), lit(625)) === 2)
      .withColumn("seed",
        when(col("xdup"), col("doc_id") - 2)
          .when(col("ndup"), col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("n_tok", (lit(30) + pmod(h(col("seed")), lit(50))).cast("int"))
      .withColumn("base", concat_ws(" ",
        transform(sequence(lit(0), col("n_tok") - 1),
          i => element_at(vocab, (pmod(h(col("seed"), i), lit(Vocab.length)) + 1).cast("int")))))
      // the near-dup's one novel token keeps Jaccard high but < 1
      .withColumn("text",
        when(col("ndup") && !col("xdup"),
          concat(col("base"), lit(" novel"), col("doc_id").cast("string")))
          .otherwise(col("base")))
      .select(
        col("doc_id"),
        col("text"),
        element_at(langs, (pmod(h(col("seed") * 31), lit(20)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(h(col("doc_id") * 7), lit(20))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  def embeddings(spark: SparkSession, n: Long): DataFrame = {
    // label centroid (shared) + per-vector noise: clusterable but not
    // trivially separable — mirrors the fixture's 10-label structure
    def unit(c: Column): Column = pmod(c, lit(2000)).cast("double") / 1000.0 - 1.0
    spark.range(n)
      .select(col("id").as("vec_id"))
      .withColumn("label", pmod(h(col("vec_id") * 3), lit(10)).cast("int"))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(63)), i =>
          (unit(h(col("label").cast("long") + lit(1000000L), i)) * 0.8 +
            unit(h(col("vec_id"), i)) * 0.3).cast("float")))
      .select("vec_id", "embedding", "label")
  }

  def events(spark: SparkSession, n: Long, nUsers: Long): DataFrame = {
    val types = array(Seq("click", "view", "error", "purchase", "signup").map(lit): _*)
    val t0 = 1704067200L // 2024-01-01 00:00:00 UTC, seconds
    val window = 90L * 86400L
    spark.range(n)
      .select(col("id").as("event_id"))
      // µs-precision TIMESTAMP_NTZ — the same scan type as the driver
      // fixture's non-UTC-adjusted TIMESTAMP(MICROS) column (values
      // identical to the earlier nanos encoding truncated to µs)
      .withColumn("ts",
        timestamp_micros(
          (lit(t0) + pmod(h(col("event_id") * 11), lit(window))) * lit(1000000L) +
            pmod(h(col("event_id") * 29), lit(1000000L)))
          .cast("timestamp_ntz"))
      .withColumn("user_id", pmod(h(col("event_id") * 13), lit(nUsers)))
      .withColumn("event_type",
        element_at(types, (pmod(h(col("event_id") * 17), lit(5)) + 1).cast("int")))
      .withColumn("value",
        round(pmod(h(col("event_id") * 19), lit(10000)).cast("double") / 100.0, 2))
      .withColumn("props",
        concat(lit("{\"k\": "), pmod(h(col("event_id") * 23), lit(100)), lit("}")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  def lineitem(spark: SparkSession, n: Long,
      nPart: Long, nSupp: Long): DataFrame = {
    val t92 = 694224000L // 1992-01-01 UTC
    val span = 7L * 365L * 86400L
    spark.range(n)
      .select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        pmod(h(col("id") * 3), lit(nPart)).as("l_partkey"),
        pmod(h(col("id") * 5), lit(nSupp)).as("l_suppkey"),
        (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
        (pmod(h(col("id") * 7), lit(50)) + 1).cast("double").as("l_quantity"),
        round(lit(1000.0) + pmod(h(col("id") * 11), lit(100000)).cast("double") / 1.0, 2)
          .as("l_extendedprice"),
        round(pmod(h(col("id") * 13), lit(11)).cast("double") / 100.0, 2).as("l_discount"),
        round(pmod(h(col("id") * 31), lit(9)).cast("double") / 100.0, 2).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(h(col("id") * 37), lit(3)) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (pmod(h(col("id") * 41), lit(2)) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(lit(t92) + pmod(h(col("id") * 17), lit(span)))
          .cast("timestamp_ntz").as("l_shipdate"))
  }

  def orders(spark: SparkSession, n: Long, nCust: Long): DataFrame = {
    val t92 = 694224000L
    val span = 7L * 365L * 86400L
    spark.range(n)
      .select(
        col("id").as("o_orderkey"),
        pmod(h(col("id") * 3), lit(nCust)).as("o_custkey"),
        element_at(array(lit("F"), lit("O"), lit("P")),
          (pmod(h(col("id") * 5), lit(3)) + 1).cast("int")).as("o_orderstatus"),
        round(lit(1000.0) + pmod(h(col("id") * 7), lit(400000)).cast("double") / 1.0, 2)
          .as("o_totalprice"),
        timestamp_seconds(lit(t92) + pmod(h(col("id") * 11), lit(span)))
          .cast("timestamp_ntz").as("o_orderdate"),
        element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
          lit("4-NOT SPECIFIED"), lit("5-LOW")),
          (pmod(h(col("id") * 13), lit(5)) + 1).cast("int")).as("o_orderpriority"))
  }

  def customer(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(h(col("id") * 3), lit(25)).cast("int").as("c_nationkey"),
      round(pmod(h(col("id") * 5), lit(1000000)).cast("double") / 100.0, 2)
        .as("c_acctbal"),
      element_at(array(Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
        "BUILDING", "FURNITURE").map(lit): _*),
        (pmod(h(col("id") * 7), lit(5)) + 1).cast("int")).as("c_mktsegment"))

  def supplier(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(h(col("id") * 3), lit(25)).cast("int").as("s_nationkey"),
      round(pmod(h(col("id") * 5), lit(1000000)).cast("double") / 100.0, 2)
        .as("s_acctbal"))

  def part(spark: SparkSession, n: Long): DataFrame = {
    val adjectives = array(Seq("large", "hot", "blue", "old", "small",
      "red", "new", "cold").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "plate", "wheel", "gear",
      "pipe", "screw", "cap").map(lit): _*)
    spark.range(n).select(
      col("id").as("p_partkey"),
      concat(
        element_at(adjectives, (pmod(h(col("id") * 3), lit(8)) + 1).cast("int")),
        lit(" "),
        element_at(nouns, (pmod(h(col("id") * 5), lit(8)) + 1).cast("int")))
        .as("p_name"),
      concat(lit("Brand#"), pmod(h(col("id") * 7), lit(25)) + 1).as("p_brand"),
      element_at(array(Seq("ECONOMY", "LARGE", "STANDARD", "MEDIUM",
        "SMALL", "PROMO").map(lit): _*),
        (pmod(h(col("id") * 11), lit(6)) + 1).cast("int")).as("p_type"),
      (pmod(h(col("id") * 13), lit(50)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + col("id").cast("double") / 10.0, 1).as("p_retailprice"))
  }

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

  def region(spark: SparkSession): DataFrame =
    spark.range(5).select(
      col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/scale/sf1")
    val mult = if (args.length > 1) args(1).toDouble else 10.0 // × sf0.1
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def write(name: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] wrote $name")
    }
    write("documents", documents(spark, (5000 * mult).toLong), 16)
    write("embeddings", embeddings(spark, (2000 * mult).toLong), 16)
    write("events", events(spark, (100000 * mult).toLong, (1500 * mult).toLong), 16)
    write("lineitem", lineitem(spark, (600000 * mult).toLong,
      (20000 * mult).toLong, (1000 * mult).toLong), 32)
    write("orders", orders(spark, (150000 * mult).toLong,
      (15000 * mult).toLong), 16)
    write("customer", customer(spark, (15000 * mult).toLong), 4)
    write("supplier", supplier(spark, (1000 * mult).toLong), 2)
    write("part", part(spark, (20000 * mult).toLong), 4)
    write("nation", nation(spark), 1)
    write("region", region(spark), 1)
    spark.stop()
  }
}
