package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** Source/sink format coverage: every mainstream batch format
  * round-trips losslessly (parquet is the primary engine format and is
  * exercised by the whole suite; csv/json/orc here), plus the
  * partitioned-layout write path with partition pruning on read — the
  * layout that matters at 100 TB.
  */
class SourcesSpec extends SparkSpec {

  private def tmp(name: String): String =
    testDir(s"graft_src_$name").resolve("out").toString

  private def canon(df: DataFrame): Set[String] =
    df.select("doc_id", "lang", "text").collect().map(_.mkString("|")).toSet

  private lazy val docs = Tables.documents(spark, sf)

  test("csv round-trip preserves content") {
    val path = tmp("csv")
    docs.write.option("header", "true").csv(path)
    val back = spark.read.option("header", "true").schema(docs.schema).csv(path)
    assert(canon(back) === canon(docs))
  }

  test("json round-trip preserves content") {
    val path = tmp("json")
    docs.write.json(path)
    val back = spark.read.schema(docs.schema).json(path)
    assert(canon(back) === canon(docs))
  }

  test("orc round-trip preserves content") {
    val path = tmp("orc")
    docs.write.orc(path)
    val back = spark.read.orc(path)
    assert(canon(back) === canon(docs))
  }

  test("scan_evolving: mergeSchema unions batch schemas; pre-evolution rows " +
      "surface the new column as NULL") {
    val out = graft.sources.FormatSources.scanEvolving(spark, sf)
    assert(out.schema.fieldNames.toSeq ===
      Seq("p_partkey", "p_name", "p_retailprice"))
    val rows = out.collect()
    val nPart = graft.Tables.part(spark, sf).count()
    assert(rows.length.toLong === nPart, "evolution must lose no rows")
    // old batch (even keys, written before the column existed) → NULL;
    // new batch (odd keys) → the real value
    assert(rows.forall { r =>
      val k = r.getLong(0)
      if (k % 2 == 0) r.isNullAt(2) else !r.isNullAt(2)
    })
  }

  test("partitioned parquet write; reads prune partitions") {
    val path = tmp("part")
    docs.write.partitionBy("lang").parquet(path)
    val back = spark.read.parquet(path).filter(col("lang") === "en")
    assert(back.count() === docs.filter(col("lang") === "en").count())
    // the lang predicate must become a PartitionFilter (directory
    // pruning), not a data filter evaluated per row
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang") ||
      plan.contains("PartitionFilters: [(lang"))
  }

  test("dynamic partition pruning: dim-side filter prunes fact partitions at runtime") {
    // The 100 TB star-join pattern: the fact table is laid out
    // partitioned by the join key's attribute; the selective filter
    // lives on the DIMENSION side, so static pruning can't see it.
    // DPP injects a runtime subquery filter (reusing the broadcast)
    // into the fact scan — only matching partitions are read.
    import org.apache.spark.sql.functions.broadcast
    val path = tmp("dpp")
    Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("c_nationkey"))
      .write.partitionBy("c_nationkey").parquet(path)
    val fact = spark.read.parquet(path)
    val dim = Tables.nation(spark, sf).filter(col("n_name") === "GERMANY")
    val joined = fact.join(broadcast(dim),
      col("c_nationkey") === col("n_nationkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruningexpression partition filter in:\n$plan")
    // and the result is correct: only the one nation's partitions
    val expect = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf).filter(col("n_name") === "GERMANY"),
        col("c_nationkey") === col("n_nationkey"))
      .count()
    assert(joined.count() === expect)
  }

  test("binaryFile scan: one row per landed file, blob bytes intact, rebuild on missing marker") {
    import org.apache.spark.sql.functions.{sha2, length => flen}
    val back = sources.FormatSources.scanBinary(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val expect = docs
      .select(col("doc_id"), flen(col("text")).cast("long"),
        sha2(col("text").cast("binary"), 256))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(back === expect) // ASCII corpus: char length == octet length
    // the _SUCCESS marker gates the export: removing it forces a full,
    // correct rebuild (the half-written-then-killed session story)
    val root = java.nio.file.Paths.get(
      sources.FormatSources.exportPath("binfiles", sf))
    java.nio.file.Files.delete(root.resolve("_SUCCESS"))
    assert(sources.FormatSources.scanBinary(spark, sf).count() === expect.size)
    assert(java.nio.file.Files.exists(root.resolve("_SUCCESS")))
  }

  test("merge_into: the merge rewrites ONLY changelog-touched partitions; " +
      "untouched partitions keep byte-identical files and are pruned " +
      "from the target scan") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def listing(p: java.nio.file.Path): Map[String, (Long, Long)] =
      Files.list(p).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString ->
          (Files.size(f), Files.getLastModifiedTime(f).toMillis))
        .toMap
    val root = Paths.get(sources.FormatSources.exportPath("mergeinto", sf))
    operators.Layout.mergeBase(spark, sf)
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(root.toString)
    // the changelog touches click/view; purchase/error/signup must
    // survive the merge with byte-identical files (names, sizes AND
    // mtimes — a rewrite that reproduced equal bytes would still bump
    // the timestamp)
    val untouchedBefore = Seq("purchase", "error", "signup")
      .map(t => t -> listing(root.resolve(s"event_type=$t"))).toMap
    val clickBefore = listing(root.resolve("event_type=click"))
    assert(clickBefore.nonEmpty && untouchedBefore.forall(_._2.nonEmpty))
    // read-side half of the touched-only contract: the target scan's
    // PartitionFilters must carry the changelog's partition set (both
    // the join-inferred static IN and the DPP subquery) — untouched
    // partitions are never READ either
    val chg = operators.Layout.mergeChangelog(spark, sf)
    val targetPlan = spark.read.parquet(root.toString)
      .join(org.apache.spark.sql.functions.broadcast(
        chg.select("event_type").distinct()), Seq("event_type"))
      .queryExecution.executedPlan.toString
    assert(targetPlan.contains("PartitionFilters: [event_type") &&
      targetPlan.contains("IN (click,view)"), targetPlan)
    assert(targetPlan.contains("dynamicpruning"), targetPlan)
    operators.Layout.mergeApply(spark, root.toString,
      operators.Layout.mergeChangelog(spark, sf))
    untouchedBefore.foreach { case (t, before) =>
      assert(listing(root.resolve(s"event_type=$t")) === before,
        s"merge touched partition event_type=$t absent from the changelog")
    }
    assert(listing(root.resolve("event_type=click")) !== clickBefore,
      "a changelog-touched partition was not rewritten")
  }

  test("write_partition_overwrite: dynamic mode replaces ONLY the incoming " +
      "partition — untouched partitions keep byte-identical files") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def listing(p: java.nio.file.Path): Map[String, (Long, Long)] =
      Files.list(p).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString ->
          (Files.size(f), Files.getLastModifiedTime(f).toMillis))
        .toMap
    // first run writes the full table then dynamic-overwrites `click`
    operators.Layout.writePartitionOverwrite(spark, sf).count()
    val root = Paths.get(sources.FormatSources.exportPath("dynpart", sf))
    val viewBefore = listing(root.resolve("event_type=view"))
    val clickBefore = listing(root.resolve("event_type=click"))
    assert(viewBefore.nonEmpty && clickBefore.nonEmpty)
    // replay ONLY the revision half: the view partition's files must
    // survive untouched, the click partition's must be replaced
    val revised = operators.Layout.dynpartRevision(spark, sf)
    revised.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(root.toString)
    assert(listing(root.resolve("event_type=view")) === viewBefore,
      "dynamic overwrite touched a partition absent from the frame")
    assert(listing(root.resolve("event_type=click")) !== clickBefore,
      "the incoming partition was not rewritten")
  }

  test("write_rebalance: output files land near the advisory size — " +
      "at least 3 files, sizes within a 4x band") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    operators.Layout.writeRebalance(spark, sf).count()
    val root = Paths.get(sources.FormatSources.exportPath("rebal", sf))
    val sizes = Files.list(root).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size(_)).toSeq
    assert(sizes.size >= 3,
      s"expected the data-proportional advisory to split into >=3 files, " +
        s"got $sizes")
    val median = sizes.sorted.apply(sizes.size / 2)
    assert(sizes.max <= 4 * median,
      s"rebalanced files should be near-even, got $sizes")
  }

  test("write_codecs: on-disk size orders uncompressed > snappy > zstd " +
      "and every codec round-trips the identical rows") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    operators.Layout.writeCodecs(spark, sf).count()
    def dataBytes(c: String): Long =
      Files.list(Paths.get(operators.Layout.codecPath(c, sf)))
        .iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size(_)).sum
    val Seq(raw, snappy, zstd) =
      operators.Layout.WriteCodecNames.map(dataBytes)
    assert(raw > snappy && snappy > zstd,
      s"codec size ordering violated: raw=$raw snappy=$snappy zstd=$zstd")
    // lossless across codecs: identical content whatever the codec
    val reads = operators.Layout.WriteCodecNames.map { c =>
      spark.read.parquet(operators.Layout.codecPath(c, sf))
        .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        .collect().toSeq
    }
    assert(reads(0) === reads(1))
    assert(reads(1) === reads(2))
  }

  test("scan_parquet_bloom: footer carries a bloom filter on o_custkey " +
      "(the enable option silently no-ops on typos — this pins it took)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    sources.FormatSources.scanParquetBloom(spark, sf).count()
    val root = Paths.get(sources.FormatSources.exportPath("bloom", sf))
    val part = Files.list(root).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(fail(s"no parquet part under $root"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.toUri), new Configuration()))
    try {
      val block = reader.getFooter.getBlocks.get(0)
      val custkey = block.getColumns.asScala
        .find(_.getPath.toDotString == "o_custkey")
        .getOrElse(fail("o_custkey column chunk missing"))
      assert(custkey.getBloomFilterOffset > 0,
        "o_custkey chunk has no bloom filter offset — the write option " +
          "did not take")
      assert(reader.readBloomFilter(custkey) != null,
        "bloom filter offset present but filter unreadable")
      // and the non-enabled sibling column has none — the option is
      // per-column, not file-global
      val orderkey = block.getColumns.asScala
        .find(_.getPath.toDotString == "o_orderkey").get
      assert(orderkey.getBloomFilterOffset <= 0,
        "o_orderkey unexpectedly grew a bloom filter")
    } finally reader.close()
  }

  test("scan_file_metadata: _metadata.row_index restarts at 0 in EVERY " +
      "file of a multi-file dataset and file_name attributes each row " +
      "to a real part file (the per-row semantics the oracled per-file " +
      "summary can't see)") {
    import org.apache.spark.sql.functions.{count, countDistinct, lit,
      max, min}
    import scala.jdk.CollectionConverters._
    val path = tmp("meta")
    docs.repartition(4).write.parquet(path)
    val back = spark.read.parquet(path)
      .select(col("_metadata.file_name").as("fn"),
        col("_metadata.row_index").as("idx"),
        col("doc_id"))
    val perFile = back.groupBy("fn")
      .agg(count(lit(1)).as("n"), min(col("idx")).as("mn"),
        max(col("idx")).as("mx"), countDistinct(col("idx")).as("nd"))
      .collect()
    assert(perFile.length === 4, "expected 4 part files")
    for (r <- perFile) {
      val (n, mn, mx, nd) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(mn === 0L, s"${r.getString(0)}: row_index does not restart")
      assert(mx === n - 1 && nd === n,
        s"${r.getString(0)}: row_index not a dense 0..n-1 enumeration")
    }
    // attribution: the claimed file names are exactly the part files
    // on disk, and no row was lost or duplicated in the provenance view
    val onDisk = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet
    assert(perFile.map(_.getString(0)).toSet === onDisk)
    assert(back.count() === docs.count())
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
