package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md /
  * FIXTURES.md). One parquet file per table under the sf dir; the
  * vectorized parquet reader + Catalyst column pruning replace the
  * reference's hand-rolled columnar Page model
  * (reference: Page.java:5-30, TpchDataGenerator.java:19-27).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized loader (r19): `spark.read.parquet` pays datasource
    * resolution + a driver footer read for the schema on EVERY call —
    * ~50-100 ms each, several calls per key, on every bench pass. A
    * DataFrame is an immutable plan, so the per-(session, dir, table)
    * instance is shared; no DATA is cached (the scan still reads
    * parquet on every action) and the file index stays Spark's own
    * session-level cache. Keyed on the session too: the streaming
    * demos run child sessions, and a plan born on one session cannot
    * execute on another. */
  private val loadMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadMemo.getOrElseUpdate((spark, dir, name),
      spark.read.parquet(s"$dir/$name.parquet"))

  /** Driver-side metadata scalar (a row count, a vector width) over an
    * immutable fixture dir, memoized like [[load]] and likewise kept
    * across `Caches.releaseAll()`: metadata, never data. */
  private val scalarMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Long]
  private[graft] def scalar(spark: SparkSession, dir: String, name: String)(
      compute: => Long): Long =
    scalarMemo.getOrElseUpdate((spark, dir, name), compute)

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** `events.ts` normalized to a microsecond TimestampType regardless
    * of the fixture's physical encoding — the driver has shipped it
    * two ways across rounds (TIMESTAMP(NANOS), which Spark's
    * vectorized reader only admits as a long via the nanosAsLong
    * conf; and plain non-UTC-adjusted TIMESTAMP(MICROS), which scans
    * as TIMESTAMP_NTZ). Every graft entry point pins
    * spark.sql.session.timeZone=UTC, so the NTZ→TIMESTAMP cast is
    * value-preserving and every downstream consumer (window(),
    * unix_micros, watermarks) sees the identical instants either way.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    // The TIMESTAMP(NANOS) fixture variant is only scannable with
    // spark.sql.legacy.parquet.nanosAsLong=true (set by every graft
    // entry point); without it Spark throws an opaque "Illegal Parquet
    // type: INT64 (TIMESTAMP(NANOS,...))" at schema resolution.
    // Rephrase that case so a bare-session caller learns the fix.
    val raw =
      try load(spark, dir, "events")
      catch { case e: Exception
        if Option(e.getMessage).exists(_.contains("TIMESTAMP(NANOS")) =>
          throw new IllegalStateException(
            s"events.parquet in $dir uses TIMESTAMP(NANOS); set " +
            "spark.sql.legacy.parquet.nanosAsLong=true on the session " +
            "(all graft mains do) so it scans as a long", e)
      }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>   // legacy ns fixture
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw                                  // already TIMESTAMP
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** The unique row key of `lineitem` in this synthetic data
    * (verified: (l_orderkey, l_linenumber) alone is NOT unique here).
    * Used as the deterministic terminal ORDER BY for row-level queries.
    */
  val lineitemKey: Seq[String] =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")

  /** Whether the parquet input under `path` (file or directory) can
    * split into at least `want` scan tasks — driver-side footer reads,
    * memoized per (path, want) for the JVM. Parquet assigns each row
    * group to ONE scan task, so a single-row-group file is
    * unsplittable however the split math slices it. Footers are read
    * only until the threshold is proven, so a 10k-part production
    * table costs a handful of footer reads, once. */
  private val rowGroupMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Boolean]
  private def splittableTo(spark: SparkSession, path: String,
      want: Int): Boolean =
    rowGroupMemo.getOrElseUpdate((path, want), {
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      try {
        val conf = spark.sessionState.newHadoopConf()
        val p = new Path(path)
        val fs = p.getFileSystem(conf)
        // RECURSIVE listing (ADVICE r19): a hive-partitioned production
        // layout (date=.../part-*.parquet) has no .parquet files at the
        // top level — a flat listing read groups=0 and classified a huge
        // table unsplittable, inserting a narrow repartition where the
        // 100 TB contract promises a no-op. listFiles(p, true) is a lazy
        // RemoteIterator, and the loop below stops at the first `want`
        // row groups, so a 10k-file table still costs a handful of
        // footer reads. Paths with a component below the root that
        // starts with `_` or `.` (an in-progress `_temporary/` write,
        // Hadoop's hidden-file convention) are skipped, as Spark's own
        // scan skips them.
        val rootDepth = fs.makeQualified(p).depth()
        def hidden(f: Path): Boolean =
          Iterator.iterate(f)(_.getParent)
            .takeWhile(q => q != null && q.depth() > rootDepth)
            .exists(q => q.getName.startsWith("_") || q.getName.startsWith("."))
        val files: Iterator[Path] =
          if (fs.getFileStatus(p).isDirectory) {
            val remote = fs.listFiles(p, true)
            new Iterator[org.apache.hadoop.fs.LocatedFileStatus] {
              def hasNext: Boolean = remote.hasNext
              def next(): org.apache.hadoop.fs.LocatedFileStatus =
                remote.next()
            }.map(_.getPath)
              .filter(f => f.getName.endsWith(".parquet") && !hidden(f))
          } else Iterator(p)
        var groups = 0
        while (groups < want && files.hasNext) {
          val r = ParquetFileReader.open(
            HadoopInputFile.fromPath(files.next(), conf))
          try groups += r.getFooter.getBlocks.size()
          finally r.close()
        }
        groups >= want
      } catch { case _: Exception => true } // unknown layout: assume splittable
    })

  /** INPUT-SKEW fan-out (optimization guide §2.5: "one huge
    * unsplittable file … repartition immediately after the read").
    * The driver fixtures are ONE row group per table, so every scan
    * stage in the suite runs its map-side compute on one core while
    * the other cores idle. Operators whose scan stage carries heavy
    * compute (expand/dedup, parse_json, tokenization HOFs) read
    * through this wrapper: when the source cannot split to at least
    * half the session parallelism, rows are hash-spread on `key` (a
    * high-cardinality stable column — deterministic under task retry,
    * unlike rand-derived keys, SPARK-38388) so the heavy expressions
    * above run wide. At production scale (many files / row groups)
    * the splittability probe says yes and this is a provable NO-OP —
    * no extra exchange ever reaches a 100 TB plan. Filters and column
    * pruning still push through the RepartitionByExpression to the
    * scan, so the fanned frame prunes/pushes exactly like `load`. */
  def fanned(spark: SparkSession, dir: String, name: String,
      key: String): DataFrame =
    fannedFrom(spark, dir, name, load(spark, dir, name), key)

  // cores/4 spread, not all cores (r19, same calibration as the AQE
  // coalescing floor): full-width fanning made every downstream scan of
  // the shared cached frames a 32-task stage, taxing the light
  // consumers more than the heavy map stages gained.
  private def spread(spark: SparkSession): Int =
    math.max(2, spark.sparkContext.defaultParallelism / 4)

  /** [[fanned]] over an already-loaded frame `df` of table `name`. */
  private def fannedFrom(spark: SparkSession, dir: String, name: String,
      df: DataFrame, key: String): DataFrame = {
    val s = spread(spark)
    if (splittableTo(spark, s"$dir/$name.parquet", s)) df
    else df.repartition(s, org.apache.spark.sql.functions.col(key))
  }

  /** CONTRACT-SORT width for heavy consumers above a sort (r20). The
    * sort-first pattern (narrow orderBy, interpreted parse/variant
    * consumers projected above it) keeps the heavy chain out of the
    * range-partitioner's sample pass — but the post-sort stage is then
    * sized by AQE's BYTE-targeted coalescer, which lands these tiny-
    * bytes/heavy-CPU stages on the minPartitionNum floor (cores/4)
    * while 3/4 of the machine idles. When the backing table cannot
    * split to the fan-out spread (the single-row-group fixture
    * regime), the sort instead takes an EXPLICIT cores-wide range
    * partition count — explicit counts bypass the AQE coalescer (the
    * r19 probe-derived-beam convention) — so the consumers above run
    * machine-wide. On splittable production layouts the probe says
    * yes and the plain orderBy keeps AQE's byte-targeted sizing: no
    * hard-coded width ever reaches a 100 TB plan. Total order is
    * IDENTICAL either way: range partitions concatenate in index
    * order, and every downstream consumer (noop sink, Verify's
    * coalesce(1) write) preserves partition order. */
  def wideSorted(spark: SparkSession, dir: String, name: String,
      df: DataFrame, cols: Column*): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    if (splittableTo(spark, s"$dir/$name.parquet", spread(spark)))
      df.orderBy(cols: _*)
    else df.repartitionByRange(p, cols: _*).sortWithinPartitions(cols: _*)
  }

  /** [[fanned]] for the documents corpus (doc_id-keyed): the
    * tokenize/shingle/hash pipelines run orders of magnitude more CPU
    * per input byte than a scan, so the single-row-group fixture made
    * them single-core. */
  def fannedDocuments(spark: SparkSession, dir: String): DataFrame =
    fanned(spark, dir, "documents", "doc_id")

  /** [[fanned]] for the ts-normalized events frame. */
  def fannedEvents(spark: SparkSession, dir: String): DataFrame =
    fannedFrom(spark, dir, "events", events(spark, dir), "event_id")
}
