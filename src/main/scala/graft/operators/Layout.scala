package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Layout-level operators: physical data organization that trades a
  * one-time write cost for permanently cheaper reads — the 100 TB
  * counterpart to per-query optimization (partition pruning's sibling;
  * `scan_partitioned` covers the pruning half in FormatSources).
  */
object Layout {

  // `join_bucketed` — co-located bucketed join: both tables pre-hashed
  // into the same bucket count on the join key at WRITE time, so the
  // fact⋈dim join plans with no hash exchange at READ time — the
  // pay-the-shuffle-once answer to a join that runs every day at 100 TB
  // (promoted from the BucketingSpec demo to a declared, oracle-checked
  // key — VERDICT r4 noted bucketing existed only as a test).
  //
  // The merge hint forces the sort-merge path both sides' bucketed
  // (and per-bucket sorted) layout satisfies for free — a broadcast
  // would also be exchange-free here but only because this dim is
  // small; the bucketed plan is the one that survives when both sides
  // are large. PlanSpec asserts: SortMergeJoin, and the ONLY exchange
  // in the plan is the terminal ORDER BY's range partitioning.
  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    // sha-256 tag, not hashCode: the pre-delete below is destructive on
    // a name collision, so the tag must be collision-resistant.
    val tag = graft.Util.pathTag(dir)
    val (tOrders, tCustomer) = (s"graft_b_orders_$tag", s"graft_b_customer_$tag")
    // A killed run leaves orphan table directories that a fresh
    // (in-memory) catalog no longer knows about — saveAsTable then
    // refuses with LOCATION_ALREADY_EXISTS. Remove locations the
    // catalog doesn't own before writing.
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq(tOrders, tCustomer).foreach { t =>
      if (!spark.catalog.tableExists(t)) {
        val d = java.nio.file.Paths.get(wh, t)
        graft.streaming.Streams.deleteRecursively(d)
      }
    }
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable(tOrders)
    Tables.customer(spark, dir)
      .select("c_custkey", "c_name")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable(tCustomer)
    spark.table(tOrders).hint("merge")
      .join(spark.table(tCustomer).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_custkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")
  }

  // `compact_files` — small-file compaction, the table-maintenance job
  // every 100 TB lakehouse runs continuously: streaming/CDC ingest
  // leaves thousands of KB-sized parquet files per partition, and every
  // downstream scan then pays per-file open/footer/list cost (the
  // binaryFile key models the same problem at LANDING; this key is the
  // parquet-native half). Shape: a 64-tiny-file input layout (written
  // once per sf dir — the parquet committer's _SUCCESS marker makes the
  // write idempotent across bench passes), compacted by read → coalesce
  // → write. `coalesce` (not `repartition`): compaction must NOT
  // shuffle — each output task just concatenates input splits, so the
  // job is pure sequential IO. `maxRecordsPerFile` bounds the other
  // direction (a compactor that produces 10 GB files trades the
  // small-file problem for an unsplittable-row-group one). At 100 TB
  // this runs per-partition (compact WITHIN each date dir), so
  // coalesce's reduced read parallelism is bounded by partition size,
  // never the table. The oracle replays identity (id/lang/len/md5) over
  // the original table, certifying the round-trip is lossless; LayoutSpec
  // asserts the file counts (64 → ≤4).
  def compactFiles(spark: SparkSession, dir: String): DataFrame = {
    val small = graft.sources.FormatSources.exportPath("smallfiles", dir)
    val compacted = graft.sources.FormatSources.exportPath("compacted", dir)
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(small, "_SUCCESS"))) {
      Tables.documents(spark, dir)
        .repartition(64, col("doc_id"))
        .write.mode("overwrite").parquet(small)
    }
    spark.read.parquet(small)
      .coalesce(4)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 500000)
      .parquet(compacted)
    spark.read.parquet(compacted)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  // `layout_sorted` — range-CLUSTERED sorted layout + parquet min/max
  // skipping: the third layout lever, one level below the other two
  // (scan_partitioned prunes DIRECTORIES, join_bucketed pre-pays the
  // JOIN shuffle; this prunes FILES and ROW GROUPS inside a flat
  // directory). `repartitionByRange` on the filter column gives every
  // output file a DISJOINT value range, and `sortWithinPartitions`
  // keeps each file's row groups tightly enveloped, so the footer
  // min/max stats let a range predicate eliminate whole files/groups
  // before any page is read — the poor man's z-order, and the reason
  // every 100 TB table spec has a CLUSTER/SORT BY clause. The range
  // shuffle is paid ONCE at write; reads pay nothing. The small
  // parquet.block.size forces multiple row groups per file at bench
  // scale (a production table gets them for free from volume).
  // PlanSpec measures the effect: the clustered scan's numOutputRows ≈
  // the match count, while the same filter over the UNSORTED original
  // emits every row to the post-scan filter. Oracle replays the plain
  // filter — layout is correctness-neutral.
  // The cluster key is a DERIVED DATE column, not the raw timestamp —
  // two reasons. Production: day granularity is what ingest clusters
  // on. Measured: the vectorized reader does NOT stats-eliminate on
  // this table's TIMESTAMP(NTZ) column (same pushed range filter over
  // the same disjoint files: ts emits all 6000 rows, date emits 690 —
  // the footer envelope is only consulted for the date/long types), so
  // a timestamp-clustered layout would silently lose the skipping it
  // paid the write shuffle for. PlanSpec would catch that regression.
  def layoutSorted(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_extendedprice"),
        to_date(col("l_shipdate")).as("ship_d"))
    // Data-proportional write parallelism (same ~750k-rows-per-file
    // rule as layout_zorder, same rationale: a literal partition count
    // caps the clustering sort at that many tasks at any data size —
    // the fixed-k cliff the r9 decade rehearsal measured).
    val parts = math.max(8, math.ceil(li.count() / 750000.0).toInt)
    li.repartitionByRange(parts, col("ship_d"))
      .sortWithinPartitions("ship_d")
      .write.mode("overwrite")
      .option("parquet.block.size", 256 * 1024)
      .parquet(sortedPath(dir))
    layoutSortedRead(spark, dir)
      .orderBy(Tables.lineitemKey.map(col): _*)
  }

  private[graft] def sortedPath(dir: String): String =
    graft.sources.FormatSources.exportPath("sorted", dir)

  /** The filtered read over the clustered layout WITHOUT the terminal
    * sort — shared with PlanSpec, whose scan-metric measurement must
    * not include the range-sort's sampling pass (it re-executes the
    * scan and double-counts numOutputRows). */
  private[graft] def layoutSortedRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(sortedPath(dir))
      .filter(col("ship_d") >= lit("1996-01-01").cast("date") &&
        col("ship_d") < lit("1996-04-01").cast("date"))

  // `layout_zorder` — multi-dimension Z-ORDER clustering + min/max
  // skipping on BOTH dimensions: the fourth layout lever, and the one
  // every lakehouse ships as OPTIMIZE ZORDER BY / a multi-column sort
  // order. `layout_sorted` clusters on ONE key, so a predicate on any
  // other column skips nothing; interleaving the bits of two
  // normalized keys into one z-value and range-clustering on THAT
  // gives every file/row group a tight min/max envelope in EACH raw
  // dimension simultaneously (a contiguous z-range of length L spans
  // only ~√L per dimension), so a box predicate — or a predicate on
  // either dimension alone — eliminates row groups before any page
  // read. The z-value orders the write and is then DROPPED: the files
  // carry only real columns, and the footer stats that do the skipping
  // are the ordinary per-column min/max.
  //
  // Scale notes: the interleave is 32 codegen'd bit ops (no UDF, no
  // HOF), the clustering shuffle is paid once at write, reads pay
  // nothing. Z-order holds to ~3-4 dimensions; beyond that the curve's
  // per-dimension envelope (~N^(1/d)) collapses toward the whole
  // domain and a production table falls back to partition-by +
  // single-sort. Domain bounds come from one 4-scalar agg — the same
  // driver-scalar class as the audited centroid/convergence fetches
  // (a production writer persists them in table metadata instead).
  // 16-bit normalization: finer than any bench row-group count by
  // orders of magnitude, and two interleaved 16-bit dims stay in the
  // positive long range.
  def layoutZorder(spark: SparkSession, dir: String): DataFrame = {
    val li = zorderInput(spark, dir)
    val (pmin, pmax, smin, smax, n) = zorderBounds(spark, dir)
    // Data-proportional write parallelism: a fixed partition count
    // caps the clustering sort at that many tasks regardless of input
    // size (measured in the decade rehearsal: fixed 8 made the second
    // decade 6.8× instead of ~linear-in-data/constant-in-wall on idle
    // cores — 8 tasks × 7.5M rows each). ~750k rows per output file
    // keeps the spec-sf layout at the 8 files its granularity
    // assertions expect while a 100× corpus fans out to 100× tasks.
    val parts = math.max(8, math.ceil(n / 750000.0).toInt)
    def norm(c: Column, lo: Long, hi: Long): Column =
      ((c - lit(lo)) * lit(65535L) / lit(math.max(hi - lo, 1L))).cast("long")
    val zp = norm(col("l_partkey"), pmin, pmax)
    val zs = norm(col("l_suppkey"), smin, smax)
    val z = (0 until 16).map { i =>
      shiftleft(shiftright(zp, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(zs, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
    li.withColumn("z", z)
      .repartitionByRange(parts, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite")
      .option("parquet.block.size", 256 * 1024)
      .parquet(zorderPath(dir))
    // reuse the bounds computed above — zorderRead(spark, dir) would
    // pay the min/max/count aggregation a second time per invocation
    zorderReadAt(spark, dir, pmin, pmax, smin, smax)
      .orderBy(Tables.lineitemKey.map(col): _*)
  }

  private[graft] def zorderPath(dir: String): String =
    graft.sources.FormatSources.exportPath("zorder", dir)

  private def zorderInput(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_extendedprice")

  /** Domain bounds for the two z dimensions plus the row count that
    * sizes the write parallelism (5 longs, one tiny agg). */
  private[graft] def zorderBounds(
      spark: SparkSession, dir: String): (Long, Long, Long, Long, Long) = {
    val r = zorderInput(spark, dir)
      .agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey"), count(lit(1))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  /** The box cut points [lo + span/4, lo + span/2) per dimension —
    * integer floor arithmetic so the DuckDB oracle reproduces them
    * exactly (its SQL uses CAST(FLOOR(span/4.0)); span·0.25 is exact
    * in a double at these magnitudes, so both floors agree). */
  private def quarterHalf(lo: Long, hi: Long): (Long, Long) =
    (lo + (hi - lo) / 4, lo + (hi - lo) / 2)

  /** The two-dimension box read over the z-clustered layout, sort-free
    * (shared with PlanSpec — see [[layoutSortedRead]] for why). The box
    * literals are sf-relative so selectivity (~1/16) is stable at every
    * scale; they arrive as pushed literal conjuncts, which is what lets
    * the footer stats engage. */
  private[graft] def zorderRead(spark: SparkSession, dir: String): DataFrame = {
    val (pmin, pmax, smin, smax, _) = zorderBounds(spark, dir)
    zorderReadAt(spark, dir, pmin, pmax, smin, smax)
  }

  private def zorderReadAt(spark: SparkSession, dir: String,
      pmin: Long, pmax: Long, smin: Long, smax: Long): DataFrame = {
    val (pLo, pHi) = quarterHalf(pmin, pmax)
    val (sLo, sHi) = quarterHalf(smin, smax)
    spark.read.parquet(zorderPath(dir))
      .filter(col("l_partkey") >= lit(pLo) && col("l_partkey") < lit(pHi) &&
        col("l_suppkey") >= lit(sLo) && col("l_suppkey") < lit(sHi))
  }

  /** Second-dimension-only read (suppkey box, no partkey predicate) —
    * the claim a single-column sort cannot honor; PlanSpec measures it
    * against a partkey-sorted copy of the same data. */
  private[graft] def zorderReadDim2(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, smin, smax, _) = zorderBounds(spark, dir)
    val (sLo, sHi) = quarterHalf(smin, smax)
    spark.read.parquet(zorderPath(dir))
      .filter(col("l_suppkey") >= lit(sLo) && col("l_suppkey") < lit(sHi))
  }

  // `write_partition_overwrite` — DYNAMIC partition overwrite (INSERT
  // OVERWRITE ... PARTITION semantics): the incremental-rewrite
  // primitive of every partitioned lakehouse table — the nightly job
  // recomputes ONLY the partitions present in its incoming frame and
  // replaces exactly those, leaving every other partition's files
  // physically untouched. Static overwrite (the default) would drop
  // the WHOLE table first — at 100 TB the difference between rewriting
  // one day and rewriting three years. Here: the event log lands
  // partitioned by event_type; a revision job doubles `value` for the
  // `click` partition only and dynamic-overwrites it in place
  // (`partitionOverwriteMode=dynamic` as a per-write option — no
  // session-level conf mutation). SourcesSpec pins the file-level
  // contract: untouched partitions keep byte-identical files, the
  // overwritten one is replaced. The read-back result is the merged
  // table the oracle recomputes from the base data.
  private[graft] def dynpartBase(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"),
        round(col("value"), 4).as("value"))

  private[graft] def dynpartRevision(spark: SparkSession, dir: String): DataFrame =
    dynpartBase(spark, dir)
      .filter(col("event_type") === "click")
      .withColumn("value", round(col("value") * 2, 4))

  // `write_rebalance` — AQE REBALANCE before write: the adaptive
  // small-files/skewed-files killer. A frame partitioned by a skewed
  // key (3 return-flag partitions here, one per flag value) writes
  // lopsided files — at 100 TB that's a handful of multi-GB files next
  // to thousands of KB ones, and both directions hurt (giant files
  // serialize the next scan's split planning; tiny ones drown the
  // namenode and per-file open cost). `.hint("rebalance")` plans an
  // AQE-managed exchange (REBALANCE_PARTITIONS_BY_NONE) that splits
  // oversized partitions AND coalesces undersized ones to the advisory
  // target at RUNTIME, from observed map-output sizes — the
  // statistics-free answer compact_files approximates statically with
  // a literal coalesce(4). PlanSpec pins the plan AND that the hint
  // SUPERSEDES the upstream skewed repartition (Catalyst collapses
  // adjacent exchanges: one shuffle remains, the hand-set
  // hashpartitioning is gone — rebalance-before-write makes manual
  // write partitioning redundant, which is the operational point).
  // The advisory size is scaled to the data around the write so the
  // rebalancing is observable at bench scale (SourcesSpec asserts
  // ≥ 3 output files within a 4× size band); production leaves the
  // 64 MB default. Read-back proves no rows moved semantically —
  // partitioning is physical only.
  private[graft] def rebalFrame(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_returnflag", "l_extendedprice")
    Tables.lineitem(spark, dir)
      .select(cols.map(col): _*)
      .repartition(col("l_returnflag"))
      .hint("rebalance")
  }

  def writeRebalance(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.FormatSources.exportPath("rebal", dir)
    // data-proportional advisory (~8 output files at any SF, the
    // layout_sorted rows-per-file rule): a literal here would mean one
    // file at small SFs and hundreds at large ones — the same fixed-k
    // cliff the r9 decade rehearsal measured for literal partition
    // counts. ~10 compressed shuffle bytes/row measured for the 6-col
    // slice (the size AQE actually plans on). minPartitionSize must
    // drop WITH the advisory: the rebalance coalescer refuses to emit
    // partitions under it (1 MB default), which silently re-merges
    // everything the splitter produced at bench scale (measured: one
    // 64 KB file with the default, 4 near-even files with it scaled).
    // Row count cached per sf-dir (VERDICT r13 item 4: a full lineitem
    // count() scan ran on EVERY execution just to size the advisory —
    // 4× redundant per bench key; at 100 TB this number comes from
    // table stats, not a rescan). The fixture dirs are immutable, so
    // the count survives Caches.releaseAll() (Tables.scalar).
    val rows = Tables.scalar(spark, dir, "lineitemRows")(
      Tables.lineitem(spark, dir).count())
    val advisory = math.max(8192L, rows * 10L / 8)
    val keys = Map(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> advisory / 2)
    val prev = keys.keys.map(k => k -> spark.conf.getOption(k)).toMap
    keys.foreach { case (k, v) => spark.conf.set(k, v.toString) }
    try rebalFrame(spark, dir).write.mode("overwrite").parquet(path)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    spark.read.parquet(path)
      .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  }

  // `write_codecs` — compression-codec round-trip, the storage lever
  // the layout family still lacked (compact_files sizes files,
  // layout_sorted/zorder order them, write_rebalance balances them —
  // none choose the CODEC, and at 100 TB the zstd-vs-snappy decision
  // is a double-digit-% storage/scan-cost lever). The same slice is
  // written uncompressed, snappy, and zstd; the declared result is the
  // ZSTD read-back (oracle = flat slice replay: a green hash certifies
  // the codec round-trips losslessly through write AND read), and
  // SourcesSpec pins the physical claims the oracle can't see: the
  // on-disk size ordering uncompressed > snappy > zstd and
  // byte-identical row content across all three codecs. Codec choice
  // is per-write here (the `compression` option), which is how a real
  // pipeline mixes codecs per table tier (hot=snappy/lz4, cold=zstd).
  private[graft] val WriteCodecNames =
    Seq("uncompressed", "snappy", "zstd")
  // modulo slice: the key pays THREE writes of its input, so it writes
  // a quarter of the fact — the codec contrast is about byte patterns,
  // not volume, and the slice keeps the key inside the per-key budget
  private[graft] def codecSlice(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_returnflag"), col("l_linestatus"),
        col("l_extendedprice"), col("l_shipdate"))
  private[graft] def codecPath(c: String, dir: String): String =
    graft.sources.FormatSources.exportPath(s"codec_$c", dir)
  def writeCodecs(spark: SparkSession, dir: String): DataFrame = {
    val slice = codecSlice(spark, dir)
    // The three codec writes are INDEPENDENT jobs over the same slice
    // (different output paths) — run them from a small thread pool so
    // each job's tail back-fills the others' idle cores (optimization
    // guide §2.6 "overlap independent jobs"); actions were only
    // sequential because this loop called them sequentially. Wall
    // drops from Σ(writes) to ~max(writes); failures rethrow via get().
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(WriteCodecNames.size)
    try {
      val futures = WriteCodecNames.map { c =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            slice.write.mode("overwrite").option("compression", c)
              .parquet(codecPath(c, dir))
        })
      }
      try futures.foreach(_.get())
      catch { case e: Throwable =>
        // ADVICE r19: shutdown() does not cancel running tasks — on one
        // codec's failure, cancel the rest and WAIT for them, or their
        // writes keep racing past the key's failure into the harness's
        // next steps.
        futures.foreach(_.cancel(true))
        pool.shutdownNow()
        pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
        throw e
      }
    } finally pool.shutdown()
    spark.read.parquet(codecPath("zstd", dir))
      .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  }

  def writePartitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.FormatSources.exportPath("dynpart", dir)
    dynpartBase(spark, dir)
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    dynpartRevision(spark, dir)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(path)
    spark.read.parquet(path)
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("value"))
      .orderBy("event_id")
  }

  // `merge_into` — the transactional MERGE shape (r12 verdict missing
  // item 2): a changelog of updates/inserts/deletes applied to a
  // partitioned parquet target in ONE rewrite of only the TOUCHED
  // partitions. This is what Delta/Iceberg MERGE INTO executes under
  // the hood — identify affected files/partitions, full-outer join the
  // changelog against just those, write the merged result back — here
  // expressed directly on the parquet + dynamic-partition-overwrite
  // primitives (no table-format dependency in this container).
  //
  // Scale shape (100 TB): the changelog's distinct partition values
  // join the target on the PARTITION column, so only touched
  // partitions are scanned (broadcast join over the partition key —
  // the DPP/pruning story; untouched partitions are never read OR
  // written, pinned file-level in SourcesSpec). The merge itself is
  // one equi-shuffle of target-touched ∪ changelog on the merge key —
  // the same single-shuffle profile as cdc_upsert, plus the write.
  // Money flows in exact integer cents end-to-end (the r8 lesson).
  //
  // MERGE semantics implemented (ANSI/Delta):
  //   WHEN MATCHED AND op='U'  THEN UPDATE (changelog carries the new
  //                                         value)
  //   WHEN MATCHED AND op='D'  THEN DELETE
  //   WHEN NOT MATCHED AND op='I' THEN INSERT
  //   unmatched U/D and matched I are no-ops (not errors) — the
  //   idempotent-replay reading of MERGE.
  private[graft] def mergeBase(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(pmod(col("event_id"), lit(3)) =!= 0)
      .select(col("event_id"), col("event_type"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))

  private[graft] def mergeChangelog(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // the changelog touches ONLY the click/view partitions — the
      // untouched-partition preservation contract needs partitions the
      // merge never mentions
      .filter(col("event_type").isin("click", "view"))
      .withColumn("op",
        when(pmod(col("event_id"), lit(3)) === 0, "I")
          .when(pmod(col("event_id"), lit(6)) === 1, "U")
          .when(pmod(col("event_id"), lit(6)) === 4, "D"))
      .filter(col("op").isNotNull)
      .select(col("event_id"), col("event_type"), col("user_id"),
        // 'U' rows carry the NEW value (doubled); 'I' rows the insert
        when(col("op") === "U",
          expr("CAST(round(value * 100) AS BIGINT)") * 2)
          .otherwise(expr("CAST(round(value * 100) AS BIGINT)"))
          .as("cents"),
        col("op"))

  /** Cached metadata of a partitioned parquet MERGE target, for sinks
    * that apply many changelog batches to the SAME table (the streaming
    * CDC sink). `spark.read.parquet(root)` re-lists the whole table and
    * re-infers the schema on EVERY batch — at 100 TB that root listing
    * is ~100k files of driver-side metadata work repeated per
    * micro-batch, and it was the measured fixed cost of
    * stream_merge_cdc's batches (SCALING.md r17 decomposition). This is
    * the manifest a lakehouse format (Delta/Iceberg) would keep in its
    * commit log: the schema, read once, and the per-partition file
    * lists, re-listed after a merge ONLY for the partitions that merge
    * touched. Readers get the identical frame `read.parquet(root)`
    * + partition-pruning-join would produce — file-level pruning
    * replaces the broadcast join entirely. */
  private[graft] final class MergeTargetCache(spark: SparkSession,
      path: String, partCol: String) {
    private val root = new org.apache.hadoop.fs.Path(path)
    private val fs =
      root.getFileSystem(spark.sessionState.newHadoopConf())
    /** Read once at construction — the merge never evolves the schema. */
    val schema: org.apache.spark.sql.types.StructType =
      spark.read.parquet(path).schema
    private val files =
      scala.collection.mutable.Map.empty[String, Seq[String]]
    refresh(allPartitionValues())

    // Partition dir names are hive-style ESCAPED (Spark's partitionBy
    // percent-encodes `=`, `/`, `%`, … and writes null as
    // __HIVE_DEFAULT_PARTITION__) — the cache maps dirs ↔ values
    // through the same codec Spark's writer uses, so a changelog value
    // like "a=b" round-trips instead of silently missing in read()
    // (which would make the full-outer merge treat existing rows as
    // absent and no-op the U/D side). Null partition values remain
    // out of contract: the changelog's merge key column is non-null
    // by construction and nulls never reach partitionBy.
    private def escape(v: String): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(v)
    private def unescape(v: String): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(v)

    private def allPartitionValues(): Seq[String] =
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(s"$partCol="))
        .map(s => unescape(s.getPath.getName.stripPrefix(s"$partCol=")))

    private def listDataFiles(value: String): Seq[String] = {
      val dir =
        new org.apache.hadoop.fs.Path(root, s"$partCol=${escape(value)}")
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq
        .filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        .map(_.getPath.toString)
    }

    /** Re-list ONLY the given partition values (post-merge: the merge
      * rewrote exactly these; an insert may have created a new dir). */
    def refresh(values: Seq[String]): Unit =
      values.foreach(v => files(v) = listDataFiles(v))

    /** The target rows of the given partitions — what
      * `read.parquet(root).join(broadcast(touched))` computes, by file
      * pruning instead of a scan+join. `basePath` keeps the partition
      * column alive when reading leaf files directly. */
    def read(sess: SparkSession, values: Seq[String]): DataFrame = {
      val fsel = values.flatMap(v => files.getOrElse(v, Seq.empty))
      if (fsel.isEmpty)
        sess.createDataFrame(
          sess.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else
        sess.read.option("basePath", path).schema(schema)
          .parquet(fsel: _*)
    }
  }

  /** Apply a changelog to an existing partitioned target at `path` —
    * factored out so SourcesSpec can checksum untouched partitions
    * between the base write and the merge. With a [[MergeTargetCache]]
    * (the streaming CDC sink passes one) the target read is file-pruned
    * off the cached manifest instead of a per-batch root re-list +
    * schema inference; result state is identical either way
    * (StreamMergeSpec pins streaming-equals-batch on top of the cache). */
  private[graft] def mergeApply(spark: SparkSession, path: String,
      chg: DataFrame, cache: Option[MergeTargetCache] = None): Unit = {
    val touchedVals: Option[Seq[String]] = cache.map { _ =>
      chg.select("event_type").distinct()
        .collect().map(_.getString(0)).toSeq.sorted
    }
    // empty changelog batch → nothing touched, nothing to do. This
    // doubles as the cached path's emptiness check: the streaming sink
    // calls straight in without a separate isEmpty job per micro-batch
    // (the distinct-collect above already scanned the batch).
    if (touchedVals.exists(_.isEmpty)) return
    val target = cache match {
      case Some(c) => c.read(spark, touchedVals.get)
      case None =>
        val touched = chg.select("event_type").distinct()
        spark.read.parquet(path)
          .join(broadcast(touched), Seq("event_type"))
    }
    val merged = target.as("t")
      .join(chg.as("c"), col("t.event_id") === col("c.event_id"),
        "full_outer")
      // exact MERGE clause semantics; anything else is a no-op row
      // drop. Matched-'I' KEEPS the target row (ANSI whenNotMatched
      // never fires on a match) — this is what makes a re-delivered
      // insert batch a no-op, i.e. the whole apply IDEMPOTENT, which
      // the streaming CDC sink (stream_merge_cdc) depends on and
      // StreamMergeSpec pins.
      .where(col("c.op").isNull ||
        (col("t.event_id").isNotNull && col("c.op").isin("U", "I")) ||
        (col("t.event_id").isNull && col("c.op") === "I"))
      .select(
        coalesce(col("t.event_id"), col("c.event_id")).as("event_id"),
        coalesce(col("t.user_id"), col("c.user_id")).as("user_id"),
        when(col("c.op") === "U", col("c.cents"))
          .when(col("c.op") === "I" && col("t.event_id").isNull,
            col("c.cents"))
          .otherwise(col("t.cents")).as("cents"),
        coalesce(col("t.event_type"), col("c.event_type"))
          .as("event_type"))
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(path)
    // dynamic overwrite replaced exactly the touched partitions' files —
    // bring the manifest forward so the next batch reads the new state
    cache.foreach(_.refresh(touchedVals.get))
  }

  def mergeInto(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.FormatSources.exportPath("mergeinto", dir)
    mergeBase(spark, dir)
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    mergeApply(spark, path, mergeChangelog(spark, dir))
    spark.read.parquet(path)
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("cents"))
      .orderBy("event_id")
  }

  // -------------------------------------------------------------------
  // `table_snapshot` — commit-log time travel, the read-side half of
  // the lakehouse pair (merge_into is the write side). The table is a
  // directory of IMMUTABLE parquet files plus a `_graft_log/` of
  // version manifests, each listing exactly the files visible at that
  // version — the scheme Delta/Iceberg implement under their metadata
  // formats. A copy-on-write update never touches an existing file: it
  // appends replacement files for the rewritten partition and commits
  // a new manifest that drops the superseded ones. Reading version N
  // is then just `spark.read.parquet(manifest N's files)` — consistent
  // snapshots and time travel with zero coordination at read time,
  // which is why the pattern scales to 100 TB tables with thousands of
  // concurrent readers. The declared key reads BOTH versions after v1
  // commits: a green oracle certifies v0 is still byte-exactly the
  // base state (snapshot isolation) and v1 is exactly the update.
  // SnapshotSpec additionally pins the physical property that makes
  // COW cheap: v0 and v1 share every untouched partition file.
  // -------------------------------------------------------------------
  private[graft] def snapshotPath(dir: String): String =
    graft.sources.FormatSources.exportPath("snapshot", dir)

  private[operators] def manifestPath(root: org.apache.hadoop.fs.Path, v: Int) =
    new org.apache.hadoop.fs.Path(root, s"_graft_log/v$v.txt")

  /** Relative paths of all data files currently in the table dir. */
  private[operators] def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    val it = fs.listFiles(root, true)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val prefix = root.toUri.getPath + "/"
    while (it.hasNext) {
      val f = it.next().getPath.toUri.getPath
      if (f.endsWith(".parquet") && !f.contains("_graft_log"))
        out += f.stripPrefix(prefix)
    }
    out.toSeq.sorted
  }

  /** Manifest writer. Since r15 a line may carry per-file column stats
    * (`relpath\tmin\tmax` — the Delta/Iceberg file-level min/max that
    * lets a snapshot read prune files BEFORE listing them, VERDICT r14
    * item 6); stat-less lines stay plain relpaths, so every existing
    * manifest and every stats-free writer (snapshot_concurrent's
    * racing commits) remains readable by the same parser. */
  private[operators] def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, files: Seq[String],
      stats: Map[String, (Long, Long)] = Map.empty): Unit = {
    val os = fs.create(p, true)
    val lines = files.sorted.map { f =>
      stats.get(f).map { case (mn, mx) => s"$f\t$mn\t$mx" }.getOrElse(f)
    }
    os.write(lines.mkString("\n").getBytes("UTF-8"))
    os.close()
  }

  private[graft] def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] =
    readManifestStats(fs, p).map(_._1)

  /** Manifest lines as (relpath, optional (min, max) stats). */
  private[graft] def readManifestStats(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[(String, Option[(Long, Long)])] = {
    val in = fs.open(p)
    val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    in.readFully(bytes)
    in.close()
    new String(bytes, "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
      .map { line =>
        line.split('\t') match {
          case Array(f, mn, mx) => f -> Some((mn.toLong, mx.toLong))
          case _ => line.takeWhile(_ != '\t') -> None
        }
      }
  }

  /** Per-file (min, max) of a BIGINT column read from the parquet
    * FOOTERS — no data scan. The local stand-in for stats a real
    * engine's write tasks return with their commit message; reading
    * footers at commit time is what Delta's stats-collection backfill
    * and Iceberg's `add_files` do for pre-existing files. */
  private[operators] def footerStats(spark: SparkSession,
      root: org.apache.hadoop.fs.Path, files: Seq[String],
      column: String): Map[String, (Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(root, f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        var mn = Long.MaxValue
        var mx = Long.MinValue
        r.getFooter.getBlocks.forEach { b =>
          b.getColumns.forEach { c =>
            if (c.getPath.toDotString == column) {
              val st = c.getStatistics
              mn = math.min(mn, st.genericGetMin.asInstanceOf[Number].longValue)
              mx = math.max(mx, st.genericGetMax.asInstanceOf[Number].longValue)
            }
          }
        }
        // a zero-row part file has no column statistics — emit a
        // stat-less manifest line for it (the parser tolerates both;
        // ADVICE r16: the old require made an empty artifact a crash)
        if (mn <= mx) Some(f -> (mn, mx)) else None
      } finally r.close()
    }.toMap
  }

  /** Snapshot read: the manifest's file list, partition columns
    * recovered from the paths via basePath. */
  private[graft] def readSnapshot(spark: SparkSession, path: String,
      v: Int): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = readManifest(fs, manifestPath(root, v))
      .map(f => s"$path/$f")
    spark.read.option("basePath", path).parquet(files: _*)
  }

  /** Builds the two-version table (idempotent: fresh dir each run). */
  private[graft] def snapshotBuild(spark: SparkSession, dir: String): String = {
    val path = snapshotPath(dir)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)

    val base = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        col("event_type"))
    base.write.partitionBy("event_type").parquet(path)
    val v0 = dataFiles(fs, root)
    // every committed manifest carries per-file event_id min/max (r15:
    // the snapshot_skipping stats scheme applied across the whole
    // lakehouse triple — one manifest format, not a special case);
    // snapshot_concurrent's racing commits stay stats-less, which the
    // reader tolerates by contract (stat-less lines never prune)
    writeManifest(fs, manifestPath(root, 0), v0,
      footerStats(spark, root, v0, "event_id"))

    // v1: copy-on-write rewrite of the 'click' partition (cents
    // doubled), recomputed from the source — appended as NEW files;
    // v0's files are never modified or deleted.
    base.filter(col("event_type") === "click")
      .withColumn("cents", col("cents") * 2)
      .write.mode("append").partitionBy("event_type").parquet(path)
    val after = dataFiles(fs, root)
    val appended = (after.toSet -- v0.toSet).toSeq.sorted
    val v1 = v0.filterNot(_.startsWith("event_type=click/")) ++ appended
    writeManifest(fs, manifestPath(root, 1), v1,
      footerStats(spark, root, v1, "event_id"))
    path
  }

  def tableSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val path = snapshotBuild(spark, dir)
    val cols = Seq("event_id", "user_id", "cents", "event_type")
    readSnapshot(spark, path, 0)
      .selectExpr(cols: _*).withColumn("version", lit(0L))
      .unionByName(readSnapshot(spark, path, 1)
        .selectExpr(cols: _*).withColumn("version", lit(1L)))
      .orderBy("version", "event_id")
  }

  // `snapshot_expire` — VACUUM, the maintenance third of the lakehouse
  // triple (merge_into writes, table_snapshot reads, this one reclaims):
  // expire every version below the retention floor, then delete the
  // files no surviving manifest references. Correctness property worth
  // a declared key: vacuum must be a pure METADATA decision — the set
  // difference of manifest file lists — never a content rewrite, so
  // the live table bytes are untouched and the post-vacuum read is
  // still byte-exactly v1. At 100 TB this is what bounds storage
  // growth under daily COW churn; the delete set is computed from
  // manifests alone (no directory scan of the data tree), which is
  // why it stays O(versions × files-per-manifest) however big the
  // table gets. Output = the post-vacuum v1 read; the oracle certifies
  // the surviving data is untouched by the delete, and SnapshotSpec
  // pins the file arithmetic (reclaimed = exactly the v0-only files;
  // file COUNTS are task-layout-dependent, so they belong to the spec,
  // not the oracle surface).
  def snapshotExpire(spark: SparkSession, dir: String): DataFrame = {
    val path = snapshotBuild(spark, dir)
    vacuumBelow(spark, path, keep = 1)
    readSnapshot(spark, path, 1)
      .selectExpr("event_id", "user_id", "cents", "event_type")
      .orderBy("event_id")
  }

  // -------------------------------------------------------------------
  // `snapshot_skipping` — file-level data skipping on snapshot reads,
  // the read-path lever the lakehouse triple lacked (VERDICT r14 item
  // 6): the commit-log manifest carries per-file min/max for a value
  // column (here event_id — captured from the parquet FOOTERS at
  // commit time, the Delta stats-collection / Iceberg metrics shape),
  // and a range query prunes the FILE LIST before Spark ever lists or
  // opens anything. This is different from (and multiplies with)
  // parquet's own footer skipping: footer pruning still pays one
  // open+footer-read per file — at 100 TB with 10⁵-10⁶ files, per-file
  // metadata IO is itself the bottleneck, which is why every lakehouse
  // format hoists min/max into the manifest. The write lays files out
  // by repartitionByRange on the stats column, so file ranges are
  // disjoint and a quartile-wide predicate prunes ~all of them
  // (layout_sorted's clustering argument applied to the manifest tier).
  //
  // Oracle: the kept-file union filtered to [lo, hi] must equal the
  // plain predicate over the source table — a pruning bug that drops a
  // boundary file (min/max off by one) breaks the hash. lo/hi derive
  // from the MANIFEST's own global min/max (no extra scan; replayed in
  // SQL via scalar subqueries). SnapshotSpec pins the physical claim
  // the oracle can't see: files-read < files-live, the scan's numFiles
  // metric equals the pruned count, and pruned ≡ unpruned row-for-row.
  // -------------------------------------------------------------------
  private[graft] def snapshotSkipBuild(spark: SparkSession,
      dir: String): String = {
    val path = graft.sources.FormatSources.exportPath("snapskip", dir)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        col("event_type"))
      .repartitionByRange(8, col("event_id"))
      .write.parquet(path)
    val v0 = dataFiles(fs, root)
    writeManifest(fs, manifestPath(root, 0), v0,
      footerStats(spark, root, v0, "event_id"))
    path
  }

  /** Stats-pruned snapshot read: keep only files whose [min, max]
    * overlaps [lo, hi]. A stat-less manifest line is NEVER prunable
    * (kept unconditionally) — missing stats must degrade to correct,
    * not to silently-dropped data. Returns (frame, files read, files
    * live) so specs can pin the pruning arithmetic. */
  private[graft] def readSnapshotPruned(spark: SparkSession, path: String,
      v: Int, lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = readManifestStats(fs, manifestPath(root, v))
    val kept = entries.collect {
      case (f, st) if st.forall { case (mn, mx) => mx >= lo && mn <= hi } => f
    }
    val df = spark.read.option("basePath", path)
      .parquet(kept.map(f => s"$path/$f"): _*)
    (df, kept.size, entries.size)
  }

  def snapshotSkipping(spark: SparkSession, dir: String): DataFrame = {
    val path = snapshotSkipBuild(spark, dir)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = readManifestStats(fs, manifestPath(root, 0)).flatMap(_._2)
    val (mn, mx) = (stats.map(_._1).min, stats.map(_._2).max)
    // quartile-wide slice [mn + span/4, mn + 3·span/8] — scale-free, and
    // derived from the manifest alone (truncating div: both bounds
    // positive, so Spark div ≡ DuckDB // in the oracle's replay)
    val lo = mn + (mx - mn) / 4
    val hi = mn + 3L * (mx - mn) / 8
    val (df, _, _) = readSnapshotPruned(spark, path, 0, lo, hi)
    df.filter(col("event_id") >= lo && col("event_id") <= hi)
      .select("event_id", "user_id", "cents", "event_type")
      .orderBy("event_id")
  }

  // -------------------------------------------------------------------
  // `snapshot_concurrent` — optimistic-commit concurrency on the commit
  // log, the write-contention semantic completing the lakehouse triple
  // (merge_into writes, table_snapshot reads, snapshot_expire reclaims):
  // TWO writers race to commit version N+1 against the same
  // `_graft_log`. The protocol is the one Delta's OptimisticTransaction
  // and Iceberg's atomic metadata swap implement: write data files
  // first (safe — unreferenced files are invisible to every reader),
  // then try an ATOMIC create-exclusive of manifest v(N+1); the loser
  // re-reads the winner's commit, VALIDATES non-overlap (the winner
  // touched a different partition — a real engine aborts on a
  // write-write conflict), rebases its manifest on the new base and
  // commits v(N+2). No lock is ever held: contention costs the loser
  // one manifest-sized retry, never a data rewrite — which is why the
  // scheme holds at 100 TB, where a table lock would serialize every
  // writer in the fleet and a retry-as-rewrite would double IO under
  // contention.
  //
  // The exclusivity primitive is a POSIX hard link of a pre-written
  // temp file (java.nio createLink) — it fails on an existing target
  // exactly like O_CREAT|O_EXCL and publishes the FULL body in one
  // atomic step, the local-FS stand-in for HDFS create-no-overwrite /
  // an object store's conditional PUT. readManifestWait's existence
  // spin only covers the loser polling for the winner's commit; a
  // visible manifest is always complete.
  //
  // Determinism for the oracle: the writers rewrite DISJOINT partitions
  // ('click' cents ×2, 'view' cents ×3), so the FINAL state v2 is
  // independent of who wins the race. WHICH writer retried is
  // nondeterministic by design; the structural invariants (exactly one
  // loser, 3 commit attempts total, v2 = v0 minus both rewritten
  // partitions plus both writers' files, winner's v1 shares every
  // untouched file with v0) are pinned in SnapshotSpec.
  // -------------------------------------------------------------------
  /** Highest committed version in a table's `_graft_log`. */
  private[graft] def logLatestVersion(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Int = {
    val logDir = new org.apache.hadoop.fs.Path(root, "_graft_log")
    fs.listStatus(logDir).map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".txt") =>
        s.stripPrefix("v").stripSuffix(".txt").toInt
      }.max
  }

  /** Spin-read a manifest that a racing writer may be mid-publish on —
    * only covers the loser polling for the winner's commit; a visible
    * manifest is always complete (see [[tryCommitManifest]]). */
  private[graft] def readManifestWaitFor(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Int): Seq[String] = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var out = Seq.empty[String]
    while (out.isEmpty) {
      val p = manifestPath(root, v)
      if (fs.exists(p) && fs.getFileStatus(p).getLen > 0)
        out = readManifest(fs, p)
      else if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"optimistic commit: manifest v$v never became readable")
      else Thread.sleep(2)
    }
    out
  }

  /** Atomic create-exclusive publish of manifest v (ADVICE r14): body
    * first to a private temp file, then hard-link it to the version
    * slot — createLink fails with FileAlreadyExistsException exactly
    * like O_CREAT|O_EXCL, and the full body appears in ONE step (the
    * local-FS stand-in for HDFS create-no-overwrite / an object
    * store's conditional PUT). A claim-then-write would leave a gap
    * where a racing reader's len>0 check observes a partial body and
    * the loser rebases on a truncated manifest. */
  private[graft] def tryCommitManifest(root: org.apache.hadoop.fs.Path,
      v: Int, files: Seq[String]): Boolean = {
    val p = java.nio.file.Paths.get(manifestPath(root, v).toUri.getPath)
    val tmp = p.resolveSibling(s".v$v-${Thread.currentThread().getId}.tmp")
    java.nio.file.Files.write(tmp,
      files.sorted.mkString("\n").getBytes("UTF-8"))
    try java.nio.file.Files.createLink(p, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        java.nio.file.Files.deleteIfExists(tmp); return false
    }
    java.nio.file.Files.deleteIfExists(tmp)
    true
  }

  private[graft] case class SnapConcStats(
      path: String,
      v0: Seq[String],
      files: Map[String, Seq[String]], // partition -> its appended files
      committed: Map[String, Int],     // partition -> version it committed
      attempts: Map[String, Int])      // partition -> commit attempts

  private[graft] def snapConcBuild(spark: SparkSession,
      dir: String): SnapConcStats = {
    val path = graft.sources.FormatSources.exportPath("snapconc", dir)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val base = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        col("event_type"))
    base.write.partitionBy("event_type").parquet(path)
    val v0 = dataFiles(fs, root)
    writeManifest(fs, manifestPath(root, 0), v0)

    // Both writers' data files land BEFORE the commit race: two
    // concurrent Spark append jobs on one table path would share a
    // _temporary staging dir — an orthogonal committer hazard, while
    // the semantic under test is the MANIFEST race (real engines stage
    // files under unique names exactly so the data write needs no
    // coordination either).
    def appendRewrite(part: String, factor: Int): Seq[String] = {
      val before = dataFiles(fs, root).toSet
      base.filter(col("event_type") === part)
        .withColumn("cents", col("cents") * factor)
        .write.mode("append").partitionBy("event_type").parquet(path)
      (dataFiles(fs, root).toSet -- before).toSeq.sorted
    }
    val filesByPart = Map("click" -> appendRewrite("click", 2),
      "view" -> appendRewrite("view", 3))

    def latestVersion(): Int = logLatestVersion(fs, root)
    def readManifestWait(v: Int): Seq[String] =
      readManifestWaitFor(fs, root, v)
    def tryCommit(v: Int, files: Seq[String]): Boolean =
      tryCommitManifest(root, v, files)

    // The barrier sits between manifest PREPARATION and the first
    // commit attempt: both writers provably read base v0 and race the
    // SAME v1 slot, so exactly one conflict-and-retry happens every
    // run — the drill is deterministic in structure, not scheduler
    // luck. Later loop iterations skip it (the loser retries alone).
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val committed = new scala.collection.concurrent.TrieMap[String, Int]
    val attempts = new scala.collection.concurrent.TrieMap[String, Int]
    val failure =
      new java.util.concurrent.atomic.AtomicReference[Throwable]
    def writer(part: String): Thread = new Thread(() => {
      try {
        val mine = filesByPart(part)
        val prefix = s"event_type=$part/"
        val v0Mine = v0.filter(_.startsWith(prefix)).toSet
        var done = false
        var first = true
        var n = 0
        while (!done) {
          val latest = latestVersion()
          val snap = readManifestWait(latest)
          // Re-validation (what a real engine runs on every retry): the
          // base this commit rebases onto must not have touched OUR
          // partition — its files there are still exactly v0's. Overlap
          // would be a write-write conflict → abort, never rebase.
          val theirs = snap.filter(_.startsWith(prefix)).toSet
          require(theirs == v0Mine,
            s"write-write conflict on $part: a concurrent commit " +
              "modified this writer's partition — abort")
          val next = snap.filterNot(_.startsWith(prefix)) ++ mine
          if (first) { barrier.await(); first = false }
          n += 1
          if (tryCommit(latest + 1, next)) {
            committed(part) = latest + 1
            done = true
          }
        }
        attempts(part) = n
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
    }, s"snapconc-$part")
    val ts = Seq(writer("click"), writer("view"))
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (failure.get() != null) throw failure.get()
    SnapConcStats(path, v0, filesByPart, committed.toMap, attempts.toMap)
  }

  def snapshotConcurrent(spark: SparkSession, dir: String): DataFrame = {
    val stats = snapConcBuild(spark, dir)
    readSnapshot(spark, stats.path, 2)
      .selectExpr("event_id", "user_id", "cents", "event_type")
      .orderBy("event_id")
  }

  // `merge_concurrent` — concurrent-MERGE conflict detection (VERDICT
  // r18 item 7), the write-write half of the optimistic-commit story:
  // `snapshot_concurrent`'s racers touch DISJOINT partitions, so the
  // loser may keep its already-written data files and merely REBASE
  // its manifest. Two concurrent MERGEs whose key sets OVERLAP cannot:
  // the loser's output was COMPUTED from a base the winner just
  // replaced, and publishing it would silently erase the winner's
  // update — the classic lost update. The protocol here is what
  // Delta's OptimisticTransaction does on a true conflict: the version
  // CAS (atomic create-exclusive of manifest v+1, the same primitive
  // as snapshot_concurrent) DETECTS that the base moved, and the loser
  // DISCARDS its staged output and re-runs the whole merge on the
  // winner's committed state before retrying. Staged-but-never-
  // committed files are invisible to every reader (the manifest IS the
  // table) and are deleted on abort — contention costs the loser one
  // recompute of its own merge, never a lock and never corrupted
  // state. At 100 TB the recompute is changelog-scoped (the merge_into
  // machinery), so the retry cost is the delta's, not the table's.
  //
  // Determinism for the oracle: the two writers' updates COMMUTE
  // (+10 cents to event_id ≡ 0 mod 3, +100 to ≡ 0 mod 5 — overlap on
  // mod 15 gets both), so the serial order the CAS forces is
  // irrelevant to the final state and v2 replays as plain SQL. WHICH
  // writer retried is nondeterministic by design; the structural
  // invariants (exactly one loser, 3 merge computations, 3 commit
  // attempts, every staged-orphan file unreferenced) are pinned in
  // SnapshotSpec.
  private[graft] case class MergeConcStats(
      path: String,
      committed: Map[String, Int],  // writer -> version it committed
      attempts: Map[String, Int],   // writer -> commit attempts
      computes: Map[String, Int])   // writer -> merge computations

  private[graft] def mergeConcBuild(spark: SparkSession,
      dir: String): MergeConcStats = {
    val path = graft.sources.FormatSources.exportPath("mergeconc", dir)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        col("event_type"))
      .write.parquet(path)
    writeManifest(fs, manifestPath(root, 0), dataFiles(fs, root))

    // The barrier sits between each writer's FIRST merge computation
    // (both provably from base v0) and its first commit attempt — so
    // both race the same v1 slot and exactly one conflict-and-recompute
    // happens every run: deterministic in structure, not scheduler
    // luck.
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val committed = new scala.collection.concurrent.TrieMap[String, Int]
    val attempts = new scala.collection.concurrent.TrieMap[String, Int]
    val computes = new scala.collection.concurrent.TrieMap[String, Int]
    val failure =
      new java.util.concurrent.atomic.AtomicReference[Throwable]
    def writer(tag: String, modulus: Int, inc: Long): Thread =
      new Thread(() => {
        try {
          var done = false
          var first = true
          var n = 0
          while (!done) {
            val latest = logLatestVersion(fs, root)
            val snap = readManifestWaitFor(fs, root, latest)
            // MERGE recompute on the CURRENT committed base — never a
            // manifest rebase: an overlapping merge's output depends
            // on base CONTENT, and this read-modify-write is exactly
            // the window the version CAS has to close.
            val stage = s"stage_${tag}_$n"
            spark.read.option("basePath", path)
              .parquet(snap.map(f => s"$path/$f"): _*)
              .withColumn("cents",
                when(pmod(col("event_id"), lit(modulus)) === 0,
                  col("cents") + inc).otherwise(col("cents")))
              .write.mode("overwrite").parquet(s"$path/$stage")
            computes(tag) = computes.getOrElse(tag, 0) + 1
            val mine = fs.listStatus(
                new org.apache.hadoop.fs.Path(root, stage)).toSeq
              .map(_.getPath.getName)
              .filter(_.endsWith(".parquet"))
              .map(f => s"$stage/$f").sorted
            if (first) { barrier.await(); first = false }
            n += 1
            if (tryCommitManifest(root, latest + 1, mine)) {
              committed(tag) = latest + 1
              done = true
            } else {
              // conflict detected: our staged output is STALE (built
              // on a replaced base) — abort it entirely and re-merge
              fs.delete(new org.apache.hadoop.fs.Path(root, stage), true)
            }
          }
          attempts(tag) = n
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      }, s"mergeconc-$tag")
    val ts = Seq(writer("a", 3, 10L), writer("b", 5, 100L))
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (failure.get() != null) throw failure.get()
    MergeConcStats(path, committed.toMap, attempts.toMap, computes.toMap)
  }

  def mergeConcurrent(spark: SparkSession, dir: String): DataFrame = {
    val stats = mergeConcBuild(spark, dir)
    readSnapshot(spark, stats.path, 2)
      .selectExpr("event_id", "user_id", "cents", "event_type")
      .orderBy("event_id")
  }

  /** Expire every version below `keep`: delete files referenced only
    * by expired manifests (a pure manifest set-difference — no data
    * read), then the manifests themselves. Returns the deleted
    * relative paths. */
  private[graft] def vacuumBelow(spark: SparkSession, path: String,
      keep: Int): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val expired = (0 until keep)
      .map(v => readManifest(fs, manifestPath(root, v)))
    val live = readManifest(fs, manifestPath(root, keep)).toSet
    val doomed = expired.flatten.toSet -- live
    doomed.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(root, f), false))
    (0 until keep).foreach(v => fs.delete(manifestPath(root, v), false))
    doomed.toSeq.sorted
  }
}
