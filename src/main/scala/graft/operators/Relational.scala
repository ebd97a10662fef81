package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational core — scan / filter / join / aggregate (SURVEY.md §2B
  * Q01–Q13).
  *
  * Flagship semantics anchor: the reference's single query, TPC-H Q6
  * (reference: README.md:6-15, TpchQuery6.java:19-50). Everything else
  * generalizes the reference's scan→filter→project→aggregate pipeline to
  * the full relational algebra using Catalyst built-ins so that predicate
  * pushdown, column pruning, partial aggregation and whole-stage codegen
  * apply automatically (SURVEY.md §4).
  *
  * Scale notes (100 TB design intent):
  *  - all filters/projections are Column expressions → pushed into the
  *    parquet scan (row-group skipping via min/max, column projection);
  *  - small dimensions (region/nation, and customer at bench scale) are
  *    broadcast, eliminating the shuffle on the probe side;
  *  - aggregations use groupBy().agg() → HashAggregateExec with map-side
  *    partial aggregation before the exchange;
  *  - the as-of join is formulated as aggregation (max(struct)) instead of
  *    a row_number window, so it benefits from partial aggregation and
  *    avoids a full per-partition sort of the joined fact table.
  */
object Relational {

  // ---------------------------------------------------------------------
  // Q01 `q6` — flagship. Reference: TpchQuery6.java:19-50 (5-conjunct
  // filter, fused project+sum; golden comment at :38-39). The reference
  // window ['1994-01-01','1995-01-01) is empty on the driver testdata
  // (shipdates span 1995..2001), so the same query shape runs on
  // ['1996-01-01','1997-01-01). Half-open date range (string/date order
  // identical for ISO dates, TpchQuery6.java:45-46), closed discount band,
  // strict quantity bound.
  // ---------------------------------------------------------------------
  def q6(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        // exact-integer money (r15 flip-class audit): ep·disc has
        // exactly 4 decimals (2dp × 2dp), so the sum is an exact
        // BIGINT in 1e-4 units and the render is the identity
        // division — a float sum here reaches ~1e10 with O(√n·ulp)
        // summation-order error, the class the mult-10 sweep caught
        // on agg_group
        round(sum(expr(
          "CAST(round(l_extendedprice * l_discount * 1e4) AS BIGINT)"))
          .cast("double") / 1e4, 4).as("revenue"),
        count(lit(1)).as("n_rows"))

  // Q02 `scan_project` — parquet scan + named projection; Catalyst
  // ColumnPruning pushes the 6-column ReadSchema into the scan
  // (reference analogue: positional column binding, TpchQuery6.java:25-28).
  def scanProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice")
      .orderBy(Tables.lineitemKey.map(col): _*)

  // Q03 `filter_conj` — conjunctive + disjunctive predicates, IN, BETWEEN,
  // IS NOT NULL (reference analogue: the 5-term && chain,
  // TpchQuery6.java:43-50). All conjuncts are pushdown-eligible.
  def filterConj(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_returnflag").isin("A", "R") &&
        col("l_quantity").between(10, 20) &&
        (col("l_discount") < 0.03 || col("l_tax") > 0.05) &&
        col("l_linestatus").isNotNull)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_quantity", "l_discount", "l_tax")
      .orderBy(Tables.lineitemKey.map(col): _*)

  // Q04 `join_inner_hash` — equi inner join orders ⋈ customer. At 100 TB
  // both sides are large → shuffled hash / sort-merge on the join key;
  // here AQE picks the strategy.
  def joinInnerHash(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")

  // Q05 `join_broadcast` — dimension chain customer→nation→region with
  // explicit broadcast of the small dims: zero shuffle on the fact side.
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey", "c_name", "n_name", "r_name")
      .orderBy("c_custkey")

  // Q06 `join_multiway` — full 6-table TPC-H Q5 shape:
  // region→nation→customer→orders→lineitem→supplier with the Q5
  // local-supplier condition (s_nationkey = c_nationkey). Dimension
  // chain broadcasts; orders⋈lineitem is the only large shuffle.
  // Catalyst pushes r_name and the o_orderdate range below the joins.
  def joinMultiway(spark: SparkSession, dir: String): DataFrame =
    Tables.region(spark, dir).filter(col("r_name") === "ASIA")
      .join(Tables.nation(spark, dir), col("r_regionkey") === col("n_regionkey"))
      .join(Tables.customer(spark, dir), col("n_nationkey") === col("c_nationkey"))
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy("n_name")
      .agg(
        // exact 1e-4-unit integer sum (r15 flip-class audit)
        round(sum(expr("CAST(round(l_extendedprice * (1 - l_discount) " +
          "* 1e4) AS BIGINT)")).cast("double") / 1e4, 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")

  // Q07 `join_left_outer` — null-extending outer join; nullable right-side
  // keys are coalesced to sentinels so the terminal ORDER BY is
  // deterministic across engines (Spark sorts NULLS FIRST, DuckDB LAST).
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_totalprice") > 450000.0),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .select(
        col("c_custkey"),
        coalesce(col("o_orderkey"), lit(-1L)).as("o_key"),
        coalesce(col("o_totalprice"), lit(0.0)).as("price"))
      .orderBy("c_custkey", "o_key")

  // Q08 `join_semi` — EXISTS: customers having at least one big order.
  // left_semi keeps only left columns and deduplicates matches.
  def joinSemi(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  // Q09 `join_anti` — NOT EXISTS: customers with no big order.
  def joinAnti(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  // Q10 `join_range_theta` — equi key + theta (range) residual:
  // lineitems priced above 55× the part's retail price. The equi
  // component keeps it a hash join with a non-equi filter residual
  // (at scale: no cartesian blowup). No pre-sort persist: it measured
  // slower here (SCALING.md "Operator cache lifecycle").
  def joinRangeTheta(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir),
        col("l_partkey") === col("p_partkey") &&
        col("l_extendedprice") > col("p_retailprice") * 55.0)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_extendedprice"), col("p_retailprice"))
      .orderBy(Tables.lineitemKey.map(col): _*)

  // Q11 `join_asof` — as-of join: each event matched to the latest order
  // of the same user placed on-or-before the event's time, shifted back
  // 26 years to overlay the events epoch (2024-01) onto the orders epoch
  // (1995-2001).
  //
  // Union-timeline plan (replaces the r1 inequality-join formulation,
  // whose events×order-history fan-out was quadratic per user): orders
  // and events union into ONE per-user timeline; a single shuffle+sort
  // on (user, time) and `last(order_key, ignoreNulls)` over the
  // running frame give each event the most recent order at or before
  // it. Linear in input, one exchange, no join at all. At equal
  // timestamps orders sort before events (kind 0 < 1 ⇒ inclusive
  // match) and among same-date orders the largest o_orderkey wins
  // (ascending sort, `last`) — matching the oracle's
  // ORDER BY o_orderdate DESC, o_orderkey DESC tie-break.
  def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      lit(null).cast("long").as("event_id"),
      col("o_custkey").as("uid"),
      col("o_orderdate").as("t"),
      col("o_orderkey").as("o_key"),
      lit(0).as("kind"))
    val e = Tables.events(spark, dir).select(
      col("event_id"),
      col("user_id").as("uid"),
      (col("ts") - expr("INTERVAL 26 YEARS")).as("t"),
      lit(null).cast("long").as("o_key"),
      lit(1).as("kind"))
    val w = Window.partitionBy("uid")
      .orderBy(col("t"), col("kind"), col("o_key"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.unionByName(e)
      .withColumn("matched", last(col("o_key"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"),
        coalesce(col("matched"), lit(-1L)).as("matched_order"))
      .transform(Caches.persist) // r20 pre-sort persist: see Caches.persist
      .orderBy("event_id")
  }

  // `join_asof_nearest` — the bidirectional completion of the as-of
  // family (join_asof = backward, join_asof_tolerance = forward with a
  // bound): each probe matches the CLOSEST order event in either
  // direction, ties broken backward — the sensor-fusion/market-data
  // "nearest quote" semantics. Same union-timeline formulation as
  // join_asof (never a row-pair join): ONE window sort per direction
  // over the merged stream — last non-null before, first non-null
  // after — then an integer-µs distance compare picks the side. Sort
  // keys are null-coalesced BECAUSE the two engines disagree on NULL
  // order (Spark NULLS FIRST, DuckDB NULLS LAST — the suite's standing
  // rule); all time arithmetic in exact integer microseconds.
  def joinAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      lit(null).cast("long").as("event_id"),
      col("o_custkey").as("uid"),
      col("o_orderdate").as("t"),
      col("o_orderkey").as("o_key"),
      // o_orderdate scans as TIMESTAMP_NTZ; the UTC session cast is
      // micro-identical to DuckDB's epoch_us on the naive value
      unix_micros(col("o_orderdate").cast("timestamp")).as("ot_us"),
      lit(0).as("kind"))
    val e = Tables.events(spark, dir).select(
      col("event_id"),
      col("user_id").as("uid"),
      (col("ts") - expr("INTERVAL 26 YEARS")).as("t"),
      lit(null).cast("long").as("o_key"),
      lit(null).cast("long").as("ot_us"),
      lit(1).as("kind"))
    val ord = Seq(col("t"), col("kind"),
      coalesce(col("o_key"), lit(-1L)), coalesce(col("event_id"), lit(-1L)))
    val wB = Window.partitionBy("uid").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("uid").orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val distB = unix_micros(col("t")) - col("bt")
    val distF = col("ft") - unix_micros(col("t"))
    o.unionByName(e)
      .withColumn("bk", last(col("o_key"), ignoreNulls = true).over(wB))
      .withColumn("bt", last(col("ot_us"), ignoreNulls = true).over(wB))
      .withColumn("fk", first(col("o_key"), ignoreNulls = true).over(wF))
      .withColumn("ft", first(col("ot_us"), ignoreNulls = true).over(wF))
      .filter(col("kind") === 1)
      .select(col("event_id"),
        coalesce(
          when(col("bk").isNull, col("fk"))
            .when(col("fk").isNull, col("bk"))
            .when(distF < distB, col("fk")).otherwise(col("bk")),
          lit(-1L)).as("matched_order"),
        coalesce(
          when(col("bk").isNull, distF)
            .when(col("fk").isNull, distB)
            .otherwise(least(distB, distF)),
          lit(-1L)).as("dist_us"))
      .transform(Caches.persist) // r20 pre-sort persist: see Caches.persist
      .orderBy("event_id")
  }

  // `join_salted` — TWO-PATH hot-key salting, the production
  // skew-mitigation join (VERDICT r16 item 4; replaces the r5 whole-
  // build-side ×S replication, whose 8× shuffle volume on a large
  // build side was the pattern's own scale-killer at 100 TB):
  //  1. a 1-pass sampled heavy-hitter histogram on the probe key picks
  //     the HotK most frequent keys (bounded driver list — the
  //     estimated-frequency shortlist a production job gets from a
  //     CMS/approx-top-k sketch over the same sample);
  //  2. HOT path: probe rows for hot keys spread across SALT sub-keys
  //     via a deterministic row hash; ONLY the ≤HotK-key build subset
  //     replicates ×SALT — replication volume is HotK·SALT·rows-per-
  //     key, independent of build-side size;
  //  3. COLD path: everything else takes the plain join untouched;
  //  4. union — identical to the plain join by construction (hot and
  //     cold key sets partition the key space; oracle = unsalted SQL).
  // At 100 TB this is the manual fallback when AQE's skew-join split
  // can't help (skew inside one key after a non-equi residual, or a
  // build side too large to split); when the hot build subset is
  // broadcast-sized the salt degenerates to a broadcast hot path —
  // trade-offs recorded in SCALING.md. The sampled histogram's content
  // does not affect RESULTS, only which path a key takes — salting is
  // pure plan surgery.
  def joinSalted(spark: SparkSession, dir: String): DataFrame = {
    val S = 8
    val HotK = 16
    val fact0 = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val dim0 = Tables.orders(spark, dir)
      .select("o_orderkey", "o_totalprice")
    // heavy-hitter histogram: one sampled single-column scan (filter +
    // projection pushed to parquet), top-HotK by sampled frequency —
    // a bounded driver list (the compact_files advisory pattern)
    val hotKeys: Array[Long] = fact0.sample(withReplacement = false,
        fraction = 0.02, seed = 42)
      .groupBy("l_orderkey").count()
      .orderBy(col("count").desc, col("l_orderkey"))
      .limit(HotK).collect().map(_.getLong(0))
    val isHotF = col("l_orderkey").isin(hotKeys.map(Long.box): _*)
    val isHotD = col("o_orderkey").isin(hotKeys.map(Long.box): _*)
    val hot = fact0.filter(isHotF)
      .withColumn("fsalt", pmod(hash(
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber")), lit(S)))
      .join(dim0.filter(isHotD)
          .select(col("o_orderkey"), col("o_totalprice"),
            explode(sequence(lit(0), lit(S - 1))).as("dsalt")),
        col("l_orderkey") === col("o_orderkey") &&
        col("fsalt") === col("dsalt"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("o_totalprice"))
    val cold = fact0.filter(!isHotF)
      .join(dim0.filter(!isHotD),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("o_totalprice"))
    hot.unionByName(cold)
      .orderBy(Tables.lineitemKey.map(col): _*)
  }

  // `join_bloom` — runtime BLOOM-FILTER pruned join: the selective
  // predicate lives on the small (creation) side, so a plain shuffle
  // join still ships EVERY probe-side row; Catalyst's InjectRuntimeFilter
  // builds a bloom filter over the filtered build keys as a subquery and
  // pushes might_contain(l_orderkey) into the probe scan — ~80% of
  // lineitem is dropped BEFORE the shuffle (DPP's row-level sibling for
  // tables not partitioned on the join key; scan_dpp covers the
  // partition-level case). At 100 TB this is the difference between
  // shuffling the full fact table and shuffling the 1/5th that can
  // possibly match.
  //
  // The injection thresholds are sized for clusters (application side
  // > 10 GB), so the function scopes them down, EAGERLY materializes
  // the join under the scoped conf (localCheckpoint — the conf must be
  // live at execution, not at declaration), then restores. The
  // checkpoint blocks are queued for release at the next harness
  // `Caches.releaseAll()` boundary — NOT on the next invocation, since
  // the returned frame escapes to the caller and an eagerly-released
  // checkpoint is unrecomputable (ADVICE r7). PlanSpec asserts
  // might_contain lands in the probe scan's plan; the oracle replays
  // the plain join in SQL (the bloom filter is correctness-neutral
  // plan surgery, like salting).
  def joinBloom(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.operators.Caches.registerCheckpoint(
      withBloomConf(spark) {
        joinBloomPlan(spark, dir).localCheckpoint()
      })
    out.orderBy("ship_year")
  }

  /** The un-checkpointed join (shared with PlanSpec, which asserts the
    * might_contain bloom probe appears when planned under
    * [[withBloomConf]]). */
  private[graft] def joinBloomPlan(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_shipdate", "l_extendedprice")
      .hint("merge")
      .join(urgent.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("l_shipdate")).as("ship_year"))
      .agg(count(lit(1)).as("n_rows"),
        // exact cents (r15 flip-class audit: ~7 year groups × a fifth
        // of lineitem each)
        round(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .cast("double") / 100, 4).as("revenue"))
  }

  /** Scoped runtime-bloom-filter confs: thresholds sized for this
    * local-mode data (the defaults gate on >10 GB application-side
    * scans), restored after `body` EXECUTES (not just declares) its
    * plan. Shared with PlanSpec's injection assertion. */
  private[graft] def withBloomConf[T](spark: SparkSession)(body: => T): T =
    graft.Session.withConfs(spark, Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "64MB",
      // InjectRuntimeFilter skips joins it expects to BROADCAST
      // (isProbablyShuffleJoin: either side under the broadcast
      // threshold → no bloom). At 100 TB neither side broadcasts; at
      // local sf the dim is tiny, so model the cluster condition by
      // disabling size-based broadcast inside the scope.
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))(body)

  // `cbo_reorder` — the cost-based optimizer end-to-end: managed
  // tables + ANALYZE TABLE statistics + spark.sql.cbo join reordering.
  // The query is written in the WORST syntactic order (orders, nation,
  // customer — orders and nation share no key, so naive left-deep
  // evaluation would start with a cartesian product); the optimizer
  // must recover the orders⋈customer⋈nation chain from the WHERE
  // conjuncts and the ANALYZE row counts. This is the suite's one key
  // whose POINT is the optimizer subsystem the others merely benefit
  // from: at 100 TB, CBO join order is the difference between shuffling
  // the fact table once and materializing an intermediate explosion.
  // PlanSpec pins no-cartesian AND that ANALYZE actually fed the
  // optimizer (rowCount statistics present on the managed tables).
  // Money in exact integer cents (the standing rule).
  def cboReorder(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.operators.Caches.registerCheckpoint(
      withCboConf(spark) {
        cboReorderPlan(spark, dir).localCheckpoint()
      })
    out.orderBy("n_name")
  }

  /** Managed-table names for [[cboReorder]], created + ANALYZEd once
    * per (JVM, sf dir) — repeated bench passes reuse them. */
  private[graft] def cboTables(spark: SparkSession, dir: String)
      : (String, String, String) = {
    val tag = graft.Util.pathTag(dir)
    val (cust, ord, nat) =
      (s"graft_cbo_customer_$tag", s"graft_cbo_orders_$tag",
        s"graft_cbo_nation_$tag")
    if (!spark.catalog.tableExists(cust)) {
      // the warehouse DIRECTORY outlives the in-memory catalog (a
      // previous JVM's tables): clear stale locations or the managed
      // CREATE fails with LOCATION_ALREADY_EXISTS
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(cust, ord, nat).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        fs.delete(new org.apache.hadoop.fs.Path(wh, t), true)
      }
      Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
        .write.mode("overwrite").saveAsTable(cust)
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").saveAsTable(ord)
      Tables.nation(spark, dir).select("n_nationkey", "n_name")
        .write.mode("overwrite").saveAsTable(nat)
      Seq(cust, ord, nat).foreach(t =>
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS"))
    }
    (cust, ord, nat)
  }

  private[graft] def cboReorderPlan(spark: SparkSession, dir: String)
      : DataFrame = {
    val (cust, ord, nat) = cboTables(spark, dir)
    spark.sql(
      s"""SELECT n.n_name, count(*) AS n_orders,
         |       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
         |            AS BIGINT) AS cents
         |FROM $ord o, $nat n, $cust c
         |WHERE o.o_custkey = c.c_custkey
         |  AND c.c_nationkey = n.n_nationkey
         |GROUP BY n.n_name""".stripMargin)
  }

  /** Scoped CBO confs (stats-fed join reorder), restored after `body`
    * EXECUTES its plan. Shared with PlanSpec's reorder assertion. */
  private[graft] def withCboConf[T](spark: SparkSession)(body: => T): T =
    graft.Session.withConfs(spark, Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true"))(body)

  // `sql_variables` — Spark 4 session variables + EXECUTE IMMEDIATE:
  // the dynamic-SQL/stored-procedure surface (DECLARE VARIABLE, SET
  // VAR from a scalar subquery, a string query executed with the
  // variable as a positional argument). The threshold is a PARTICULAR
  // row's 2-decimal double (order 1234's totalprice — mid-range, ~1/3
  // of orders above it at every sf) — exactly representable, so the
  // cross-engine `>` comparison can never flip on interpolation ulps
  // the way a computed percentile could.
  def sqlVariables(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("sv_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE sv_cut DOUBLE")
    spark.sql("SET VAR sv_cut = (SELECT o_totalprice " +
      "FROM sv_orders WHERE o_orderkey = 1234)")
    spark.sql(
      """EXECUTE IMMEDIATE
        |'SELECT o_orderpriority, count(*) AS n_top,
        |        CAST(min(round(o_totalprice * 100)) AS BIGINT) AS min_cents
        | FROM sv_orders WHERE o_totalprice > ?
        | GROUP BY o_orderpriority ORDER BY o_orderpriority'
        |USING sv_cut""".stripMargin)
  }

  // `sql_pipe` — Spark 4's SQL pipe syntax (SQL-standard-track `|>`,
  // the "SQL Has Problems" linear composition form): the same
  // relational algebra written as an ordered pipeline — FROM … |>
  // WHERE … |> EXTEND … |> AGGREGATE … GROUP BY … |> SELECT … |>
  // ORDER BY — the readability surface long analytics pipelines
  // (exactly this engine's audience) adopt first. The contract worth
  // declaring: pipe syntax is PARSER sugar, not a new executor — the
  // chain lowers to the identical Catalyst plan as the classic
  // nested-subquery formulation (PlanSpec pins the same pushed
  // filter / partial+final agg / no-join shape; RelationalSpec pins
  // row-level parity with the classic form), so every optimizer
  // right (pushdown through EXTEND, pruning) and every scale
  // property is inherited, never re-earned. Money in exact cents,
  // rendered once (the tpch_q1 rule).
  def sqlPipe(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("pipe_orders")
    spark.sql(
      """FROM pipe_orders
        ||> WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        ||> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        ||> AGGREGATE count(*) AS n_orders,
        |            CAST(sum(price_cents) AS BIGINT) AS cents
        |   GROUP BY o_orderpriority
        ||> SELECT o_orderpriority, n_orders,
        |          round(cents / 1e2, 2) AS revenue
        ||> ORDER BY o_orderpriority""".stripMargin)
  }

  // `join_band_bnlj` — banded classification via a PURE non-equi join
  // against a bounded dimension: every order lands in exactly one
  // price band ([lo, hi) intervals partitioning the domain). With no
  // equi component at all, a hash/sort-merge join is impossible — the
  // plan IS BroadcastNestedLoopJoin, and the declared point is that
  // here BNLJ is the RIGHT plan, not a failure: the build side is
  // O(1) rows (5 bands) broadcast once, the probe side STREAMS with
  // zero shuffle, and each row tests ≤5 predicates — O(N·k) with
  // k constant is a map-only pass at 100 TB. Contrast the suite's
  // other non-equi joins where BOTH sides are large and BNLJ would be
  // Ω(N·M): join_range_theta (equi component carries the hash),
  // join_interval_overlap / join_grid_2d (a manufactured grid key),
  // sim_topk (bounded probe side). The rule this key encodes:
  // bounded side ⇒ broadcast BNLJ; unbounded both sides ⇒ make a key.
  // PlanSpec pins BroadcastNestedLoopJoin + zero pre-agg exchanges;
  // band edges are exact 2-dec doubles vs exact 2-dec prices, so the
  // [lo, hi) boundary can never flip cross-engine; exact cents.
  def joinBandBnlj(spark: SparkSession, dir: String): DataFrame = {
    val bands = spark.createDataFrame(Seq(
      ("B1_micro", 0.0, 50000.0),
      ("B2_small", 50000.0, 100000.0),
      ("B3_mid", 100000.0, 200000.0),
      ("B4_large", 200000.0, 300000.0),
      ("B5_jumbo", 300000.0, 1.0e18)))
      .toDF("band", "lo", "hi")
    Tables.orders(spark, dir)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .select(col("band"), col("n_orders"),
        round(col("cents") / 1e2, 2).as("revenue"))
      .orderBy("band")
  }

  // Q106 `join_skew_aqe` — the AUTOMATIC counterpart of `join_salted`:
  // the same hot-key workload (90% of lineitem funnels into orderkey 0)
  // joined WITHOUT salting, handled by AQE's skew-join split
  // (`spark.sql.adaptive.skewJoin`): at runtime the oversized shuffle
  // partition is split into advisory-sized slices and the matching
  // build partition duplicated per slice — identical result, no manual
  // plan surgery. This is the knob a 100 TB user turns FIRST; salting
  // (Q55) remains the fallback for skew AQE can't see (e.g. inside a
  // non-equi residual). The skew thresholds default to cluster sizes
  // (256 MB), so the operator scopes them down to bench scale and
  // EAGERLY materializes under the scoped conf (the joinBloom pattern —
  // AQE decides at execution, not declaration). The oracle replays the
  // plain join in SQL: like salting and bloom pruning, the skew split
  // is correctness-neutral plan surgery — the green hash certifies
  // exactly that. PlanSpec asserts the split actually happens
  // (skew=true) under the same scoped conf.
  def joinSkewAqe(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.operators.Caches.registerCheckpoint(
      withSkewConf(spark) {
        joinSkewPlan(spark, dir).localCheckpoint()
      })
    out.orderBy("o_orderpriority")
  }

  /** The un-checkpointed skewed join (shared with PlanSpec's skew-split
    * assertion). The repartition below gives the join's shuffle >1
    * map task — AQE splits a skewed reduce partition at map-output
    * boundaries, so a single-file scan (one map) is unsplittable. The
    * 8 is a FLOOR, not a count: max(8, input partitions) never reduces
    * the parallelism a large scan already has (a literal k here would
    * funnel a 100-partition input through k tasks — the fixed-k cliff
    * the r9 decade rehearsal measured on layout_zorder). */
  private[graft] def joinSkewPlan(spark: SparkSession, dir: String): DataFrame = {
    val scan = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val fact = scan
      .repartition(math.max(8, scan.rdd.getNumPartitions))
      .select(
        when(pmod(col("l_orderkey"), lit(100)) < 90, lit(0L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_extendedprice"))
    fact.join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("k") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        // the hot group sums ~90% of lineitem into one double (~3e10 at
        // sf0.1), where ulp ≈ 4e-6 makes round(·,4) flip on summation
        // order — report millions so the rounding sits far above ulp
        round(sum(col("l_extendedprice")) / 1000000.0, 4).as("revenue_m"))
  }

  /** Scoped AQE skew-join confs sized for local bench data (defaults
    * gate on 256 MB partitions), restored after `body` EXECUTES its
    * plan. Broadcast is disabled inside the scope: skew handling
    * applies to shuffle joins — the tiny local dim would otherwise
    * broadcast and dissolve the demonstration (at 100 TB neither side
    * broadcasts). */
  private[graft] def withSkewConf[T](spark: SparkSession)(body: => T): T =
    graft.Session.withConfs(spark, Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))(body)

  // Q12 `agg_group` — TPC-H Q1 shape: grouped sum/avg/min/max/count with
  // automatic partial+final aggregation (reference analogue: the scalar
  // accumulator, TpchQuery6.java:21,32 — generalized to grouped).
  //
  // Money sums are EXACT-INTEGER (r15, caught by the full-census
  // mult-10 sweep): at 6M rows sum_disc_price reaches 4.8·10¹⁰ where
  // ulp ≈ 8·10⁻⁶ — a float sum's 4th decimal is summation-order noise
  // and round(·,4) flipped between engines. l_extendedprice is 2-dp
  // and l_discount 2-dp by fixture, so cents × (100−pct) is an exact
  // BIGINT surface; the renders are identity divisions (integer/10^k,
  // k ≤ round digits — the proven cross-engine-safe class).
  def aggGroup(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val dpct = round(col("l_discount") * 100).cast("long")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(cents).cast("double") / 100, 4).as("sum_base_price"),
        round(sum(cents * (lit(100L) - dpct)).cast("double") / 10000, 4)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(sum(cents).cast("double") / 100 / count(lit(1)), 4)
          .as("avg_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // Q13 `agg_distinct` — exact distinct aggregation (expands to a
  // two-phase aggregate in Spark; scales via the shuffle on the group key
  // + distinct key).
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  // `join_temporal` — point-in-time join against a VERSIONED dimension
  // (the SCD2 lookup every feature store and lineage backfill runs:
  // "which status was valid when this event happened?"): each event
  // matches the dimension row whose [valid_from, valid_to) interval
  // contains its timestamp. The dimension is Q100's scd2_history built
  // from the same log, whose intervals PARTITION each user's timeline
  // from the first event to the 2100 sentinel — so every event matches
  // EXACTLY one version (EventAnalyticsSpec pins rows == events).
  //
  // Distinct from Q11's as-of join in mechanics and shape: as-of
  // needs no dimension (union timeline, zero joins); temporal probes a
  // maintained interval table. The equi component (user_id) keeps it a
  // hash/sort-merge join — the interval predicate is a RESIDUAL
  // evaluated per co-partitioned user, never a cartesian. At 100 TB
  // the dimension is changes-only (orders of magnitude smaller than
  // the log), bucketed on the same user key as the event stream, so
  // the probe co-locates; per-user cost is that user's
  // intervals × events, both bounded.
  def joinTemporal(spark: SparkSession, dir: String): DataFrame = {
    val dim = EventAnalytics.scd2History(spark, dir)
      .select(col("user_id").as("d_user"), col("status"),
        col("valid_from"), col("valid_to"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .join(dim, col("user_id") === col("d_user") &&
        col("ts") >= col("valid_from") && col("ts") < col("valid_to"))
      .select(col("user_id"), col("ts"), col("event_id"), col("status"))
      .transform(Caches.persist) // r20 pre-sort persist: see Caches.persist
      .orderBy("user_id", "ts", "event_id")
  }

  // `join_full_outer` — the one classic join type the family above
  // lacked (VERDICT r9 item 2): null-extension on BOTH sides. The two
  // inputs deliberately overlap only partially — customers in segment
  // AUTOMOBILE vs orders above a price floor — so all three row
  // classes appear: matched, left-only (customer with no qualifying
  // order), right-only (qualifying order whose customer is in another
  // segment). Nullable keys from either side are coalesced to
  // sentinels so the terminal ORDER BY is total and engine-agnostic
  // (Spark sorts NULLS FIRST, DuckDB LAST — same rule as Q07). A
  // null_rank column classifies the row (0 matched / 1 left-only /
  // 2 right-only) and participates in the sort, pinning the
  // null-extension semantics into the hash. At scale this is a plain
  // shuffled sort-merge join on the key — FullOuter cannot broadcast
  // (both sides must null-extend, so neither side may be replicated);
  // PlanSpec asserts SortMergeJoin FullOuter is what Catalyst picks.
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey"), col("c_name"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_totalprice") > 350000.0)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), lit(-1L)).as("cust"),
        coalesce(col("o_orderkey"), lit(-1L)).as("order_key"),
        (when(col("c_custkey").isNull, lit(2))
          .when(col("o_orderkey").isNull, lit(1))
          .otherwise(lit(0))).as("null_rank"),
        coalesce(col("o_totalprice"), lit(0.0)).as("price"))
      .orderBy("null_rank", "cust", "order_key")

  // `subquery_correlated` — correlated scalar subquery + correlated
  // EXISTS, written AS SUBQUERIES (SQL entry path) precisely so
  // Catalyst's decorrelation fires (VERDICT r9 item 3; SURVEY.md §4
  // cites RewriteCorrelatedScalarSubquery): each order is compared to
  // ITS customer's average order value — the per-row re-aggregation a
  // naive engine would execute as one subquery per outer row (O(N²)
  // scans). Catalyst rewrites the scalar subquery into ONE grouped
  // aggregate over orders joined back on the correlation key, and the
  // EXISTS into a semi-join — both shuffled hash/SMJ on o_custkey,
  // never a CartesianProduct (PlanSpec asserts both properties).
  // The avg is referenced by SELECT and WHERE, so it is hoisted into
  // a single correlated subquery in a derived table and consumed
  // twice OUTSIDE — Spark's MergeScalarSubqueries does not merge
  // CORRELATED subqueries (measured: the two-subquery form plans TWO
  // aggregate joins), so single-evaluation is the author's job here.
  // At 100 TB this is the decorrelation contract that makes
  // correlated SQL usable at all — per-customer groups are bounded,
  // the aggregate is partial+final, and the join co-partitions with
  // the probe.
  // Numerics: all arithmetic in EXACT integer cents. A raw-double
  // avg is summation-order-dependent, and a rounded delta whose true
  // decimal sits exactly on a half boundary (possible here: prices are
  // 2-dp, so delta is a small-denominator rational) hits the one case
  // where Spark's BigDecimal HALF_UP and DuckDB's scaled-nearbyint
  // round() DISAGREE (observed: 215781.1987 vs .1988). Integer cents
  // sum exactly in any order (< 2^53, every partial sum is an exact
  // double), avg = exact_sum / n is the identical double in both
  // engines, and floor() is deterministic because a non-integer
  // quotient is ≥ 1/n from the boundary — no rounding anywhere.
  def subqueryCorrelated(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("sq_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("sq_customer")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       cents - CAST(floor(avg_cents) AS BIGINT)
        |         AS delta_vs_cust_avg_cents
        |FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |         (SELECT avg(CAST(round(o2.o_totalprice * 100) AS BIGINT))
        |          FROM sq_orders o2
        |          WHERE o2.o_custkey = o.o_custkey) AS avg_cents
        |  FROM sq_orders o
        |  WHERE EXISTS (SELECT 1 FROM sq_customer c
        |                WHERE c.c_custkey = o.o_custkey
        |                  AND c.c_acctbal > 0.0)
        |) WHERE cents > 1.5 * avg_cents
        |ORDER BY o_orderkey""".stripMargin)
  }

  // `join_lateral` — correlated LATERAL derived table with ORDER BY +
  // LIMIT: "top-2 orders per customer" expressed the way an analyst
  // writes it. A naive engine re-executes the inner query per outer row
  // (O(N) scans of orders); Catalyst decorrelates the LIMIT via a
  // row_number window over the correlation key — the plan is ONE
  // shuffle of orders on o_custkey, a per-key rank, and a hash join
  // back to the probe slice. That rewrite is what makes per-entity
  // top-k affordable at 100 TB: work is one sort-within-key pass, and
  // the window partition (a customer's orders) is bounded. The modulo
  // slice keeps output scale-invariant; INNER lateral semantics drop
  // order-less customers in both engines.
  def joinLateral(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("lat_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("lat_orders")
    spark.sql(
      """SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
        |FROM lat_customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice
        |         FROM lat_orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey
        |         LIMIT 2) t
        |WHERE c.c_custkey % 10 = 0
        |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)
  }

  // `sql_params` — parameterized SQL with NAMED parameter markers
  // (spark.sql(text, args) — the injection-safe templating surface,
  // Spark 3.4+): `:name` markers bind TYPED literal values at parse
  // time, so user input never concatenates into SQL text (the
  // template-injection class disappears) and the PLAN is identical to
  // the literal query — parameters fold as literals, filters still
  // push to the scan, partition pruning still sees constants. The
  // oracle inlines the same values as literals: a green hash proves
  // binding is semantically invisible. Three parameter types bound in
  // one query (string, double, int) across filter + projection
  // positions.
  def sqlParams(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("prm_orders")
    spark.sql(
      """SELECT o_orderkey, o_orderpriority,
        |       round(o_totalprice * :taxRate, 4) AS taxed,
        |       :label AS bucket
        |FROM prm_orders
        |WHERE o_orderpriority = :prio
        |  AND o_totalprice > :floorPrice
        |  AND o_orderkey % :stride = 0
        |ORDER BY o_orderkey""".stripMargin,
      Map("prio" -> "1-URGENT", "floorPrice" -> 150000.0,
        "stride" -> 10, "taxRate" -> 1.07, "label" -> "hi"))
  }

  // `join_asof_tolerance` — FORWARD as-of join with a tolerance bound
  // (the pandas merge_asof(direction='forward', tolerance=...) surface,
  // and the LABELING join of every event-outcome pipeline: "did an
  // order follow this event within 7 days" — the target-attachment
  // step before any conversion model trains). Same join-free
  // union-timeline formulation as join_asof, mirrored: one (uid)-keyed
  // sort, a FOLLOWING-frame first(ignoreNulls) picks the next order at
  // or after each event (events sort before same-instant orders, so
  // same-day matches count), and the tolerance check voids matches
  // beyond the horizon — crucially AFTER the pick, so "no match within
  // 7 days" and "match exists but later" both land on the sentinel
  // exactly like the oracle's bounded-subquery reading. Never a
  // non-equi range join (O(N·M) worst case): one exchange, one sort,
  // linear scan per user timeline.
  def joinAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val tolUs = 7L * 86400L * 1000000L
    val o = Tables.orders(spark, dir).select(
      lit(null).cast("long").as("event_id"),
      col("o_custkey").as("uid"),
      col("o_orderdate").as("t"),
      col("o_orderkey").as("o_key"),
      lit(1).as("kind"))
    val e = Tables.events(spark, dir).select(
      col("event_id"),
      col("user_id").as("uid"),
      (col("ts") - expr("INTERVAL 26 YEARS")).as("t"),
      lit(null).cast("long").as("o_key"),
      lit(0).as("kind"))
    val w = Window.partitionBy("uid")
      .orderBy(col("t"), col("kind"), col("o_key"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    o.unionByName(e)
      .withColumn("next_key", first(col("o_key"), ignoreNulls = true).over(w))
      .withColumn("next_t_us",
        first(when(col("kind") === 1, unix_micros(col("t"))),
          ignoreNulls = true).over(w))
      .filter(col("kind") === 0)
      .select(col("event_id"),
        coalesce(
          when(col("next_t_us") - unix_micros(col("t")) <= tolUs,
            col("next_key")),
          lit(-1L)).as("next_order"))
      .transform(Caches.persist)
      .orderBy("event_id")
  }

  // `sql_recursive_cte` — WITH RECURSIVE (Spark 4.0's headline SQL
  // addition): iterative queries — hierarchy walks, transitive closure,
  // graph reachability — expressed IN SQL and executed by the engine's
  // own fixpoint loop, where pre-4.0 Spark forced either unrolled CTE
  // chains (graph_pagerank's oracle) or driver-side iteration
  // (graph_shortest_path's frontier loop). Each recursion step is a
  // distributed join/filter over the previous step's output; the
  // engine iterates to fixpoint with a safety cap (default 100 — a
  // cycle in the edge relation otherwise never terminates; this walk
  // provably halves to 0 in ≤ ⌈log2 maxkey⌉ ≈ 15 steps). The walk:
  // every 97th part climbs its implicit binary-tree ancestry
  // (parent = key DIV 2), emitting depth + ancestor-label sum —
  // per-seed state stays one row per step, so the working set is
  // |seeds| × steps, never the table. DuckDB runs the identical
  // recursion (its // is Spark's DIV).
  def sqlRecursiveCte(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("rc_part")
    spark.sql(
      """WITH RECURSIVE anc(node, cur, d) AS (
        |  SELECT p_partkey, p_partkey, CAST(0 AS BIGINT)
        |  FROM rc_part WHERE p_partkey % 97 = 0
        |  UNION ALL
        |  SELECT node, cur DIV 2, d + 1 FROM anc WHERE cur > 0
        |)
        |SELECT node, max(d) AS depth, sum(cur) AS path_sum
        |FROM anc
        |GROUP BY node
        |ORDER BY node""".stripMargin)
  }

  // `join_null_aware` — NOT IN (subquery) under SQL three-valued logic,
  // and the physical operator Spark plans for it. `x NOT IN (set)` is
  // FALSE when x matches, UNKNOWN (→ row dropped) when the set contains
  // any NULL and x doesn't match — so one NULL in the subquery silently
  // empties the whole result, the classic NOT-IN trap every migration
  // from EXISTS-based SQL hits. A naive engine evaluates this with a
  // nested loop (the match predicate is non-equi once null-intolerance
  // is folded in, O(N·M)); Spark's optimizeNullAwareAntiJoin rewrite
  // keeps the O(N+M) hash shape: a BroadcastHashJoin LeftAnti with
  // isNullAwareAntiJoin=true that short-circuits to empty output the
  // moment the build side holds a null (PlanSpec pins the NAAJ plan —
  // BuildRight + the null-aware flag — and that no nested loop
  // appears). Both variants run over the same orders log: the clean
  // subquery is null-free (rows survive); the poisoned one injects one
  // NULL (c_custkey 100 folds to NULL at every SF) and must yield 0.
  // Scale: the subquery side is a filtered dimension (broadcast-sized
  // by construction — NAAJ exists only for broadcast builds); the
  // orders side streams map-side with no shuffle.
  def joinNullAware(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("naaj_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("naaj_customer")
    spark.sql(
      """SELECT 'clean' AS variant, count(*) AS n_orders
        |FROM naaj_orders
        |WHERE o_custkey NOT IN
        |  (SELECT c_custkey FROM naaj_customer
        |   WHERE c_mktsegment = 'BUILDING')
        |UNION ALL
        |SELECT 'poisoned' AS variant, count(*) AS n_orders
        |FROM naaj_orders
        |WHERE o_custkey NOT IN
        |  (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL
        |               ELSE c_custkey END
        |   FROM naaj_customer
        |   WHERE c_mktsegment = 'BUILDING' OR c_custkey % 100 = 0)
        |ORDER BY variant""".stripMargin)
  }

  // `join_interval_overlap` — interval-overlap join via grid
  // bucketing, the scalable formulation of "which sessions overlap
  // which incident windows". There is NO natural equi key: the match
  // condition is a_s < b_e AND b_s < a_e, and Spark's only native
  // plan for that is a broadcast nested-loop / cartesian theta join —
  // quadratic, and the broadcast side won't fit at 100 TB. The grid
  // trick MANUFACTURES the equi key: discretize time into fixed cells
  // (1 h here), explode each interval onto every cell it touches
  // (bounded: a 10-min interval touches ≤ 2 cells, so the explode is
  // a ≤2× row multiplier, never a blow-up), hash-join on the cell,
  // then verify the exact overlap predicate and `distinct` away the
  // duplicate hit a pair scores when it meets in two cells. One
  // equi-shuffle on cell; per-cell work is (local A density × local B
  // density), linear for bounded interval lengths and stationary
  // arrival rates. A hot hour is ordinary join skew — AQE skew split
  // or a finer grid are the levers, never a coarser algorithm. All
  // time arithmetic in exact integer microseconds (unix_micros ↔
  // DuckDB epoch_us, the established cross-engine-exact pattern);
  // intervals are half-open [s, e), so boundary touches don't match
  // and every emitted overlap is strictly positive. The inclusive
  // `e div cell` end cell over-covers exactly when e sits on a cell
  // boundary — a few extra candidates the exact predicate rejects,
  // never a miss.
  def joinIntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def side(mod: Int, lenUs: Long, id: String) =
      ev.filter(pmod(col("user_id"), lit(mod)) === 0)
        .select(col("event_id").as(s"${id}_id"),
          unix_micros(col("ts")).as(s"${id}_s"))
        .withColumn(s"${id}_e", col(s"${id}_s") + lit(lenUs))
    val cellUs = 3600000000L // 1-hour grid
    val aC = side(20, 600000000L, "a").withColumn("cell",
      explode(sequence(expr(s"a_s div $cellUs"), expr(s"a_e div $cellUs"))))
    val bC = side(31, 900000000L, "b").withColumn("cell",
      explode(sequence(expr(s"b_s div $cellUs"), expr(s"b_e div $cellUs"))))
    aC.join(bC, "cell")
      .filter(col("a_s") < col("b_e") && col("b_s") < col("a_e"))
      .select(col("a_id"), col("b_id"),
        (least(col("a_e"), col("b_e")) -
          greatest(col("a_s"), col("b_s"))).as("ovl_us"))
      .distinct()
      .orderBy("a_id", "b_id")
  }

  // `tpch_q3` — TPC-H Q3 (shipping priority), the canonical composed
  // select-join-aggregate-topk: customer(segment filter) ⋈ orders(date
  // filter) ⋈ lineitem(date filter) → per-order revenue → top 10 by
  // revenue. Complements the reference's Q6 (its only query) with the
  // next classic shape up: two equi-joins feeding a grouped aggregate
  // feeding TakeOrderedAndProject. Scale: both filters push into the
  // scans; customer is broadcast at bench sf (AQE decides at real
  // scale); the aggregate is map-side partial on l_orderkey, and the
  // top-10 never sorts the full group output. Money in exact integer
  // micro-units — sums are order-independent BIGINTs, one render at
  // the end (the suite's established pattern). o_orderpriority stands
  // in for o_shippriority (fixture has no shippriority column).
  def tpchQ3(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val micro =
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)")
    Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < cutoff)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > cutoff)
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(micro).as("rev_micro"))
      .select(col("l_orderkey"),
        round(col("rev_micro") / 1e6, 4).as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  // `join_grid_2d` — 2-D spatial radius join via grid bucketing: the
  // 2-D generalization of join_interval_overlap's manufacture-an-equi-
  // key move. Points land in r-sized grid cells; the probe side
  // explodes to its own cell plus the 8 neighbors, the equi-join on
  // (cx, cy) produces only nearby candidates, and the exact integer
  // distance predicate keeps true hits. Never all-pairs: candidate
  // volume is |A|·9·(avg cell occupancy of B), so it scales with
  // density × area, not |A|·|B| — the standard geospatial/collision
  // pattern (uniform grid spatial hashing). All coordinates and the
  // squared distance are exact integers, so the oracle can BRUTE-FORCE
  // the same radius predicate over A×B — it independently certifies
  // the grid join's COMPLETENESS (no near pair escapes its 3×3
  // neighborhood), not just a replay of the same algorithm.
  def joinGrid2d(spark: SparkSession, dir: String): DataFrame = {
    val r = 150L
    def pts(mod: Int, mx: Long, my: Long, p: String) =
      Tables.events(spark, dir)
        .filter(pmod(col("event_id"), lit(mod)) === 0)
        .select(col("event_id").as(s"${p}_id"),
          pmod(col("event_id") * mx, lit(10000L)).as(s"${p}_x"),
          pmod(col("event_id") * my, lit(10000L)).as(s"${p}_y"))
    val a = pts(17, 7919L, 104729L, "a")
      .withColumn("gx", expr(s"a_x div $r"))
      .withColumn("gy", expr(s"a_y div $r"))
      .withColumn("cx", explode(array(col("gx") - 1, col("gx"), col("gx") + 1)))
      .withColumn("cy", explode(array(col("gy") - 1, col("gy"), col("gy") + 1)))
    val b = pts(13, 3571L, 9973L, "b")
      .withColumn("cx", expr(s"b_x div $r"))
      .withColumn("cy", expr(s"b_y div $r"))
    val d2 = (col("a_x") - col("b_x")) * (col("a_x") - col("b_x")) +
      (col("a_y") - col("b_y")) * (col("a_y") - col("b_y"))
    a.join(b, Seq("cx", "cy"))
      .filter(d2 <= lit(r * r))
      .select(col("a_id"), col("b_id"), d2.as("dist_sq"))
      .orderBy("a_id", "b_id")
  }

  // `tpch_q18` — TPC-H Q18 (large-volume customer): a HAVING-filtered
  // aggregate over the fact table driving a semi-join back through
  // orders ⋈ customer. The interesting scale property: the heavy
  // side (lineitem) is aggregated FIRST — only (orderkey, sum_qty)
  // survivors shuffle into the join, so the join input is orders-sized,
  // not lineitem-sized. Quantity is integral in TPC-H → BIGINT-exact
  // sums; totalprice rendered from exact cents.
  def tpchQ18(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 200)
    Tables.orders(spark, dir)
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"),
        round(expr("CAST(round(o_totalprice * 100) AS BIGINT)") / 1e2, 2)
          .as("o_totalprice"),
        col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  // `tpch_q1` — TPC-H Q1 (pricing summary report), the canonical
  // wide-aggregate scan: one pass over lineitem computing eight
  // aggregates across four expression families (qty, base price,
  // discounted price, discounted+taxed charge) per (returnflag,
  // linestatus). The scale story is the purest in TPC-H: a single
  // map-side-partial hash aggregate onto a ~6-row key space — the
  // shuffle carries 6 rows of partial state per task regardless of
  // input size, so the query is scan-bound at any scale. Money in
  // exact integer units (cents for 2dp terms, micro-units for the
  // 4dp and 6dp products — price·(1−disc)·(1+tax) has at most 6
  // decimal places, so round(·×1e6) is exact): BIGINT sums are
  // order-independent, every average renders once from exact sums,
  // no summation-order drift. Filter pushes to the parquet scan.
  def tpchQ1(spark: SparkSession, dir: String): DataFrame = {
    val priceCents = expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    val discMicro =
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)")
    val chargeMicro = expr(
      "CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1e6) AS BIGINT)")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(priceCents).as("price_cents"),
        sum(discMicro).as("disc_micro"),
        sum(chargeMicro).as("charge_micro"),
        sum(expr("CAST(round(l_discount * 100) AS BIGINT)")).as("dpct_cents"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        round(col("price_cents") / 1e2, 2).as("sum_base_price"),
        round(col("disc_micro") / 1e6, 4).as("sum_disc_price"),
        round(col("charge_micro") / 1e6, 4).as("sum_charge"),
        round(col("sum_qty") / col("count_order").cast("double"), 4)
          .as("avg_qty"),
        round(col("price_cents") / 1e2 / col("count_order"), 4)
          .as("avg_price"),
        round(col("dpct_cents") / 1e2 / col("count_order"), 4).as("avg_disc"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // `tpch_q5` — TPC-H Q5 (local-supplier volume): the six-table join
  // chain customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region
  // with the co-location predicate c_nationkey = s_nationkey, revenue
  // per nation for one region-year. The widest join tree in the suite,
  // and the canonical star-schema scale test: the fact table
  // (lineitem) should be joined against BROADCAST dimensions — region
  // (5 rows), nation (25), supplier — while only the fact-sized
  // streams shuffle. The date filter pushes into the orders scan and
  // prunes before any join; the region filter prunes nation to one
  // region's worth before supplier ever joins. The co-location
  // predicate is an ordinary equi condition folded into the customer
  // join (join on custkey AND nationkey-equality after both sides
  // carry a nationkey), not a post-filter over a wider product.
  // Money in exact integer micro-units (order-independent BIGINT
  // sums, one render at the end — the suite pattern).
  def tpchQ5(spark: SparkSession, dir: String): DataFrame = {
    val micro =
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)")
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val asiaNations = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_nationkey"), col("n_name"))
    val sup = Tables.supplier(spark, dir)
      .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(sum(micro).as("rev_micro"))
      .select(col("n_name"),
        round(col("rev_micro") / 1e6, 4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // `skyline_2d` — Pareto frontier (skyline) of a 2-D point set
  // (Börzsönyi et al.'s skyline operator, ICDE 2001): keep every
  // point not dominated by another (q dominates p when q.x <= p.x,
  // q.y <= p.y, and q is strictly smaller in at least one coordinate
  // — both coordinates minimized). The naive formulation is the
  // O(N²) NOT EXISTS self-join; the scalable one exploits the
  // skyline's distributivity — skyline(S) = skyline of the union of
  // per-bucket survivors — to prune in parallel BEFORE any global
  // order:
  //  1. bucket points by x range; per-bucket min y is a partial
  //     aggregate onto a BOUNDED key space (one tiny shuffle);
  //  2. the running min of bucket minima over strictly-earlier
  //     buckets is a window over ~100 rows — scalar-sized work;
  //  3. prune: p can only be on the frontier if its y beats every
  //     point in every earlier bucket (any such point has strictly
  //     smaller x, so y_p >= that min ⇒ dominated) — a broadcast
  //     join + map-side filter that kills the bulk of the data;
  //  4. the exact sort-scan (min-y-per-x column + strict prefix min
  //     over smaller x) runs over SURVIVORS ONLY — the global range
  //     window is single-partition by nature, but it now sorts the
  //     candidate frontier (≈ the staircase, typically O(log N) for
  //     random data), never the corpus.
  // The same oracle philosophy as join_grid_2d: DuckDB brute-forces
  // the dominance NOT EXISTS over all pairs, so a green hash
  // certifies the prune+scan's COMPLETENESS (no frontier point
  // dropped, no dominated point kept) against an independent
  // quadratic definition, not a replay. Points are exact integers
  // manufactured from event_id by multiplicative hashing (the
  // join_grid_2d generator family), so dominance comparisons are
  // exact in both engines.
  def skyline2d(spark: SparkSession, dir: String): DataFrame = {
    // ANTI-correlated coordinates (y falls as x rises, plus hash
    // noise): uniform-random points have near-degenerate skylines
    // (one lucky corner point dominates everything — measured 1 row
    // at sf0.01), while anti-correlation is the standard hard case in
    // the skyline literature and yields a real staircase (66 points
    // at sf0.01, 601 at sf0.1)
    val pts = Tables.events(spark, dir)
      .filter(pmod(col("event_id"), lit(17)) === 0)
      .select(pmod(col("event_id") * 7919L, lit(10000L)).as("x"),
        col("event_id"))
      .select(col("x"),
        ((lit(9999L) - col("x")) +
          pmod(col("event_id") * 104729L, lit(1000L))).as("y"))
      .distinct()
      .withColumn("bkt", expr("x div 100")) // integer div: ≤ 100 buckets
    // per-bucket minima, then the strict-prefix running min over the
    // bounded bucket axis (window over ≤ 100 rows)
    val bktPrefix = Window.orderBy("bkt")
      .rangeBetween(Window.unboundedPreceding, -1)
    val bounds = pts.groupBy("bkt").agg(min(col("y")).as("bmin"))
      .withColumn("prune_y", min(col("bmin")).over(bktPrefix))
    val candidates = pts
      .join(broadcast(bounds.select(col("bkt"), col("prune_y"))), Seq("bkt"))
      .filter(col("prune_y").isNull || col("y") < col("prune_y"))
    val perX = Window.partitionBy("x")
    // strictly-smaller x only: RANGE frame ending 1 before the current
    // x value (integer coordinates make the -1 bound exact)
    val prefix = Window.orderBy("x")
      .rangeBetween(Window.unboundedPreceding, -1)
    candidates
      .withColumn("min_y_at_x", min(col("y")).over(perX))
      .withColumn("min_y_before", min(col("y")).over(prefix))
      .filter(col("y") === col("min_y_at_x") &&
        (col("min_y_before").isNull || col("y") < col("min_y_before")))
      .select("x", "y")
      .orderBy("x")
  }

  // `tpch_q7` — TPC-H Q7 (volume shipping): bilateral trade volume
  // between two nations by shipment year. The join tree is
  // supplier ⋈ lineitem ⋈ orders ⋈ customer with BOTH endpoints
  // nation-resolved, keeping only the two (supp_nation, cust_nation)
  // orderings of the pair. Scale shape: the two-nation filter prunes
  // supplier to 2/25 of a dimension BEFORE the fact join (broadcast),
  // and the customer side carries its nation name through an equally
  // pruned broadcast — so of the three joins only the two fact-sized
  // ones (lineitem⋈orders on orderkey, orders⋈customer on custkey)
  // shuffle, and the disjunction over nation pairs is a map-side
  // filter on two already-joined small columns, never a cross
  // product. Group-by lands on a 2×years key space — partial agg
  // ships a handful of rows per task at any scale. Money in exact
  // integer micro-units (order-independent BIGINT sums), year from
  // l_shipdate — both spelled identically in the oracle.
  def tpchQ7(spark: SparkSession, dir: String): DataFrame = {
    val micro =
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)")
    val n1 = lit("NATION_1")
    val n2 = lit("NATION_2")
    val nations = Tables.nation(spark, dir)
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === n1 && col("cust_nation") === n2) ||
        (col("supp_nation") === n2 && col("cust_nation") === n1))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(micro).as("rev_micro"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        round(col("rev_micro") / 1e6, 4).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  // `tpch_q8` — TPC-H Q8 (national market share): of all ASIA-market
  // order volume in one product type over two years, what fraction
  // was supplied by NATION_7, by order year. The canonical
  // numerator/denominator conditional-aggregate shape: ONE pass
  // computes both sums — sum(CASE supplier-nation THEN vol END) and
  // sum(vol) — so the share needs no self-join and no second scan.
  // Scale shape: part is filtered to one type BEFORE its join
  // (broadcast after the filter — dimension-sized); the ASIA market
  // restriction prunes customers via a nation⋈region broadcast chain
  // before the orders join; supplier resolves through a 100-row
  // broadcast. Only lineitem⋈orders and orders⋈customer shuffle.
  // Exact integer micro-unit sums; the share is ONE double division
  // at render (deterministic — both operands exact), emitted as
  // floor(x·1e6) — an integer render, because round() on a
  // non-power-of-ten quotient can halfway-flip cross-engine even on
  // identical doubles (Spark HALF_UP vs DuckDB binary round — the
  // embed_rp lesson), while floor of identical doubles is identical.
  def tpchQ8(spark: SparkSession, dir: String): DataFrame = {
    val micro =
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)")
    val asiaCust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .join(Tables.region(spark, dir),
            col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA")
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val supNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_type") === "STANDARD").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_7", micro)
          .otherwise(lit(0L))).as("nation_micro"),
        sum(micro).as("total_micro"))
      .select(col("o_year"),
        floor(lit(1e6) * col("nation_micro").cast("double") /
          col("total_micro").cast("double")).cast("long")
          .as("mkt_share_x1e6"))
      .orderBy("o_year")
  }

  // `tpch_q10` — TPC-H Q10 (returned-item reporting): the 20
  // customers who returned the most revenue in one quarter. The
  // top-k-over-aggregate shape: group lineitem(l_returnflag='R') ⋈
  // orders(one quarter) ⋈ customer ⋈ nation by customer, then
  // orderBy(revenue desc).limit(20) — which Catalyst executes as
  // TakeOrderedAndProject (per-partition top-20 heaps, 20 rows per
  // task to the driver), NEVER a global sort. Scale shape: the
  // quarter filter prunes orders at the scan; the returnflag filter
  // prunes lineitem at the scan; nation broadcasts; the only
  // fact-sized shuffles are the two key joins and the custkey
  // aggregate. Revenue in exact integer micro-units makes the
  // top-20 cut deterministic (no float tie ambiguity); c_custkey
  // breaks exact revenue ties identically in both engines.
  def tpchQ10(spark: SparkSession, dir: String): DataFrame = {
    val micro =
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)")
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(sum(micro).as("rev_micro"))
      .select(col("c_custkey"), col("c_name"),
        round(col("rev_micro") / 1e6, 4).as("revenue"),
        round(expr("CAST(round(c_acctbal * 100) AS BIGINT)") / 1e2, 2)
          .as("c_acctbal"),
        col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  // `tpch_q13` — TPC-H Q13 (customer order distribution): histogram
  // of customers by how many orders they placed, INCLUDING the
  // zero-order customers — the reason the join must be a LEFT OUTER
  // from customer (an inner join silently drops the c_count=0 bucket,
  // the classic Q13 bug). Adaptation documented: the fixture orders
  // table carries no o_comment column, so the spec's
  // NOT-LIKE-'%special%requests%' comment filter has no analogue and
  // the distribution is over ALL orders; the operator shape (left
  // outer → per-customer count → count-of-counts) is Q13's.
  // Scale shape: two hash aggregates, each with map-side partials —
  // the first onto |customers| keys (the one fact-sized shuffle),
  // the second onto a ~dozen-row c_count space; the final sort is
  // over the histogram, not the data. count(o_orderkey) (not
  // count(*)) makes the outer-join null rows count 0 in both engines.
  def tpchQ13(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  // `tpch_q14` — TPC-H Q14 (promotion effect): what percentage of
  // one month's revenue came from promotional parts. Same
  // numerator/denominator single-pass CASE-aggregate as tpch_q8,
  // reduced to ONE output row — the whole month's revenue collapses
  // to two BIGINT partials per task, so the shuffle after the join
  // carries a handful of rows regardless of scale. The month filter
  // prunes lineitem at the scan; part joins broadcast (filter-free
  // here — the CASE needs both promo and non-promo rows, so the
  // prune that q8 applies to part is deliberately absent and the
  // dimension ships whole). LIKE 'PROMO%' spelled identically in
  // both engines; one double division at render, emitted as
  // floor(x·1e4) — the integer render that dodges round()'s
  // cross-engine halfway split on non-power-of-ten quotients.
  def tpchQ14(spark: SparkSession, dir: String): DataFrame = {
    val micro =
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .join(broadcast(Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type").like("PROMO%"), micro).otherwise(lit(0L)))
          .as("promo_micro"),
        sum(micro).as("total_micro"))
      .select(floor(lit(1e4) * lit(100.0) * col("promo_micro").cast("double") /
        col("total_micro").cast("double")).cast("long")
        .as("promo_revenue_x1e4"))
  }

  // `tpch_q15` — TPC-H Q15 (top supplier): the supplier(s) whose
  // three-month revenue equals the global maximum — the spec's
  // revenue VIEW becomes a reusable aggregate frame, and the
  // all-achieving-the-max semantics (the spec returns EVERY supplier
  // at the max, not an arbitrary one) is an equi-join against a
  // 1-row max aggregate, which Spark broadcasts — so the "which rows
  // hit the global extreme" pattern costs one partial-agg shuffle
  // onto |suppliers| keys plus a broadcast, never a global sort or
  // a second scan of lineitem. Supplier dimension broadcasts into
  // the final name resolution. Exact micro-unit revenue makes "equal
  // to the max" a BIGINT equality — no float-compare fragility.
  def tpchQ15(spark: SparkSession, dir: String): DataFrame = {
    val micro =
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)")
    val revenue = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(micro).as("rev_micro"))
    val maxRev = revenue.agg(max(col("rev_micro")).as("max_micro"))
    revenue
      .join(broadcast(maxRev), col("rev_micro") === col("max_micro"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("rev_micro") / 1e6, 4).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  // `tpch_q17` — TPC-H Q17 (small-quantity-order revenue): revenue
  // lost to orders below 20% of a part's average order quantity, for
  // one brand. The correlated-scalar-aggregate shape: the spec's
  // per-part avg(l_quantity) subquery becomes an aggregate over the
  // SAME lineitem scan joined back on partkey — Catalyst executes the
  // per-part averages as a partial-agg shuffle onto |parts-of-brand|
  // keys — but formulated as a PARTITION window over l_partkey so
  // lineitem is scanned ONCE (the join-back formulation scans the
  // fact twice; the window pays one partkey shuffle instead —
  // pinned). Brand prunes part BEFORE the join (broadcast), so the
  // window runs over 1/|brands| of the fact. Adaptation documented:
  // fixture part has no p_container, so the spec's container filter
  // is dropped — brand alone scopes the parts. Determinism: the
  // threshold compare l_quantity < 0.2·avg(qty) is restated as the
  // EXACT integer cross-multiplication 5·qty·cnt < sum_qty
  // (quantities are integral doubles ≤ 50, sums < 2^53 — no float
  // boundary can flip); the spec's /7.0 render becomes an exact
  // multiple-of-7 division then an identity 2-dp render (a
  // non-power-of-ten double division would manufacture half-way
  // rounding flips — the embed_rp lesson).
  def tpchQ17(spark: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#11").select(col("p_partkey"))
    val w = Window.partitionBy("l_partkey")
    Tables.lineitem(spark, dir)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .withColumn("sum_qty", sum(col("l_quantity").cast("long")).over(w))
      .withColumn("cnt_qty", count(lit(1)).over(w))
      .filter(col("l_quantity").cast("long") * lit(5L) * col("cnt_qty") <
        col("sum_qty"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("cents"))
      .select(
        round((col("cents") - pmod(col("cents"), lit(7L))) / lit(7L) / 1e2, 2)
          .as("avg_yearly"))
  }

  // `tpch_q19` — TPC-H Q19 (discounted revenue, disjunctive
  // predicates): revenue from three OR'd (brand, size-band,
  // quantity-band) clauses — THE disjunctive-pushdown stress in
  // TPC-H: a naive planner evaluates the OR after a full join; the
  // right plan pushes the common join key through and lets the
  // disjunction prune map-side. Here part prunes to the UNION of the
  // three brand/size clauses BEFORE the join (the disjunction over
  // part columns pushes into the part scan — pinned), the pruned
  // dimension broadcasts, and the per-clause quantity bands apply
  // map-side post-join. Adaptation documented: fixture part has no
  // p_container, so each clause scopes by p_size band instead of the
  // container IN-lists; the three-clause OR-of-ANDs shape and the
  // brand×band×quantity coupling are Q19's. Exact micro-unit sums.
  def tpchQ19(spark: SparkSession, dir: String): DataFrame = {
    val micro =
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)")
    val q = col("l_quantity")
    val clause1 = col("p_brand") === "Brand#12" &&
      col("p_size").between(1, 5) && q.between(1, 11)
    val clause2 = col("p_brand") === "Brand#21" &&
      col("p_size").between(1, 10) && q.between(10, 20)
    val clause3 = col("p_brand") === "Brand#15" &&
      col("p_size").between(1, 15) && q.between(20, 30)
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter((col("p_brand") === "Brand#12" && col("p_size").between(1, 5)) ||
            (col("p_brand") === "Brand#21" && col("p_size").between(1, 10)) ||
            (col("p_brand") === "Brand#15" && col("p_size").between(1, 15)))
          .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(clause1 || clause2 || clause3)
      .agg(sum(micro).as("rev_micro"))
      .select(round(col("rev_micro") / 1e6, 4).as("revenue"))
  }

  // `tpch_q22` — TPC-H Q22 (global sales opportunity): customers
  // with above-average account balances who have placed no recent
  // orders — the scalar-global-aggregate + ANTI-join composition.
  // The global positive-balance average is a 1-row aggregate that
  // broadcasts into a map-side filter (never a per-row subquery);
  // "no recent orders" is a LEFT ANTI join against the date-pruned
  // orders scan — the only fact-sized shuffle; the final rollup
  // lands on the 25-nation key space. Adaptation documented: fixture
  // customer has no c_phone, so the spec's country-code substring
  // grouping becomes the nation dimension (same bounded-key rollup),
  // and "in the last 7 years" anchors at 1999-01-01 against the
  // fixture's 1995–2001 order span. Determinism: cents > global avg
  // restated as the EXACT integer cross-multiplication
  // cents·n_pos > sum_cents; balance totals render identity 2-dp.
  def tpchQ22(spark: SparkSession, dir: String): DataFrame = {
    val cents = expr("CAST(round(c_acctbal * 100) AS BIGINT)")
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), cents.as("bal_cents"))
    val posAvg = cust.filter(col("bal_cents") > 0L)
      .agg(sum(col("bal_cents")).as("sum_cents"),
        count(lit(1)).as("n_pos"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust
      .join(broadcast(posAvg))
      .filter(col("bal_cents") * col("n_pos") > col("sum_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal_cents")).as("tot_cents"))
      .select(col("n_name"), col("numcust"),
        round(col("tot_cents") / 1e2, 2).as("totacctbal"))
      .orderBy("n_name")
  }

  /** The lineitem-derived part-supplier catalog standing in for the
    * absent `partsupp` dimension (fixture has no partsupp table —
    * TESTDATA.md): one row per observed (l_partkey, l_suppkey) pair
    * with two exact-integer cost stand-ins —
    *  - `cost_cents`: the cheapest observed line price (min of exact
    *    round(l_extendedprice·100) — the ps_supplycost stand-in for
    *    Q2's min-cost-supplier search);
    *  - `unit_milli`: the cheapest observed per-unit price in exact
    *    milli-units, floor(l_extendedprice·1000 / l_quantity) — floor
    *    of an identically-spelled IEEE expression is identical across
    *    engines (the SURVEY halfway-rule; round() here would be
    *    cross-engine-unsafe), feeding Q9's per-line supply cost.
    * Scale shape: ONE (partkey, suppkey)-keyed partial-agg shuffle of
    * the fact; the result is dimension-scale (|parts|·suppliers-per-
    * part), the same cardinality class as the real partsupp it
    * replaces. A production deployment reads the real dimension; the
    * derivation is the documented fixture adaptation, identical in the
    * oracle CTE.
    */
  private def psCatalog(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .agg(
        min(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("cost_cents"),
        min(expr("CAST(floor(l_extendedprice * 1000 / l_quantity) AS BIGINT)"))
          .as("unit_milli"))

  // `tpch_q2` — TPC-H Q2 (minimum-cost supplier): for each part of
  // one type/size, the region's cheapest supplier — the classic
  // correlated-min subquery over a dimension join tree. Formulated
  // Spark-first: the region→nation→supplier chain is a broadcast
  // prune (100 suppliers ⋈ 25 nations ⋈ 5 regions — never a fact
  // shuffle), the catalog joins it map-side, and the per-part MIN is
  // a PARTITION window over ps_partkey on the catalog (dimension-
  // scale, one shuffle) with the winner kept by exact-cents equality
  // — no join-back second scan. Part prunes by (p_type, p_size)
  // BEFORE the window (broadcast), so the window runs over the
  // selected parts only. Top-100 with a total tie-break order
  // (balance desc, nation, supplier, part) is TakeOrderedAndProject —
  // never a global sort. Adaptation documented: cost comes from the
  // psCatalog stand-in (no partsupp in the fixture); no
  // p_mfgr/s_address/s_phone columns, so the output carries the
  // balance/nation/supplier/part identity columns the fixture has.
  // Determinism: the min and the tie-break are exact integers
  // (cents); renders are identity 2-dp.
  def tpchQ2(spark: SparkSession, dir: String): DataFrame = {
    val regionSup = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("bal_cents"))
    val selParts = Tables.part(spark, dir)
      .filter(col("p_type") === "LARGE" && col("p_size") === 4)
      .select(col("p_partkey"), col("p_name"))
    val w = Window.partitionBy("ps_partkey")
    psCatalog(spark, dir)
      .join(broadcast(regionSup), col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(selParts), col("ps_partkey") === col("p_partkey"))
      .withColumn("min_cents", min(col("cost_cents")).over(w))
      .filter(col("cost_cents") === col("min_cents"))
      .select(round(col("bal_cents") / 1e2, 2).as("s_acctbal"),
        col("s_name"), col("n_name"), col("p_partkey"), col("p_name"),
        round(col("cost_cents") / 1e2, 2).as("supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  // `tpch_q4` — TPC-H Q4 (order priority checking): orders placed in
  // one quarter with AT LEAST ONE late line, counted by priority —
  // the EXISTS-semi-join shape. Spark-first: LEFT SEMI join of the
  // date-pruned orders scan against lineitem on orderkey PLUS the
  // correlated lateness predicate (a mixed equi + non-equi semi
  // condition — Catalyst hash-joins on the key and applies the date
  // comparison as the join residual, exactly the decorrelated EXISTS
  // plan), then a partial agg onto the 5-priority key space.
  // Adaptation documented: the fixture carries no
  // l_commitdate/l_receiptdate, so "late" is l_shipdate more than 90
  // days after o_orderdate — the same correlated-inequality shape.
  def tpchQ4(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // `tpch_q9` — TPC-H Q9 (product-type profit): profit by supplier
  // nation and order year over parts matching a name pattern, profit
  // = discounted revenue − supply cost of the quantity moved. The
  // widest catalog join in TPC-H. Spark-first shape: part prunes by
  // name BEFORE anything (broadcast), supplier+nation broadcast, the
  // fact shuffles twice (orderkey to pick up the year; (partkey,
  // suppkey) against the dimension-scale catalog — the partsupp-class
  // join every Q9 plan pays), and the final group lands on a
  // 25-nation × ~7-year key space with map-side partials.
  // Determinism: revenue in exact micro-units; cost = unit_milli ·
  // qty · 1000 exact micro — the difference is a multiple of 100
  // micro (revenue is 4-dp, cost 3-dp), so the 4-dp render is
  // IDENTITY. Adaptations documented: psCatalog stands in for
  // partsupp (cheapest observed per-unit milli price as
  // ps_supplycost), and the fixture's color-ish p_name first words
  // scope via LIKE '%red%' (no 'green' in the fixture vocabulary).
  def tpchQ9(spark: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(spark, dir)
      .filter(col("p_name").like("%red%")).select(col("p_partkey"))
    val supNation = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val discMicro =
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)")
    Tables.lineitem(spark, dir)
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .join(psCatalog(spark, dir),
        col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        (discMicro - col("unit_milli") * col("l_quantity").cast("long") *
          lit(1000L)).as("amount_micro"))
      .groupBy("nation", "o_year")
      .agg(sum(col("amount_micro")).as("profit_micro"))
      .select(col("nation"), col("o_year"),
        round(col("profit_micro") / 1e6, 4).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  // `tpch_q11` — TPC-H Q11 (important stock identification): the
  // parts whose traded value through one nation's suppliers exceeds
  // a fixed fraction of that nation's total — the
  // group-by + global-scalar-threshold composition. Spark-first: the
  // nation's suppliers prune by broadcast, the per-part value is ONE
  // partkey-keyed partial-agg shuffle, the grand total derives from
  // the same aggregated frame (1-row aggregate, broadcast back), and
  // the threshold is the exact integer cross-multiplication
  // value_cents · n_parts > 3 · total_cents ("worth more than 3× the
  // mean part") — no float compare. The spec's FIXED fraction is
  // deliberately replaced by the mean-relative one: the spec scales
  // its 0.0001 by 1/SF because a fixed fraction of a growing total
  // selects nothing at scale (measured: 1/1000 picked 238 parts at
  // sf0.01 and ZERO at sf0.1); the mean-relative threshold keeps a
  // stable tail fraction at ANY scale with no SF knob. Adaptation
  // documented: value is the traded line value (exact cents) via the
  // no-partsupp fixture; the spec's ps_supplycost·ps_availqty becomes
  // sum of line price over the nation's suppliers — same shape, same
  // threshold semantics.
  def tpchQ11(spark: SparkSession, dir: String): DataFrame = {
    val natSup = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_7")
      .select(col("s_suppkey"))
    val perPart = Tables.lineitem(spark, dir)
      .join(broadcast(natSup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("value_cents"))
    val total = perPart.agg(sum(col("value_cents")).as("total_cents"),
      count(lit(1)).as("n_parts"))
    perPart
      .join(broadcast(total))
      .filter(col("value_cents") * col("n_parts") >
        lit(3L) * col("total_cents"))
      .select(col("l_partkey").as("ps_partkey"),
        round(col("value_cents") / 1e2, 2).as("value"))
      .orderBy(col("value").desc, col("ps_partkey"))
  }

  // `tpch_q12` — TPC-H Q12 (shipping modes and order priority): for
  // late lines shipped in one year, per ship-mode counts of
  // high-priority vs other orders — the CASE-conditional aggregation
  // shape. One orderkey equi-join of the two facts (the only
  // shuffle), the lateness residual applies map-side, and the group
  // lands on the bounded mode key space with the two CASE sums as
  // partial aggregates. Adaptations documented: no l_shipmode /
  // l_commitdate / l_receiptdate in the fixture — l_returnflag (3
  // bounded values) carries the mode role and lateness is l_shipdate
  // > o_orderdate + 90 days, preserving the correlated-date + CASE
  // split semantics. Exact BIGINT counts only.
  def tpchQ12(spark: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_returnflag").as("l_shipmode"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_shipmode")
  }

  // `tpch_q16` — TPC-H Q16 (parts/supplier relationship): how many
  // DISTINCT suppliers can ship each surviving (brand, type, size)
  // part bucket, excluding blacklisted suppliers — the
  // distinct-aggregate over a pruned many-to-many relation. Spark-
  // first: the part predicate (negations + size IN-list) prunes by
  // broadcast BEFORE the relation, the blacklist is a broadcast LEFT
  // ANTI (6 rows), the relation itself is the psCatalog pair frame
  // (already distinct per (part, supplier)), and countDistinct
  // executes as the two-phase expand/partial-agg Catalyst plan keyed
  // on the bounded (brand, type, size) space. Adaptations documented:
  // psCatalog stands in for partsupp; the spec's LIKE-excluded
  // 'Customer Complaints' suppliers become the s_acctbal < 0
  // blacklist (the fixture's only supplier-level negative signal).
  def tpchQ16(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 2, 3, 4, 5, 8, 9))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val blacklist = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    psCatalog(spark, dir)
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(blacklist), col("ps_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  // `tpch_q20` — TPC-H Q20 (potential part promotion): suppliers of
  // one nation who DOMINATE a name-scoped part's shipments in one
  // year — the nested-aggregate semi-join composition. Spark-first:
  // per-(part, supplier) year quantities are ONE partial-agg shuffle
  // of the name-pruned fact (part broadcast), the per-part totals
  // derive from that SAME aggregated frame (partkey window — no
  // second fact scan), the dominance test is the exact integer
  // cross-multiplication 2·supp_qty > part_qty, and the qualifying
  // supplier keys semi-join the nation-pruned supplier dimension
  // (broadcast — 100 rows). Adaptation documented: no ps_availqty in
  // the fixture, so "stock exceeds half the year's shipments" becomes
  // "supplier shipped more than half the part's year volume" — the
  // same half-threshold nested-aggregate shape over shipment data.
  def tpchQ20(spark: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(spark, dir)
      .filter(col("p_name").like("red%")).select(col("p_partkey"))
    val natSup = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_3")
      .select(col("s_suppkey"), col("s_name"))
    val w = Window.partitionBy("l_partkey")
    val dominant = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("supp_qty"))
      .withColumn("part_qty", sum(col("supp_qty")).over(w))
      .filter(col("supp_qty") * lit(2L) > col("part_qty"))
      .select(col("l_suppkey")).distinct()
    broadcast(natSup)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"))
      .orderBy("s_name")
  }

  // `tpch_q21` — TPC-H Q21 (suppliers who kept orders waiting): for
  // finished multi-supplier orders, the suppliers who were the SOLE
  // late shipper — the EXISTS + NOT-EXISTS double-correlation, the
  // hardest decorrelation in TPC-H. The textbook plan self-joins
  // lineitem twice (l2 EXISTS, l3 NOT EXISTS); this formulation
  // scans lineitem ONCE: a per-order aggregate computes
  // n_supp = countDistinct(supplier), n_late = countDistinct(late
  // supplier) and the sole late supplier via max(CASE) — EXISTS
  // becomes n_supp > 1, NOT-EXISTS becomes n_late = 1, and the
  // waiting supplier is well-defined exactly when the filter holds.
  // One orderkey shuffle (orders join + the same-keyed aggregate),
  // supplier/nation broadcast, top-100 by a total order is
  // TakeOrderedAndProject. Adaptations documented: late :=
  // l_shipdate > o_orderdate + 90 days (no commit/receipt dates in
  // the fixture); o_orderstatus = 'F' keeps the spec's
  // finished-order scope. Exact BIGINT counts; the oracle replays
  // the CLASSIC double-EXISTS formulation, so a green hash
  // certifies the single-scan rewrite against the textbook
  // semantics, not a replay of itself.
  def tpchQ21(spark: SparkSession, dir: String): DataFrame = {
    val late = col("l_shipdate") >
      col("o_orderdate") + expr("INTERVAL 90 DAYS")
    val perOrder = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(late, col("l_suppkey"))).as("n_late"),
        max(when(late, col("l_suppkey"))).as("late_supp"),
        // classic Q21 counts qualifying l1 LINES — when exactly one
        // supplier is late, every late line in the order is theirs
        sum(when(late, 1L).otherwise(0L)).as("late_lines"))
      .filter(col("n_supp") > 1L && col("n_late") === 1L)
    perOrder
      .join(broadcast(Tables.supplier(spark, dir)
          .join(Tables.nation(spark, dir),
            col("s_nationkey") === col("n_nationkey"))
          .filter(col("n_name") === "NATION_9")
          .select(col("s_suppkey"), col("s_name"))),
        col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("late_lines")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  // `join_spatial_knn` — bounded k-NEAREST-NEIGHBOR join over 2-D
  // points: for every probe point, the 3 nearest build points within
  // radius r=50 — the "closest stores per customer / nearest centroids
  // per vector" shape, and a DIFFERENT operator from Q187
  // join_grid_2d (that key ENUMERATES all pairs in the radius; this
  // one RANKS and cuts per probe — the radius bound is what makes
  // grid kNN exact: the true k nearest within r cannot escape the
  // 3x3 neighborhood of r-sized cells). Build side explodes to its
  // 3x3 cell neighborhood (constant 9 rows), the (cx,cy) equi-join
  // co-locates candidates (complete and duplicate-free — exactly one
  // exploded copy matches a probe's cell), the exact integer
  // predicate dx²+dy² ≤ r² filters, then a per-probe window ranks by
  // (dist², b_id) and WindowGroupLimit prunes to k=3 before the
  // terminal order. Scale shape: candidates only where density is;
  // the rank window partitions on a_id (probe-bounded groups).
  // Determinism: md5-hex-derived integer coordinates (an affine map
  // of event_id would be arithmetically correlated with the mod-100
  // subset filter — a structurally empty join), total (dist², b_id)
  // tie order, all columns BIGINT.
  def joinSpatialKnn(spark: SparkSession, dir: String): DataFrame = {
    val r = 50L
    def coord(p: String): Column = pmod(
      conv(substring(md5(concat(lit(p), col("event_id").cast("string"))),
        1, 6), 16, 10).cast("long"), lit(1000L))
    def pts(m: Long) = Tables.events(spark, dir)
      .filter(pmod(col("event_id"), lit(100L)) === m)
      .select(col("event_id"), coord("x:").as("x"), coord("y:").as("y"))
    val probe = pts(1L)
      .select(col("event_id").as("a_id"), col("x").as("ax"),
        col("y").as("ay"),
        expr(s"x div $r").as("cx"), expr(s"y div $r").as("cy"))
    val build = pts(2L)
      .select(col("event_id").as("b_id"), col("x").as("bx"),
        col("y").as("by"),
        explode(sequence(expr(s"x div $r") - lit(1L),
          expr(s"x div $r") + lit(1L))).as("cx"))
      .select(col("b_id"), col("bx"), col("by"), col("cx"),
        explode(sequence(expr(s"by div $r") - lit(1L),
          expr(s"by div $r") + lit(1L))).as("cy"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    val wK = Window.partitionBy("a_id").orderBy(col("dist2"), col("b_id"))
    probe.join(build, Seq("cx", "cy"))
      .filter(d2 <= lit(r * r))
      .select(col("a_id"), col("b_id"), d2.as("dist2"))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= 3L)
      .select(col("a_id"), col("rank"), col("b_id"), col("dist2"))
      .orderBy("a_id", "rank")
  }
}
