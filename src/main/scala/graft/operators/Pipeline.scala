package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The composed corpus pipeline — the operators are not just a menu,
  * they CHAIN into the job a training-data team actually runs. One
  * declared key executes the whole flow:
  *
  *   1. exact dedup        (content-hash groupBy, min doc_id survives)
  *   2. near-dup clusters  (banded MinHash pairs → connected components)
  *   3. canonical doc      (longest text per cluster, ties → smaller id;
  *                          docs with no near-dup keep themselves)
  *   4. quality gate       (n_tok ≥ 10 — the cheap length floor; the
  *                          richer gates live in `text_quality`)
  *   5. sequence packing   (per-lang 2048-token running bins, the
  *                          `seq_pack` formulation)
  *
  * Output: the training-ready manifest (doc_id, lang, n_tok, bin_id,
  * bin_off) of kept documents.
  *
  * Scale shape: every stage is one of the already-plan-asserted
  * operators — content-keyed shuffles (1), banded candidate generation
  * + checkpointed label propagation (2), struct-argmax agg (3), map
  * filter (4), two-level (lang, shard) prefix sum (5). Nothing
  * corpus-global reaches
  * the driver; the survivors frame is persisted once because stages 2
  * and 3 both consume it. The DuckDB oracle replays all five stages
  * (recursive-CTE closure for stage 2), so the green hash certifies
  * the COMPOSITION, not just the parts.
  */
object Pipeline {

  def pipelineCorpus(spark: SparkSession, dir: String): DataFrame = {
    // (r19: a fannedDocuments read was A/B'd here and REVERTED —
    // 1.87 s control vs 2.07-2.18 s fanned in one clean window; the
    // pipeline's stages shuffle on content keys immediately, so the
    // extra exchange buys nothing the first groupBy doesn't already.)
    val docs = Tables.documents(spark, dir)

    // 1. exact dedup
    val surv = docs
      .groupBy(Dedup.exactHash(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val d = Caches.persist(docs.join(surv, Seq("doc_id")))

    // 2. near-dup clusters over survivors (exact J ≥ 0.8 contract).
    // (r19: a checkpointed-leaf wrap of this pair frame was A/B'd and
    // measured NEUTRAL — connectedComponents already persists the edge
    // frame and checkpoints every round, so the LSH tree is planned
    // once either way; the extra materialization job buys nothing.)
    val comp = Dedup.connectedComponents(
      Dedup.minhashPairs(d).select("doc_a", "doc_b"))

    // 3. canonical per cluster (singletons are their own cluster)
    val labeled = d
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left_outer")
      .withColumn("grp", coalesce(col("comp"), col("doc_id")))
    val canon = labeled.groupBy("grp")
      .agg(max_by(col("doc_id"),
        struct(col("n_chars"), negate(col("doc_id")))).as("doc_id"))
      .select("doc_id")

    // 4. + 5. quality gate, then pack (the seq_pack formulation —
    // shared two-level prefix sum, so parallelism scales with corpus
    // size, not |languages|)
    val kept = labeled.join(canon, Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        size(Dedup.tokens(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") >= 10)
    TextAnalysis.packBins(kept)
  }

  // `pipeline_observe` — Dataset.observe() + Observation: the
  // data-quality instrumentation API every production pipeline wraps
  // around its gates. observe() attaches aggregate metrics to a plan
  // node; they are computed ON THE SAME PASS as the downstream action
  // (a CollectMetrics node riding the existing scan) — the alternative
  // is a SECOND full scan of the input just to count what the gate
  // dropped, which at 100 TB doubles the job. The demo instruments the
  // corpus quality gate: pre-gate count/chars observe on the scan, the
  // post-gate aggregate is the driving action, and the returned 1-row
  // frame joins both with the drop ratio — the shape a pipeline writes
  // to its run-metrics table.
  //
  // The metric scalars surface on the driver BY DESIGN (Observation
  // .get blocks on the action's QueryExecutionListener callback) —
  // this is the documented API contract, not a collect() of data rows.
  def pipelineObserve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation(
      s"gate_metrics_${System.nanoTime()}")
    val gated = Tables.documents(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_in"),
        sum(col("n_chars")).as("chars_in"))
      .filter(col("n_chars") >= 200) // the quality gate under observation
    // the driving action: one pass computes gate output AND metrics
    val Array(keptRow) = gated
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      .collect()
    val m = obs.get
    Seq((m("n_in").asInstanceOf[Long], m("chars_in").asInstanceOf[Long],
      keptRow.getLong(0), keptRow.getLong(1)))
      .toDF("n_in", "chars_in", "n_kept", "chars_kept")
      .withColumn("kept_ratio",
        round(col("n_kept").cast("double") / col("n_in"), 4))
  }

  // `dq_expectations` — the declarative data-quality constraint audit
  // (the Deequ/Great-Expectations shape): evaluate a rule SUITE
  // against a table in one pass and emit one row per rule with exact
  // violation counts — the contract gate every production pipeline
  // runs before publishing a table. Six rule archetypes over orders:
  // domain membership (status), range (order date), positivity
  // (total price), completeness (priority NOT NULL), uniqueness
  // (orderkey: count − countDistinct), and referential integrity
  // (custkey resolves in customer). Scale shape: the five row-local
  // rules AND the uniqueness distinct fold into ONE aggregate pass
  // of the fact (CASE sums ride map-side partials; countDistinct is
  // the two-phase Expand plan); referential integrity is a broadcast
  // LEFT ANTI count (dimension-sized build side) — the fact is
  // scanned twice in total, never per-rule; both 1-row results
  // broadcast-join and the per-rule layout is a 6-row stack
  // (generator over scalars — no shuffle). Determinism: every output
  // is an exact BIGINT count or a boolean derived from one.
  def dqExpectations(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val base = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0.0,
        1L).otherwise(0L)).as("v_price"),
      sum(when(col("o_orderdate").isNull ||
        col("o_orderdate") < lit("1990-01-01").cast("timestamp") ||
        col("o_orderdate") >= lit("2002-01-01").cast("timestamp"),
        1L).otherwise(0L)).as("v_date"),
      sum(when(col("o_orderstatus").isNull ||
        !col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
        .as("v_status"),
      sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
        .as("v_prio"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_unique"))
    val fkOrphans = o
      .join(broadcast(Tables.customer(spark, dir).select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v_fk"))
    base.join(broadcast(fkOrphans))
      .select(col("n").as("n_rows"), expr(
        "stack(6, 'fk_custkey_exists', v_fk, 'orderdate_in_range', v_date," +
          " 'orderkey_unique', v_unique, 'priority_complete', v_prio," +
          " 'status_in_domain', v_status, 'totalprice_positive', v_price)" +
          " AS (rule, n_violations)"))
      .select(col("rule"), col("n_rows"), col("n_violations"),
        (col("n_violations") === 0L).as("passed"))
      .orderBy("rule")
  }

  // `pipeline_events` — the composed EVENT-ANALYTICS flagship, the
  // events-side sibling of pipeline_corpus: cleanse → sessionize
  // (30-min gaps) → per-session stats → per-user rollup → bucketed
  // cohort summary, in one certified job. The point is composition:
  // each stage's machinery is already plan-locked by its own key
  // (sessionize_batch's gap-cumsum, the bounded rollup shapes), and
  // the stages hand off narrow keyed frames — the whole five-stage
  // flow needs exactly ONE (user_id)-hash exchange (the sessionize
  // window, the (user, session) agg, and the user rollup all share
  // it) plus the final bounded bucket agg. Determinism: time runs in
  // exact epoch MICROS on both engines (Spark unix_micros ≡ DuckDB
  // epoch_us — second-truncation would diverge on sub-second ts),
  // durations/rates are exact BIGINT floor divisions, the session
  // split (gap > 1800s) compares exact micros.
  def pipelineEvents(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    val sess = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("new_sess",
        when(lag(col("us"), 1).over(wOrd).isNull ||
          col("us") - lag(col("us"), 1).over(wOrd) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_sess")).over(wRun))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_ev"),
        max(col("us")).as("max_us"), min(col("us")).as("min_us"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purch"))
      .withColumn("dur_sec",
        expr("CAST((max_us - min_us) div 1000000 AS BIGINT)"))
    val users = sess.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_ev")).as("max_session_events"),
        sum(col("purch")).as("n_purchase_sessions"),
        sum(col("dur_sec")).as("sum_dur_sec"))
    // the summary groups on an INTENSIVE measure (purchase-rate
    // decile) so the bucket distribution stays spread at any data
    // scale — an extensive key (session count) saturates its cap the
    // moment users have enough history
    users
      .select(expr("CAST((10 * n_purchase_sessions) div n_sessions" +
          " AS BIGINT)").as("purchase_decile"),
        col("n_sessions"), col("n_purchase_sessions"),
        col("sum_dur_sec"))
      .groupBy("purchase_decile")
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_sessions")).as("n_sessions_total"),
        sum(col("n_purchase_sessions")).as("n_purchase_sessions"),
        sum(col("sum_dur_sec")).as("sum_dur_sec"))
      .select(col("purchase_decile"), col("n_users"),
        col("n_sessions_total"), col("n_purchase_sessions"),
        expr("CAST((1000000 * n_purchase_sessions) div n_sessions_total" +
          " AS BIGINT)").as("purchase_rate_ppm"),
        expr("CAST(sum_dur_sec div n_sessions_total AS BIGINT)")
          .as("mean_session_sec"))
      .orderBy("purchase_decile")
  }

  // `dq_profile` — one-pass column profiler (the Deequ/Great-
  // Expectations "profile" verb next to dq_expectations' "validate"):
  // per-column null count, exact distinct count, and min/max rendered
  // as exact integer cents/keys, emitted as one row per column — the
  // table summary every catalog shows and every drift monitor diffs.
  // Scale shape: ALL columns profile in ONE aggregate pass — the
  // null/min/max sums ride map-side partials and the three exact
  // countDistincts fold into Catalyst's multi-distinct Expand plan
  // (×k fan-out of the single scan, the agg_multi_distinct shape) —
  // then a 3-row stack over scalars; never a pass per column.
  // Determinism: counts exact BIGINTs; min/max rendered as exact
  // integer cents (prices) or raw keys — no float surfaces.
  def dqProfile(spark: SparkSession, dir: String): DataFrame = {
    // r19: the 3-countDistinct Expand (x4 row fan-out + partial dedup)
    // ran single-core on the unsplittable fixture scan — fan out first
    // (guide §2.5; no-op on splittable production layouts)
    val o = Tables.fanned(spark, dir, "orders", "o_orderkey")
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    val prof = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nn_key"),
      countDistinct(col("o_orderkey")).as("nd_key"),
      min(col("o_orderkey")).as("min_key"),
      max(col("o_orderkey")).as("max_key"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn_cust"),
      countDistinct(col("o_custkey")).as("nd_cust"),
      min(col("o_custkey")).as("min_cust"),
      max(col("o_custkey")).as("max_cust"),
      sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nn_price"),
      countDistinct(cents).as("nd_price"),
      min(cents).as("min_price"),
      max(cents).as("max_price"))
    prof.select(col("n").as("n_rows"), expr(
      "stack(3," +
        " 'o_custkey', nn_cust, nd_cust, min_cust, max_cust," +
        " 'o_orderkey', nn_key, nd_key, min_key, max_key," +
        " 'o_totalprice_cents', nn_price, nd_price, min_price, max_price)" +
        " AS (col_name, n_null, n_distinct, min_val, max_val)"))
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_val"), col("max_val"))
      .orderBy("col_name")
  }

  // `dq_kanonymity` — k-anonymity audit (Sweeney 2002), the privacy
  // gate a dataset passes before release: group the table by its
  // QUASI-IDENTIFIER combination (here nation × market segment ×
  // account-balance band — the attributes an adversary can link from
  // outside) and report every equivalence class smaller than k=5,
  // because rows in those classes are re-identifiable. Output = the
  // violating classes with their sizes plus their share of the table
  // in exact ppm. Scale shape: ONE aggregate pass with map-side
  // partials into a QI-domain-bounded group-by (|nations|·|segments|·
  // |bands| — never row-cardinality), then a 1-row total broadcast
  // for the ppm render; no join against the fact, no window.
  // Determinism: the balance band is an exact integer floor division
  // of cents; counts and ppm renders are exact BIGINTs.
  def dqKanonymity(spark: SparkSession, dir: String): DataFrame = {
    val k = 5L
    val classes = Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000")
          .as("bal_band"))
      .groupBy("nation", "segment", "bal_band")
      .agg(count(lit(1)).as("class_size"))
    val total = classes.agg(sum(col("class_size")).as("n_total"))
    classes.filter(col("class_size") < k)
      .join(broadcast(total))
      .select(col("nation"), col("segment"), col("bal_band"),
        col("class_size"),
        expr("CAST((1000000 * class_size) div n_total AS BIGINT)")
          .as("risk_ppm"))
      .orderBy("nation", "segment", "bal_band")
  }

  // `dq_referential` — referential-integrity audit, the DQ check the
  // family still lacked (dq_expectations row predicates, dq_profile
  // column stats, dq_kanonymity privacy): for each FK edge, count
  // children whose parent is missing and report the orphan rate — the
  // first audit after any ingest/CDC apply, because a broken FK edge
  // silently drops rows from every downstream join. TPC-H data is
  // referentially perfect, so each edge's parent set is PLANTED with
  // deletions (a deterministic modulo of the parent key — simulating
  // parents removed by retention/GDPR while children linger), making
  // the orphan counts nonzero and oracle-checkable.
  //
  // Scale shape: one LEFT ANTI join per edge — the exact relational
  // form of "child without parent" — with the surviving-parent side
  // reduced to its key column before the join (ReadSchema stays
  // 1-column); counts collapse map-side, one scalar row per edge, and
  // the three bounded rows union. Determinism: exact BIGINT counts and
  // an exact ppm floor division.
  def dqReferential(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.select(col(fk))
        .join(parent.select(col(pk)), col(fk) === col(pk), "left_anti")
      child.select(count(lit(1)).as("n_child"))
        .crossJoin(orphans.select(count(lit(1)).as("n_orphan")))
        .select(lit(name).as("edge"), col("n_child"), col("n_orphan"),
          expr("CAST((1000000 * n_orphan) div n_child AS BIGINT)")
            .as("orphan_ppm"))
    }
    val cust = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 97 =!= 0)
    val ord = Tables.orders(spark, dir)
    val ordSurv = ord.filter(col("o_orderkey") % 89 =!= 0)
    val part = Tables.part(spark, dir)
      .filter(col("p_partkey") % 83 =!= 0)
    val li = Tables.lineitem(spark, dir)
    edge("orders->customer", ord, "o_custkey", cust, "c_custkey")
      .unionByName(
        edge("lineitem->orders", li, "l_orderkey", ordSurv, "o_orderkey"))
      .unionByName(
        edge("lineitem->part", li, "l_partkey", part, "p_partkey"))
      .orderBy("edge")
  }
}
