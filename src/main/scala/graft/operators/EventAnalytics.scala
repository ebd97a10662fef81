package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-analytics suite over the `events` table — the product-analytics
  * operator family (funnel conversion, cohort retention, per-entity
  * anomaly detection) every event warehouse runs; no reference analogue
  * (the reference is a single-table scan engine, README.md:6-15).
  *
  * Scale notes (100 TB design intent):
  *  - every pipeline shuffles ONLY on user_id (or (cohort, offset)) —
  *    content-derived keys with map-side partial aggregation; user
  *    cardinality ~ events/66, so the reduced frames are orders of
  *    magnitude smaller than the event log;
  *  - the funnel is a chain of conditional min-aggregations, NOT a
  *    per-user sort: each stage needs one (user_id)-keyed agg + one
  *    hash join of the small per-user frame back to the log. Stage
  *    frames after the first agg are per-user (tiny) and reuse the
  *    same partitioning, so AQE plans the joins cheaply;
  *  - z-score anomaly detection is the textbook two-pass: per-key
  *    moments (one agg), then a map-side filter after re-joining the
  *    small stats frame — never a window over the full log, which
  *    would sort every partition for two scalars per key.
  */
object EventAnalytics {

  // `funnel_conversion` — ordered funnel view → click → purchase with
  // strictly-increasing timestamps (a click only counts AFTER the
  // user's first view, a purchase only after that click). Per-user
  // stage = 0..3 (the furthest prefix completed). Conditional-min agg
  // chain; each stage joins the per-user stage frame (150 rows per 10k
  // events here) back to the log, so the log is scanned three times
  // but never sorted — at 100 TB the three scans pipeline over the
  // same parquet and the per-user frames stay executor-resident.
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = ev.join(v, Seq("user_id"))
      .filter(col("event_type") === "click" && col("ts") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = ev.join(c, Seq("user_id"))
      .filter(col("event_type") === "purchase" && col("ts") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    Tables.events(spark, dir).select(col("user_id")).distinct()
      .join(v, Seq("user_id"), "left_outer")
      .join(c, Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .select(col("user_id"),
        (col("t_view").isNotNull.cast("int") +
         col("t_click").isNotNull.cast("int") +
         col("t_purchase").isNotNull.cast("int")).as("stage"))
      .orderBy("user_id")
  }

  // `agg_retract` — RETRACTABLE incremental aggregate maintenance, the
  // materialized-view story agg_incremental_merge (append-only partial
  // merge) cannot tell: when the changelog carries updates and DELETES,
  // the maintained aggregate must subtract. Each changelog row becomes
  // a signed delta against the standing per-type aggregate — insert
  // (+new, +1), delete (−old, −1), update (new−old, ±0) — and
  // base ⊕ deltas must equal a full recompute of the post-merge state,
  // which is exactly what the oracle computes (recompute-equals-
  // maintain, the correctness contract of every incremental matview
  // engine). Scale: the whole maintenance pass is changelog-sized —
  // one join of the changelog against the base on the merge key to
  // fetch old values, one bounded (type-keyed) delta aggregation —
  // never a rescan of the table; exact integer cents throughout so
  // subtraction is lossless. Reuses merge_into's base/changelog
  // builders: this key is the AGGREGATE view over the same merge the
  // lakehouse keys apply row-wise.
  def aggRetract(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.operators.Layout.mergeBase(spark, dir)
    val chg  = graft.operators.Layout.mergeChangelog(spark, dir)
    val baseAgg = base.groupBy("event_type")
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))
    val old = base.select(col("event_id"), col("cents").as("old_cents"))
    val delta = chg.join(old, Seq("event_id"), "left_outer")
      .select(col("event_type"),
        when(col("op") === "I", col("cents"))
          .when(col("op") === "D", -col("old_cents"))
          .otherwise(col("cents") - col("old_cents")).as("dc"),
        when(col("op") === "I", lit(1L))
          .when(col("op") === "D", lit(-1L)).otherwise(lit(0L)).as("dn"))
      .groupBy("event_type")
      .agg(sum(col("dc")).as("ds"), sum(col("dn")).as("dnn"))
    baseAgg.join(delta, Seq("event_type"), "left_outer")
      .select(col("event_type"),
        (col("s") + coalesce(col("ds"), lit(0L))).as("cents_total"),
        (col("n") + coalesce(col("dnn"), lit(0L))).as("n_live"))
      .orderBy("event_type")
  }

  // `seq_pattern` — MATCH_RECOGNIZE-shaped sequence detection: the
  // per-user event-type sequence (totally ordered by ts, event_id) is
  // materialized as one string and matched against a regex funnel
  // pattern (view …* click …* purchase). Complements funnel_conversion
  // (staged min-ts joins — counts stages) with the general tool: ANY
  // ordered pattern with gaps/alternation/repetition is one regex away,
  // which is exactly the MATCH_RECOGNIZE niche. Scale: one shuffle on
  // user_id; the sequence is built by sort_array over collect_list of
  // (ts, event_id, type) structs — per-group data, never a global sort,
  // and a user's event history is bounded (the same per-key-bounded
  // contract every window key in the suite declares). collect_list's
  // arrival order is nondeterministic; sort_array canonicalizes it, so
  // the emitted string is partition-layout-independent.
  def seqPattern(spark: SparkSession, dir: String): DataFrame = {
    val pat = "view.*click.*purchase"
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), " ").as("seq"))
      .select(col("user_id"), col("n_events"), col("seq"),
        col("seq").rlike(pat).as("matched"),
        (size(split(col("seq"), "purchase")) - 1).cast("long")
          .as("n_purchase"))
      .orderBy("user_id")
  }

  // `retention_cohort` — classic cohort retention triangle: users
  // cohort by their first active DAY; a cohort's day-N retention is
  // the count of its users active N days later. Two (user)-keyed aggs
  // + one join + one (cohort, offset) agg — the whole triangle is one
  // pass over distinct (user, day) pairs, which are ~30× smaller than
  // the log.
  def retentionCohort(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val cohorts = days.groupBy("user_id").agg(min(col("d")).as("cohort"))
    days.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort"), datediff(col("d"), col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort", "day_offset")
  }

  // `anomaly_zscore` — per-user outlier events: |value − μ_user| ≥
  // 2.5 σ_user (sample stddev), users with at least 2 events and
  // non-degenerate spread. Two-pass moments-then-filter (see scale
  // notes); z rounded to 4 dp BEFORE thresholding so both engines
  // admit identical boundary events.
  def anomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val stats = ev.groupBy("user_id").agg(
      avg(col("value")).as("mu"),
      stddev_samp(col("value")).as("sd"),
      count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("sd") > 0)
    ev.join(stats, Seq("user_id"))
      .withColumn("z", round((col("value") - col("mu")) / col("sd"), 4))
      .filter(abs(col("z")) >= 2.5)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("z"))
      .orderBy("event_id")
  }

  // `cdc_upsert` — keyed changelog compaction (the lakehouse MERGE /
  // SCD-type-1 read path): per key, last-writer-wins on the version
  // order (ts, event_id), with `error` as the tombstone type — a key
  // whose LATEST record is a tombstone is absent from the compacted
  // state. Formulated as ONE map-side-partial struct-max_by agg per
  // key — never a per-key window sort: at 100 TB the changelog shuffles
  // once on the key and only (key, newest-struct) pairs leave the map
  // side, the same profile as `dedup_keep_best`.
  def cdcUpsert(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max_by(
        struct(col("ts"), col("event_id"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("s"))
      .filter(col("s.event_type") =!= "error")
      .select(col("user_id"), col("s.ts").as("last_ts"),
        col("s.event_id").as("last_event"),
        col("s.event_type").as("last_type"),
        round(col("s.value"), 4).as("last_value"))
      .transform(Caches.persist) // r20 pre-sort persist: see Caches.persist
      .orderBy("user_id")

  // `agg_sketch_rollup` — mergeable-sketch distinct counting
  // (Apache DataSketches HLL via Spark's hll_sketch_agg): per-day user
  // sketches, then the corpus-wide distinct from hll_union_agg over the
  // DAILY SKETCHES — the full log is scanned once; the rollup row costs
  // one union over |days| compact sketches. This mergeability is THE
  // 100 TB distinct-count pattern (per-partition sketches roll up to
  // any coarser grain with no re-scan; exact distinct would re-shuffle
  // the log per grain). No SQL oracle (estimator internals are
  // library-specific) — EventAnalyticsSpec pins the estimates against
  // exact counts (≤ 2% error at lgK=14) and asserts union-of-daily ==
  // direct whole-log sketch, bit-for-bit the same estimate.
  def aggSketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
    val days = daily.select(col("day"), col("n_events"),
      hll_sketch_estimate(col("sk")).cast("long").as("approx_users"))
    val total = daily
      .agg(sum(col("n_events")).as("n_events"),
        hll_union_agg(col("sk"), lit(false)).as("sk"))
      .select(lit(null).cast("date").as("day"), col("n_events"),
        hll_sketch_estimate(col("sk")).cast("long").as("approx_users"))
    days.unionAll(total).orderBy(asc_nulls_last("day"))
  }

  // `agg_bitmap_distinct` — EXACT mergeable distinct counting over a
  // dense integer key space (the deterministic sibling of
  // `agg_sketch_rollup`): user ids are bucketed into fixed 32768-bit
  // bitmaps (bitmap_bucket_number / bitmap_bit_position), per-group
  // bitmaps build in one map-side-partial aggregation, and distinct =
  // Σ bitmap_count over buckets. Emitted twice to certify mergeability
  // end-to-end: `n_users` builds per-(type, bucket) bitmaps from the
  // whole log; `n_users_rollup` builds DAY-grain bitmaps first and
  // OR-merges them up (bitmap_or_agg) — bitwise the same sets, so the
  // two columns must agree exactly (the oracle emits count(DISTINCT)
  // for both). At 100 TB this is the id-keyed distinct pattern when the
  // 2-5% HLL error is not acceptable: per-partition bitmaps roll up to
  // any coarser grain at |buckets|·4 KB per group, never re-scanning
  // the log — exactness for a bounded, known key domain.
  def aggBitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir).select(
      col("event_type"), to_date(col("ts")).as("day"),
      expr("bitmap_bucket_number(user_id)").as("bucket"),
      expr("bitmap_bit_position(user_id)").as("pos"))
    val direct = base.groupBy("event_type", "bucket")
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
      .groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
    val rolled = base.groupBy("event_type", "day", "bucket")
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
      .groupBy("event_type", "bucket")
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_users_rollup"))
    direct.join(rolled, Seq("event_type"))
      .orderBy("event_type")
  }

  // `agg_approx_topk` — frequency-sketch heavy hitters (VERDICT r9
  // item 6), completing the sketch family (HLL distinct Q90, exact
  // bitmap Q98): per-day top-3 event types by COUNT-MIN-SKETCH
  // estimated frequency. The CMS is the mergeable fixed-size frequency
  // summary — at 100 TB per-partition sketches combine map-side
  // (counter-matrix addition is commutative), only |days| ~100 KB
  // sketches reach the reduce side, and the same sketches roll up to
  // any coarser grain with no re-scan, exactly like Q90's HLL. CMS is
  // probe-only (no enumeration), so heavy-hitter extraction probes it
  // with the candidate set — here the distinct event types, a
  // broadcast-sized dimension; the probe stage is |days|×|types| rows,
  // so the deserializing probe UDF runs ~150×, never per event (the
  // documented UDF escape hatch — the sketch AGGREGATION, the actual
  // per-row hot path, is Spark's codegen'd count_min_sketch).
  //
  // Deterministic, hence oracle-able: CMS cells are EXACT sums over
  // seed-fixed hash positions, so for a candidate set this small the
  // min-over-depth estimate equals the true count unless a candidate
  // collides in ALL depth rows (p < (|types|²/width)^depth ≈ 1e-20 at
  // eps=0.001/conf=0.99, and fixed by the seed either way — verified
  // est == exact on this corpus). Oracle replays exact per-day counts;
  // EventAnalyticsSpec additionally pins est-vs-exact on a SKEWED
  // synthetic fixture where approximation would actually be stressed.
  def aggApproxTopk(spark: SparkSession, dir: String): DataFrame = {
    val typed = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"))
    val daySketch = typed.groupBy("day")
      .agg(expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").as("sk"))
    val cands = typed.select("event_type").distinct()
    val probe = udf((sk: Array[Byte], item: String) =>
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(sk))
        .estimateCount(item))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("day").orderBy(col("est_count").desc, col("event_type"))
    daySketch.join(broadcast(cands))
      .select(col("day"), col("event_type"),
        probe(col("sk"), col("event_type")).as("est_count"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("day"), col("rk"), col("event_type"), col("est_count"))
      .orderBy("day", "rk")
  }

  // `ts_resample` — dense time-grid resampling (gap fill): aggregate
  // the log to the hour grain, then LEFT JOIN it onto the full
  // hour×event_type spine (sequence over [min,max] × distinct types)
  // so silent hours materialize as explicit zeros — the densification
  // every time-series model, anomaly baseline, and dashboard needs
  // (a missing row and a zero row mean different things). Scale shape:
  // the corpus is touched ONCE by the grain aggregation (one shuffle);
  // the spine is |hours|·|types| rows — derived from two scalar bounds
  // and a tiny distinct, never from the log — so the gap-fill join is
  // small×small regardless of corpus size. The sequence+explode spine
  // is the same generator pattern as doc_chunk, applied to time.
  def tsResample(spark: SparkSession, dir: String): DataFrame = {
    // The grain aggregation is PERSISTED because three consumers need
    // it (bounds, type dimension, gap fill): without materialization
    // Catalyst rewrites the derived min/max/distinct straight onto the
    // raw log (min-of-group-mins = global min) and plans three corpus
    // scans. The persisted frame is |hours|·|types| rows — trivial to
    // hold — and the log is read ONCE to build it (PlanSpec asserts
    // the consumers read the cache, not the file). Same registry
    // lifecycle as the shingle cache (operators.Caches).
    val agg = Caches.persist(
      Tables.events(spark, dir)
        .select(date_trunc("hour", col("ts")).as("h"),
          col("event_type"), col("value"))
        .groupBy("h", "event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
    val grid = agg.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(
        sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    grid.crossJoin(agg.select("event_type").distinct())
      .join(agg, Seq("h", "event_type"), "left_outer")
      .select(col("h"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy("h", "event_type")
  }

  // `ts_interpolate` — LINEAR interpolation over the gap grid: where
  // ts_resample materializes silent hours as zeros (count semantics),
  // this estimates the MISSING MEASUREMENT (sensor/metric semantics —
  // a gap in a mean-value series is unknown, not zero): each absent
  // (hour, type) cell gets prev + (next − prev)·(h − h_prev)/(h_next −
  // h_prev) between its nearest observed neighbors, clamped to the
  // nearest observation at the series edges. The standard densify step
  // before any windowed feature or anomaly baseline.
  //
  // Scale shape: identical to ts_resample — the corpus is touched once
  // by the hourly aggregation (one shuffle, map-side partials); the
  // interpolation runs on the |hours|·|types| spine, never the log.
  // Neighbor lookup is two IGNORE-NULLS window passes (last-before /
  // first-after) sharing ONE (type)-partitioned hour sort — linear,
  // no self-join on time.
  //
  // Determinism (the contract rule, hardened): the hourly metric is
  // the total in integer CENTS (2-dp inputs are exact in cents), hours
  // are integer epoch-hour indexes, and the lerp rounds HALF-UP via
  // integer arithmetic — (2·num + den) / (2·den) floored — so no
  // engine ever rounds a floating half-boundary (the first cut used
  // round(lerp, 4) and diverged at row 30: spark 54.6608 vs duck
  // 54.6609). The one double division is of exact integers whose
  // quotient sits ≥ 1/(2·den) ≈ 1e-4 from any integer when fractional
  // — 12 orders of magnitude beyond double rounding error — so the
  // floor is exact in both engines.
  def tsInterpolate(spark: SparkSession, dir: String): DataFrame = {
    val obs = Caches.persist(
      Tables.events(spark, dir)
        .select(date_trunc("hour", col("ts")).as("h"),
          col("event_type"), col("value"))
        .groupBy("h", "event_type")
        .agg(round(sum(col("value")) * 100).cast("long").as("c_obs")))
    val grid = obs.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(
        sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val before = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // floor, not truncate-toward-zero: the DuckDB oracle computes
    // epoch(h) // 3600 (floor division), which differs from a plain
    // cast for pre-1970 instants (negative epochs). Fixture epochs are
    // all non-negative today, but the semantics must not depend on it.
    val hIdx = floor(unix_timestamp(col("h")) / 3600).cast("long")
    val obsH = when(col("c_obs").isNotNull, hIdx)
    val num = col("pv") * (col("nh") - col("hx")) +
      col("nv") * (col("hx") - col("ph"))
    val den = col("nh") - col("ph")
    grid.crossJoin(obs.select("event_type").distinct())
      .join(obs, Seq("h", "event_type"), "left_outer")
      .select(col("h"), col("event_type"), col("c_obs"), hIdx.as("hx"),
        last(col("c_obs"), ignoreNulls = true).over(before).as("pv"),
        last(obsH, ignoreNulls = true).over(before).as("ph"),
        first(col("c_obs"), ignoreNulls = true).over(after).as("nv"),
        first(obsH, ignoreNulls = true).over(after).as("nh"))
      .select(col("h"), col("event_type"),
        when(col("c_obs").isNotNull, lit(1L)).otherwise(lit(0L))
          .as("observed"),
        when(col("c_obs").isNotNull, col("c_obs"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(floor((lit(2) * num + den) / (lit(2) * den))
            .cast("long"))
          .as("value_cents"))
      .transform(Caches.persist) // r20 pre-sort persist: see Caches.persist
      .orderBy("h", "event_type")
  }

  // `scd2_history` — slowly-changing-dimension TYPE 2 from a changelog
  // (cdc_upsert is type 1 — latest state only; this keeps the full
  // validity history a training-data lineage or feature-store backfill
  // needs): per user, consecutive same-status records collapse to one
  // CHANGE row (lag ≠ current), each change opens an interval
  // [valid_from, valid_to) closed by the next change; the open interval
  // gets a far-future sentinel end and is_current=1. Two window passes
  // over the SAME (user_id × (ts, event_id)) partitioning — Catalyst
  // plans one shuffle + one sort, the second window reuses both. At
  // 100 TB this shuffles the changelog once on the entity key, state is
  // per-user linear, and the output is strictly smaller than the input
  // (changes only) — the standard history-table build.
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("next_from", lead(col("ts"), 1).over(byUser))
      .select(col("user_id"), col("event_id"),
        col("event_type").as("status"),
        col("ts").as("valid_from"),
        coalesce(col("next_from"),
          lit("2100-01-01 00:00:00").cast("timestamp")).as("valid_to"),
        col("next_from").isNull.cast("int").as("is_current"))
      .transform(Caches.persist) // r20 pre-sort persist: see Caches.persist
      .orderBy("user_id", "valid_from", "event_id")
  }

  // `sessionize_batch` — gap-based SESSIONIZATION of the event log (the
  // batch sibling of `stream_session`, and the op every product/behavior
  // pipeline runs first): a user's events split into sessions wherever
  // the gap to the previous event exceeds 30 minutes; emit one row per
  // session with its event count and exact span. The canonical
  // distributed shape: lag() marks session starts, a running sum of the
  // start flags numbers them — BOTH window expressions share ONE
  // (user_id)-partitioned (ts, event_id) sort, so the whole operator is
  // one shuffle + one per-partition sort + a partial-aggregating
  // groupBy whose output is ~sessions, far smaller than the log. No
  // driver scalars, no second scan.
  //
  // All time arithmetic is in integer MICROSECONDS (unix_micros /
  // DuckDB epoch_us): the gap compare and the duration are exact in
  // both engines — second-truncated timestamps would disagree on
  // sub-second gaps (floor(a)-floor(b) ≠ floor(a-b)).
  def sessionizeBatch(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60L * 1000000L
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("new_s",
        (lag(col("ts_us"), 1).over(byUser).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(byUser) > gapUs)
          .cast("long"))
      .withColumn("session_id",
        sum(col("new_s")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
      .transform(Caches.persist) // r20 pre-sort persist: see Caches.persist
      .orderBy("user_id", "session_id")
  }

  // `agg_session_window` — NATIVE session-window aggregation in batch
  // (session_window(ts, gap)): the engine's own gap-sessionizer, vs
  // sessionize_batch which builds the identical semantics by hand
  // (lag + cumulative-flag islands). The native form is ONE grouping
  // expression — no window pass before the aggregation: Spark plans a
  // session-aware aggregate that merges adjacent [start, last+gap)
  // intervals during the (user)-keyed shuffle, and the SAME expression
  // runs unchanged over a stream (Q37 stream_session) — the
  // batch/stream unification being the API's point. Session end is
  // DEFINED as last_event + gap (the window covers the whole timeout,
  // not just observed events) — the oracle replays that definition
  // over the hand-built islands, so the green hash proves native ==
  // manual.
  def aggSessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"))
      .orderBy("user_id", "start_us")

  // `anomaly_mad` — MAD (median absolute deviation) robust outlier
  // detection, the resistant sibling of anomaly_zscore: mean/stddev are
  // themselves dragged by the outliers they're meant to flag (one
  // 1000× spike inflates σ until nothing else trips 2.5σ); the
  // median-of-|v − median| scale estimate has a 50% breakdown point,
  // which is why robust quality gates (model-score filtering, sensor
  // validation) standardize on it. Two grouped EXACT percentile passes
  // (group domain = event_type, dimension-bounded, so exact is
  // affordable; at unbounded group counts the GK sketch from
  // agg_approx_percentile substitutes) with the tiny medians frame
  // broadcast back for the deviation pass. The outlier threshold
  // 3·1.4826·MAD (1.4826 = 1/Φ⁻¹(¾), the consistency constant that
  // makes MAD estimate σ under normality) is compared UNROUNDED with
  // left-associated identical arithmetic in both engines — bit-equal
  // IEEE doubles, no rounding boundary to straddle.
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
      .groupBy("event_type")
      .agg(first(col("med")).as("med"),
        expr("percentile(adev, 0.5)").as("mad"))
    ev.join(broadcast(mad), Seq("event_type"))
      .withColumn("is_out",
        abs(col("value") - col("med")) > lit(3) * lit(1.4826) * col("mad"))
      .groupBy("event_type")
      .agg(round(first(col("med")), 4).as("med"),
        round(first(col("mad")), 4).as("mad"),
        count(lit(1)).as("n"),
        count(when(col("is_out"), 1)).as("n_outliers"))
      .orderBy("event_type")
  }

  // `win_islands` — gaps-and-islands: group CONSECUTIVE same-valued
  // runs (streaks) in an ordered log, the classic rn-difference trick:
  // within a user's timeline, (global row_number − per-type row_number)
  // is constant exactly along a run of one event_type and jumps when
  // the run breaks — turning "consecutive" (which SQL can't group by
  // directly) into an ordinary GROUP BY label. Distinct from
  // sessionize_batch: sessions break on time GAPS, islands break on
  // VALUE CHANGE. Two window passes (one user-keyed sort shared by
  // intent, one (user,type)-keyed) + one grouped agg; the island label
  // is internal — output keys on first_event so the contract never
  // depends on label arithmetic. The %20 slice keeps output
  // scale-invariant; (ts, event_id) is the total tie-break order.
  def winIslands(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .filter(col("user_id") % 20 === 0)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("island",
        row_number().over(w) - row_number().over(wt))
      .groupBy("user_id", "event_type", "island")
      .agg(count(lit(1)).as("run_len"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .filter(col("run_len") >= 2)
      .select(col("user_id"), col("event_type"), col("first_event"),
        col("last_event"), col("run_len"))
      .transform(Caches.persist) // r20 pre-sort persist: see Caches.persist
      .orderBy("user_id", "first_event")
  }

  // `table_diff` — dataset reconciliation (data-diff): classify every
  // key of two table versions as added / removed / changed / same — the
  // audit primitive behind pipeline regression tests, migration
  // sign-off and CDC validation. ONE full-outer hash join on the key
  // (each side shuffles once); per-class counts + key envelopes
  // aggregate the classification, so the driver sees a summary row per
  // class, never the diff body. v2 derives deterministically from the
  // event log (drop %97 keys, double click values, add shifted %101
  // keys) so both engines construct identical versions; the change
  // predicate compares the typed columns directly — no row-hash
  // formatting to keep cross-engine stable.
  def tableDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 4).as("value"))
    val v2 = v1.filter(col("event_id") % 97 =!= 0)
      .withColumn("value",
        when(col("event_type") === "click", round(col("value") * 2, 4))
          .otherwise(col("value")))
      .unionByName(
        v1.filter(col("event_id") % 101 === 0)
          .select((col("event_id") + 1000000).as("event_id"),
            col("event_type"), col("value")))
    val a = v1.select(col("event_id"), col("event_type").as("t1"),
      col("value").as("x1"))
    val b = v2.select(col("event_id"), col("event_type").as("t2"),
      col("value").as("x2"))
    a.join(b, Seq("event_id"), "full_outer")
      .withColumn("status",
        when(col("t1").isNull, "added")
          .when(col("t2").isNull, "removed")
          .when(col("t1") =!= col("t2") || col("x1") =!= col("x2"), "changed")
          .otherwise("same"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_key"),
        max(col("event_id")).as("max_key"))
      .orderBy("status")
  }

  // `agg_incremental_merge` — incremental aggregate maintenance (the
  // materialized-view refresh shape): yesterday's MATERIALIZED partial
  // states + today's raw delta = the refreshed aggregate, WITHOUT
  // re-scanning the historical corpus — at 100 TB the difference
  // between touching one day and touching three years, and the reason
  // aggregate state must be kept DECOMPOSED (avg is NOT mergeable;
  // (sum, n) is — the same partial-aggregation algebra Spark runs
  // map-side, applied across time). States are per-(day, type) rows in
  // integer MILLI-units (value is milli-exact in the fixture; integer
  // sums are order-independent, so merged-vs-recomputed equality is
  // exact, no summation-order ulp drift); the merge is a union of two
  // partial frames + one dimension-bounded re-agg. The oracle
  // recomputes the refreshed aggregate flat from raw events.
  def aggIncrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-16").cast("date")
    val ev = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        round(col("value") * 1000).cast("long").as("v_milli"))
    // the standing state: one partial row per (day, type), built once
    // from history (here: days before the cutoff)
    val state = ev.filter(col("day") < cutoff)
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("v_milli")).as("s_milli"))
    // the delta partials from the new day(s)' raw rows
    val delta = ev.filter(col("day") >= cutoff)
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("v_milli")).as("s_milli"))
    state.unionByName(delta)
      .groupBy("event_type")
      .agg(sum(col("n")).as("n"), sum(col("s_milli")).as("sum_milli"))
      .select(col("event_type"), col("n"), col("sum_milli"),
        round(col("sum_milli") / lit(1000.0) / col("n"), 4).as("avg_value"))
      .orderBy("event_type")
  }

  // `ts_ewma` — truncated exponentially-weighted moving average, the
  // third smoother in the family (mean win_moving_avg, median
  // win_median_smooth, now exponential decay — the one monitoring
  // stacks actually chart). The textbook recursion y_t = α·x_t +
  // (1−α)·y_{t−1} is inherently sequential and CANNOT be a window
  // aggregate; the factored closed form Σ x_i·α^(t−i) needs α^t /
  // α^(−i) rebasing that overflows doubles past ~1000 rows. The
  // scalable formulation truncates the tail: with α = 1/2 the weight
  // 8 steps back is 1/256 (< round-to-4 visibility), so an 8-term
  // lag chain over ONE user-keyed window sort IS the EWMA to output
  // precision — fixed per-row state, map-side after the sort, no
  // recursion. α = 1/2 is deliberate: every weight 0.5^j is an exact
  // power of two, each product is an exact halving chain, and the
  // fixed left-to-right addition order is written identically in both
  // engines — bitwise-deterministic cross-engine, not just
  // approximately equal. Leading rows renormalize over the weights
  // actually present (null lags contribute 0 to numerator and drop
  // their weight from the denominator) so the series starts unbiased
  // instead of damped toward zero.
  // `stat_chi2` — chi-squared test of independence (Pearson 1900)
  // over the event_type × user-cohort contingency table: the
  // hypothesis-test shape behind A/B-test readouts and categorical
  // data-drift monitors (at 100 TB: "did the event-type mix shift
  // between user cohorts?"). Scale shape: the contingency table is
  // ONE partial-agg shuffle onto a BOUNDED (|types|×|cohorts| = 5×4)
  // key space — the fact collapses map-side; row/column/grand totals
  // are windows over that 20-row frame (scalar-sized work, the
  // single-partition global window is over 20 rows by construction,
  // never the data). Output is PER-CELL: observed count, expected
  // count, and the cell's chi² contribution — the drill-down a drift
  // monitor actually renders (the scalar statistic is the trivial sum
  // of one bounded column downstream). Determinism: counts are exact
  // BIGINTs; expected/contribution are FIXED scalar expressions
  // (identical spelling and op order cross-engine → identical IEEE
  // doubles) rendered floor(x·1e6) — integer outputs, no round()
  // halfway exposure, and critically NO cross-row float summation
  // anywhere (the per-cell form dodges summation order entirely).
  def statChi2(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(col("event_type"), pmod(col("user_id"), lit(4L)).as("cohort"))
      .agg(count(lit(1)).as("o"))
    val wr = Window.partitionBy("event_type")
    val wc = Window.partitionBy("cohort")
    val wall = Window.partitionBy()
    val withTotals = cells
      .withColumn("rt", sum(col("o")).over(wr))
      .withColumn("ct", sum(col("o")).over(wc))
      .withColumn("n", sum(col("o")).over(wall))
    val e = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    val d = col("o").cast("double") - e
    withTotals
      .select(col("event_type"), col("cohort"), col("o"),
        floor(lit(1e6) * e).cast("long").as("e_x1e6"),
        floor(lit(1e6) * ((d * d) / e)).cast("long").as("chi2_x1e6"))
      .orderBy("event_type", "cohort")
  }

  // `stat_ks` — two-sample Kolmogorov–Smirnov statistic (Kolmogorov
  // 1933 / Smirnov 1939): D = max_x |F1(x) − F2(x)| between the
  // user-parity halves' value distributions — the CONTINUOUS drift
  // test completing stat_chi2's categorical one (the pair every
  // feature-drift monitor runs). Scale shape: the persisted
  // per-distinct-value side counts (`parityCounts`), then the global
  // CDF as `Prefix.runningSums` over the bounded value-range bucket
  // axis — never a single-partition global sort; totals derive from
  // the bucket frame (no second corpus scan) and broadcast.
  // Determinism:
  // D's maximization runs entirely in EXACT integers — at x the
  // unnormalized gap is |ca·n2 − cb·n1| (BIGINT; exact while
  // n1·n2 < 2^63, i.e. ~3·10⁹ rows per side — past that, switch the
  // gap to double with a floor render), and the argmax tie-breaks on
  // smallest x via a lexicographic struct-max (no float compare
  // anywhere). Output: the 1-row (d_num, n1, n2, value_at) exact
  // fraction — D = d_num/(n1·n2) is the consumer's one division.
  def statKs(spark: SparkSession, dir: String): DataFrame = {
    val pts = parityCounts(spark, dir)
    // via the bucket totals, so the plan reuses the kernel's bucket
    // exchange instead of scanning pts a third time
    val totals = pts.groupBy(col("bkt"))
      .agg(sum(col("a")).as("ba"), sum(col("b")).as("bb"))
      .agg(sum(col("ba")).as("n1"), sum(col("bb")).as("n2"))
    Prefix.runningSums(pts, Nil, Seq("bkt"), Seq("value"),
        Seq("ca" -> col("a"), "cb" -> col("b")), boundedBuckets = true)
      .join(broadcast(totals))
      .select(
        abs(col("ca") * col("n2") - col("cb") * col("n1")).as("diff"),
        col("value"), col("n1"), col("n2"))
      .agg(max(struct(col("diff").as("diff"),
        (col("value") * lit(-1.0)).as("negv"),
        col("n1").as("n1"), col("n2").as("n2"))).as("m"))
      .select(col("m.diff").as("d_num"),
        col("m.n1").as("n1"), col("m.n2").as("n2"),
        (col("m.negv") * lit(-1.0)).as("value_at"))
  }

  // Per-distinct-value side counts (value, a, b) plus the bounded
  // value-range bucket `bkt` of the two-level prefix sum — ONE
  // value-keyed partial-agg shuffle. Persisted: the kernel's bucket
  // totals and its running-sum probe both consume it, and without the
  // persist each branch would re-scan and re-aggregate the fact.
  private def valueCounts(ev: DataFrame, a: Column, b: Column): DataFrame =
    Caches.persist(ev.filter(col("value").isNotNull)
      .groupBy(col("value")).agg(sum(a).as("a"), sum(b).as("b"))
      .withColumn("bkt", floor(col("value") / lit(8.0)).cast("long")))

  // (value, a, b) over the user-parity halves: a counts even user_ids,
  // b odd ones — the two samples stat_ks and stat_mannwhitney compare.
  private def parityCounts(spark: SparkSession, dir: String): DataFrame = {
    val side = pmod(col("user_id"), lit(2L))
    valueCounts(Tables.events(spark, dir),
      when(side === 0L, lit(1L)).otherwise(lit(0L)),
      when(side === 1L, lit(1L)).otherwise(lit(0L)))
  }

  // The doubled-midrank rank-sum reduction over valueCounts' frame:
  // with t = a + b rows at a value and c the rows strictly before it,
  // the doubled midrank is m2 = 2·c + t + 1 (an exact BIGINT), and the
  // 1-row result is (r2 = Σ a·m2, n_a, n_b, tie_t = Σ t³ − t).
  private def midrankSums(pts: DataFrame): DataFrame =
    Prefix.runningSums(pts.withColumn("t", col("a") + col("b")), Nil,
        Seq("bkt"), Seq("value"), Seq("cum" -> col("t")),
        boundedBuckets = true)
      .withColumn("m2", lit(2L) * (col("cum") - col("t")) + col("t") + lit(1L))
      .agg(sum(col("a") * col("m2")).as("r2"),
        sum(col("a")).as("n_a"), sum(col("b")).as("n_b"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie_t"))

  // `stat_mannwhitney` — two-sample Mann-Whitney U rank-sum test
  // (Mann & Whitney 1947; Wilcoxon 1945) between the user-parity
  // halves' value distributions — completing the drift/hypothesis
  // trio (stat_chi2 categorical, stat_ks distributional shape, this
  // one location shift) with the RANK-based test that tolerates
  // heavy tails where a t-test does not. Tied values take midranks.
  // Scale shape: stat_ks's `parityCounts`, then `midrankSums` — the
  // strictly-before cumulative count is `Prefix.runningSums` minus
  // the row's own count, and the statistic is a 1-row reduce of
  // exact-integer products. Determinism: midranks are
  // fractional halves, so EVERYTHING carries DOUBLED ranks —
  // m2 = 2·c_before + t + 1 is an exact BIGINT, the doubled rank sum
  // R2 = Σ a·m2 and doubled U2 = R2 − n1·(n1+1) are exact (bounds:
  // R2 ≤ 2N² < 2^63 up to N ≈ 2·10⁹ rows; the tie term Σ t³−t needs
  // the heaviest tie group t < 2·10⁶ — documented switch-to-double
  // past that). The consumer's z-score is one division away from
  // (u2_a, n1, n2, tie_t); no float appears before the output.
  def statMannWhitney(spark: SparkSession, dir: String): DataFrame =
    midrankSums(parityCounts(spark, dir))
      .select(col("r2").as("r2_a"),
        (col("r2") - col("n_a") * (col("n_a") + lit(1L))).as("u2_a"),
        col("n_a").as("n1"), col("n_b").as("n2"), col("tie_t"))

  def tsEwma(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    // j = 0 is UNCONDITIONAL (bare value·1.0, constant 1.0 weight) to
    // mirror the oracle exactly: a NULL current value propagates to a
    // NULL ewma in both engines instead of silently renormalizing on
    // one side only (ADVICE r12 — latent with the non-null fixture,
    // divergent on any future nullable value column).
    val lags = (0 until 8).map { j =>
      if (j == 0) (col("value") * lit(1.0), lit(1.0))
      else {
        val v = lag(col("value"), j).over(w)
        val wt = lit(math.pow(0.5, j))
        (coalesce(v, lit(0.0)) * wt,
          when(v.isNotNull, wt).otherwise(lit(0.0)))
      }
    }
    val num = lags.map(_._1).reduce(_ + _)
    val den = lags.map(_._2).reduce(_ + _)
    Tables.events(spark, dir)
      .filter(pmod(col("user_id"), lit(20)) === 0)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .select(col("event_id"), col("user_id"),
        round((num / den), 4).as("ewma"))
      .transform(Caches.persist) // r20 pre-sort persist: see Caches.persist
      .orderBy("event_id")
  }

  // `ts_forecast_holt` — Holt's linear-trend double exponential
  // smoothing (Holt 1957 / Hyndman & Athanasopoulos FPP, public): the
  // level+trend recursion l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1}),
  // b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}, with h-step forecasts
  // ŷ_{T+h} = l_T + h·b_T — the first real FORECASTER in the ts_*
  // family (ts_ewma smooths, ts_seasonal_profile averages; this one
  // extrapolates, the capacity-planning primitive).
  //
  // Unlike ts_ewma's single recursion, Holt's TWO-state recursion has
  // complex eigenvalues (|λ| = √½ at α=β=½), so no truncated lag chain
  // is faithful; instead the fold runs EXACTLY, per series, inside one
  // codegen'd `aggregate` higher-order function over the sorted
  // (ts, event_id, cents) array — sequential by construction, which is
  // precisely what a recursion needs, and the per-series array is the
  // bounded per-entity state any production forecaster holds anyway
  // (series length scales with the entity's history, never the
  // corpus). Scale shape: one (user_id) partial-agg shuffle, then the
  // fold and every render are map-side — embarrassingly parallel
  // across series at 100 TB.
  //
  // Determinism: α=β=½ makes every update a halving (exponent shift)
  // of sums written in a FIXED order — l' = (y + (l + b)) / 2,
  // b' = ((l' − l) / 2) + (b / 2) — spelled identically in the Spark
  // lambda and the oracle's recursive CTE, so every intermediate IEEE
  // double is bit-identical cross-engine (the ts_ewma α=½ rule
  // extended to a 2-state fold); values enter as exact BIGINT cents
  // (the stat_ttest recipe), init (l₁, b₁) = (y₁, 0), renders are
  // floor(10⁶·x) on those identical doubles. The oracle replays the
  // whole trajectory with a recursive CTE (the token_bpe_train
  // whole-trajectory convention) — one iteration per step, all series
  // advancing together.
  def tsForecastHolt(spark: SparkSession, dir: String): DataFrame = {
    val sorted = Tables.events(spark, dir)
      .filter(col("value").isNotNull && pmod(col("user_id"), lit(20)) === 0)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("c")))).as("s"))
    sorted.select(col("user_id"), size(col("s")).cast("long").as("n"),
        expr("""aggregate(
          slice(s, 2, size(s)),
          struct(CAST(element_at(s, 1).c AS DOUBLE) AS l,
                 CAST(0.0 AS DOUBLE) AS b),
          (acc, x) -> struct(
            (CAST(x.c AS DOUBLE) + (acc.l + acc.b)) / 2 AS l,
            (((CAST(x.c AS DOUBLE) + (acc.l + acc.b)) / 2) - acc.l) / 2
              + acc.b / 2 AS b))""").as("st"))
      .select(col("user_id"), col("n"),
        floor(lit(1e6) * col("st.l")).cast("long").as("level_micro"),
        floor(lit(1e6) * col("st.b")).cast("long").as("trend_micro"),
        floor(lit(1e6) * (col("st.l") + lit(1.0) * col("st.b")))
          .cast("long").as("f1_micro"),
        floor(lit(1e6) * (col("st.l") + lit(2.0) * col("st.b")))
          .cast("long").as("f2_micro"),
        floor(lit(1e6) * (col("st.l") + lit(3.0) * col("st.b")))
          .cast("long").as("f3_micro"))
      .orderBy("user_id")
  }

  // `ts_holt_winters` — additive Holt-Winters triple exponential
  // smoothing (Winters 1960 / Hyndman & Athanasopoulos FPP, public):
  // level + trend + SEASONAL state, completing the classical
  // forecasting triad (ts_ewma smooths, ts_forecast_holt trends, this
  // one repeats — the capacity curve with a daily/weekly cycle).
  // Season here is POSITIONAL with period 8 over each series' ordered
  // steps (production resamples to the calendar grain first —
  // ts_resample — and sets the period to the cycle length; the
  // mechanics are identical).
  //
  // Recursion at α=β=γ=½ (every update a halving of sums in fixed
  // order, the ts_forecast_holt rule extended to three states):
  //   l' = ((y − s_idx) + (l + b)) / 2
  //   b' = ((l' − l) / 2) + b / 2
  //   s_idx' = ((y − l') + s_idx) / 2        (other 7 slots carried)
  // with idx = (t − 1) mod 8, init (l₁, b₁, s·) = (y₁, 0, 0⃗) — the
  // flat-zero seasonal init needs NO division, so exactness never
  // depends on the period. The 8 seasonal slots are NAMED STRUCT
  // FIELDS (s0..s7) updated through an explicit CASE in both the
  // Spark aggregate() lambda and the oracle's recursive CTE — the one
  // representation whose element selection is spelled identically in
  // both engines (array indexing is 0-based in Spark, 1-based in
  // DuckDB — a named field cannot off-by-one). Forecasts ŷ_{T+h} =
  // l + h·b + s_{(T+h−1) mod 8}, h = 1..3. Scale shape: identical to
  // ts_forecast_holt — one (user_id) partial-agg shuffle, fold and
  // renders map-side, per-series state is 10 doubles.
  def tsHoltWinters(spark: SparkSession, dir: String): DataFrame = {
    val sPrev = "(CASE (acc.t % 8) " +
      (0 until 8).map(k => s"WHEN $k THEN acc.s$k").mkString(" ") + " END)"
    val lNew = s"((CAST(x.c AS DOUBLE) - $sPrev) + (acc.l + acc.b)) / 2"
    val sFields = (0 until 8).map(k =>
      s"CASE WHEN acc.t % 8 = $k THEN ((CAST(x.c AS DOUBLE) - ($lNew)) " +
        s"+ acc.s$k) / 2 ELSE acc.s$k END AS s$k").mkString(",\n            ")
    val sorted = Tables.events(spark, dir)
      .filter(col("value").isNotNull && pmod(col("user_id"), lit(20)) === 0)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("c")))).as("s"))
    val zeros = (0 until 8).map(k =>
      s"CAST(0.0 AS DOUBLE) AS s$k").mkString(", ")
    val folded = sorted.select(col("user_id"),
      size(col("s")).cast("long").as("n"),
      expr(s"""aggregate(
        slice(s, 2, size(s)),
        struct(CAST(element_at(s, 1).c AS DOUBLE) AS l,
               CAST(0.0 AS DOUBLE) AS b, $zeros, 1 AS t),
        (acc, x) -> struct(
          $lNew AS l,
          ((($lNew) - acc.l) / 2) + acc.b / 2 AS b,
          $sFields,
          acc.t + 1 AS t))""").as("st"))
    val sAt = (h: Int) => // s_{(T+h-1) mod 8}: T = st.t (1-based last step)
      "(CASE ((st.t + " + (h - 1) + ") % 8) " +
        (0 until 8).map(k => s"WHEN $k THEN st.s$k").mkString(" ") + " END)"
    folded.select(col("user_id"), col("n"),
      floor(lit(1e6) * col("st.l")).cast("long").as("level_micro"),
      floor(lit(1e6) * col("st.b")).cast("long").as("trend_micro"),
      expr(s"CAST(floor(1e6 * (st.l + 1.0 * st.b + ${sAt(1)})) AS BIGINT)")
        .as("f1_micro"),
      expr(s"CAST(floor(1e6 * (st.l + 2.0 * st.b + ${sAt(2)})) AS BIGINT)")
        .as("f2_micro"),
      expr(s"CAST(floor(1e6 * (st.l + 3.0 * st.b + ${sAt(3)})) AS BIGINT)")
        .as("f3_micro"))
      .orderBy("user_id")
  }

  // `stat_ttest` — Welch's unequal-variance two-sample t-test between
  // the user-parity halves, completing the hypothesis quartet
  // (stat_chi2 categorical, stat_ks shape, stat_mannwhitney rank
  // location, this one MEAN shift with the classical parametric
  // machinery — the cheap first gate when tails are known benign).
  // Scale shape: the whole test is ONE conditional-moment reduce — six
  // exact BIGINT sums (n, Σcents, Σcents² per side) with map-side
  // partials, no shuffle wider than the 1-row frame; at 100 TB this is
  // the minimal-possible pass. Determinism: the only cross-row
  // reductions are integer-exact and order-independent; t and the
  // Welch–Satterthwaite df then derive through a FIXED scalar IEEE
  // expression tree evaluated identically in both engines (the
  // agg_weighted identical-division-sequence rule), sqrt is
  // IEEE-exact, and the render is floor(x·1e6) — never round() on a
  // non-decimal quotient. Bounds: Σcents² ≤ n·(5·10⁴)² stays exact in
  // BIGINT to n ≈ 3.7·10⁹ rows/side and the double cast is
  // value-identical cross-engine regardless.
  def statTtest(spark: SparkSession, dir: String): DataFrame = {
    val side = pmod(col("user_id"), lit(2L))
    val c = round(col("value") * 100).cast("long")
    val mo = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(side.as("side"), c.as("c"))
      .agg(
        sum(when(col("side") === 0L, lit(1L)).otherwise(lit(0L))).as("n1"),
        sum(when(col("side") === 1L, lit(1L)).otherwise(lit(0L))).as("n2"),
        sum(when(col("side") === 0L, col("c")).otherwise(lit(0L))).as("s1"),
        sum(when(col("side") === 1L, col("c")).otherwise(lit(0L))).as("s2"),
        sum(when(col("side") === 0L, col("c") * col("c"))
          .otherwise(lit(0L))).as("q1"),
        sum(when(col("side") === 1L, col("c") * col("c"))
          .otherwise(lit(0L))).as("q2"))
    val nd1 = col("n1").cast("double"); val nd2 = col("n2").cast("double")
    val m1 = col("s1").cast("double") / nd1
    val m2 = col("s2").cast("double") / nd2
    val v1 = (col("q1").cast("double") - col("s1").cast("double") * m1) /
      (nd1 - lit(1.0))
    val v2 = (col("q2").cast("double") - col("s2").cast("double") * m2) /
      (nd2 - lit(1.0))
    val u1 = v1 / nd1; val u2 = v2 / nd2
    val se2 = u1 + u2
    val t = (m1 - m2) / sqrt(se2)
    val df = (se2 * se2) /
      (u1 * u1 / (nd1 - lit(1.0)) + u2 * u2 / (nd2 - lit(1.0)))
    mo.select(col("n1"), col("n2"), col("s1"), col("s2"),
      col("q1"), col("q2"),
      floor(t * lit(1e6)).cast("long").as("t_micro"),
      floor(df * lit(1e6)).cast("long").as("df_micro"))
  }

  // `eval_calibration` — classifier reliability diagram (the ECE
  // input): bin predictions into 10 deciles, emit per-bin count, mean
  // predicted probability and observed positive rate — the other half
  // of the eval surface next to eval_auc (AUC measures ranking;
  // calibration measures whether 0.7 MEANS 70%). Fixture: the
  // prediction is a uniform md5 milli-draw p ∈ [0,1000); the label is
  // a SECOND independent md5 draw < p, so the fixture is perfectly
  // calibrated in expectation and the observed rate tracks the bin
  // mean. Scale shape: ONE map-side-partial aggregate pass over a
  // 10-row bounded group-by — the minimal pass, like stat_ttest.
  // Determinism: everything integer — bin = p_milli div 100, renders
  // are exact BIGINT floor divisions (avg_pred_micro = 1000·Σp div n,
  // frac_pos_micro = 10⁶·pos div n); no float anywhere.
  def evalCalibration(spark: SparkSession, dir: String): DataFrame = {
    def draw(p: String): Column = pmod(
      conv(substring(md5(concat(lit(p), col("event_id").cast("string"))),
        1, 6), 16, 10).cast("long"), lit(1000L))
    Tables.events(spark, dir)
      .select(draw("p:").as("p_milli"), draw("l:").as("l_milli"))
      .select(expr("p_milli div 100").as("bin"), col("p_milli"),
        (col("l_milli") < col("p_milli")).cast("long").as("pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("p_milli")).as("sum_p_milli"),
        sum(col("pos")).as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("CAST((1000 * sum_p_milli) div n AS BIGINT)")
          .as("avg_pred_micro"),
        expr("CAST((1000000 * n_pos) div n AS BIGINT)")
          .as("frac_pos_micro"))
      .orderBy("bin")
  }

  // `ts_autocorr` — per-entity lag-k autocorrelation (k = 1..3) of the
  // value series ordered by (ts, event_id): the standard seasonality /
  // momentum screen a metrics platform runs per series before fitting
  // anything heavier. Pearson r over the lag-paired rows from SIX
  // exact BIGINT conditional moments per lag (n, Σx, Σy, Σxy, Σx²,
  // Σy²) — the stat_ttest discipline applied to lag pairs. Scale
  // shape: one (user)-hash exchange serves the ordering window AND the
  // final per-user agg (same-key reuse, the eval_retrieval shape);
  // per-series state is bounded by series length — the suite's
  // bounded-window contract; the lag chain is in-partition.
  // Determinism: moments are exact ints; the terminal
  // (n·Σxy − ΣxΣy)/sqrt((n·Σx²−Σx²)·(n·Σy²−Σy²)) evaluates an
  // identical IEEE tree on identical ints (int→double cast is
  // round-to-nearest in both engines), sqrt is IEEE-exact, render is
  // floor(r·1e6); zero-variance lags guarded by exact integer
  // comparisons. Bounds: n·Σx² ≤ 4.5·10¹⁷ at 67k events/user — fits
  // BIGINT to ~10⁶ rows/series (documented switch-to-double past).
  def tsAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
    val withLags = (1 to 3).foldLeft(base) { (df, k) =>
      df.withColumn(s"c$k", lag(col("c"), k).over(w))
    }
    def micro(k: Int): Column = {
      val (n, sx, sy) = (col(s"n$k"), col(s"sx$k"), col(s"sy$k"))
      val (sxy, sxx, syy) = (col(s"sxy$k"), col(s"sxx$k"), col(s"syy$k"))
      val dx = n * sxx - sx * sx
      val dy = n * syy - sy * sy
      when(dx > 0L && dy > 0L,
        floor((n * sxy - sx * sy).cast("double") /
          sqrt(dx.cast("double") * dy.cast("double")) * lit(1e6))
          .cast("long"))
    }
    def moments(k: Int): Seq[Column] = {
      val ok = col(s"c$k").isNotNull
      Seq(
        sum(when(ok, 1L).otherwise(0L)).as(s"n$k"),
        sum(when(ok, col("c")).otherwise(0L)).as(s"sx$k"),
        sum(when(ok, col(s"c$k")).otherwise(0L)).as(s"sy$k"),
        sum(when(ok, col("c") * col(s"c$k")).otherwise(0L)).as(s"sxy$k"),
        sum(when(ok, col("c") * col("c")).otherwise(0L)).as(s"sxx$k"),
        sum(when(ok, col(s"c$k") * col(s"c$k")).otherwise(0L)).as(s"syy$k"))
    }
    val aggs = (1 to 3).flatMap(moments)
    withLags
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_obs"), aggs: _*)
      .filter(col("n_obs") >= 10L)
      .select(col("user_id"), col("n_obs"),
        micro(1).as("r1_micro"), micro(2).as("r2_micro"),
        micro(3).as("r3_micro"))
      .orderBy("user_id")
  }

  // `stat_runs` — Wald–Wolfowitz runs test per user (1940): is the
  // above/below-mean sign sequence RANDOM, or does it trend/cluster?
  // — the serial-dependence screen completing the hypothesis shelf
  // (chi2 categorical, ks shape, mannwhitney location, ttest mean,
  // this one ORDER). The sign is the exact integer comparison
  // n·c > S (strictly above the user mean with the denominator
  // cleared — the ts_changepoint scaling trick), so no float enters
  // the run segmentation; runs = sign changes + 1 over the
  // (ts, event_id) order. z renders once at the end through the
  // identical IEEE tree on exact ints (μ = 1 + 2ab/n,
  // σ² = 2ab(2ab−n)/(n²(n−1))), floor(z·10⁶). Scale shape: the
  // full-partition moments window, the lag window and the per-user
  // agg all ride ONE (user_id)-hash exchange. Selects, not one
  // withColumn per column: each withColumn re-analyses the whole
  // growing window plan at construct. The lag is named once (`prev`):
  // spelled twice inside the CASE it planned as two window functions.
  def statRuns(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy("user_id")
    val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      .select(col("user_id"), col("ts"), col("event_id"),
        (count(lit(1)).over(wAll) * col("c") > sum(col("c")).over(wAll))
          .cast("long").as("pos"))
      .select(col("user_id"), col("ts"), col("event_id"), col("pos"),
        lag(col("pos"), 1).over(wOrd).as("prev"))
      .select(col("user_id"), col("ts"), col("event_id"), col("pos"),
        when(col("prev").isNull, 1L)
          .when(col("prev") =!= col("pos"), 1L)
          .otherwise(0L).as("chg"))
    val agg = base.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("a"),
        sum(col("chg")).as("n_runs"))
      .filter(col("n") >= 20L)
    val (n, a) = (col("n").cast("double"), col("a").cast("double"))
    val b = n - a
    val mu = lit(1.0) + lit(2.0) * a * b / n
    val sig2 = lit(2.0) * a * b * (lit(2.0) * a * b - n) /
      (n * n * (n - lit(1.0)))
    agg.select(col("user_id"), col("n"), col("a"), col("n_runs"),
      when(col("a") > 0L && col("a") < col("n"),
        floor((col("n_runs").cast("double") - mu) / sqrt(sig2) * lit(1e6))
          .cast("long")).as("z_micro"))
      .transform(Caches.persist) // r20 pre-sort persist: see Caches.persist
      .orderBy("user_id")
  }

  // `stat_benford` — first-significant-digit distribution (Benford
  // 1938): the classic fabricated-data / fraud screen — natural
  // multiplicative quantities put ~30.1% of leading digits at 1,
  // uniform synthetics don't, and the DEVIATION is the signal. Emits
  // observed count + exact-ppm share per digit (the log-expected
  // curve is the consumer's lookup table — ln() never enters the
  // hash surface). Scale shape: ONE agg pass into a 9-row bounded
  // group-by with map-side partials. Determinism: the leading digit
  // of the exact cent integer via decimal string rendering —
  // identical in both engines; counts and ppm exact BIGINTs.
  def statBenford(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(expr("CAST(substring(CAST(CAST(round(value * 100) AS BIGINT)" +
        " AS STRING), 1, 1) AS BIGINT)").as("digit"))
      .filter(col("digit") >= 1L)
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("n_tot"))
    digits.join(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("CAST((1000000 * n) div n_tot AS BIGINT)").as("share_ppm"))
      .orderBy("digit")
  }

  // `anomaly_rolling_z` — ROLLING-window z-score outliers: flag
  // events deviating > 2.5σ from their ±10-row LOCAL neighborhood in
  // the user's timeline — the nonstationary complement to
  // anomaly_zscore's global per-user moments (a drifting baseline
  // makes global σ blind to local spikes). The float z is eliminated
  // by clearing denominators: z² > k² ⟺ 4·(n·c − S)² > 25·(n·Q − S²)
  // for k = 5/2, with S/Q the window's exact cent sum / sum-of-squares
  // — an exact BIGINT inequality (bounds: (n·c−S)² ≤ (21·10⁴)² ≈
  // 4·10¹⁰ per row at the 21-row frame). Scale shape: two frame sums
  // + the row term over ONE (user_id)-hash exchange; frame is
  // constant-width rows-between. Output: the flagged rows with their
  // scaled deviation — every column BIGINT.
  def anomalyRollingZ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-10, 10)
    Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("c")).over(w))
      .withColumn("q", sum(col("c") * col("c")).over(w))
      .filter(col("n") >= 11L)
      .withColumn("dev", col("n") * col("c") - col("s"))
      .withColumn("var_sc", col("n") * col("q") - col("s") * col("s"))
      .filter(lit(4L) * col("dev") * col("dev") >
        lit(25L) * col("var_sc"))
      .select(col("user_id"), col("event_id"), col("c"), col("n"),
        col("dev"), col("var_sc"))
      .transform(Caches.persist) // r20 pre-sort persist: see Caches.persist
      .orderBy("user_id", "event_id")
  }

  // `eval_pr_curve` — precision/recall curve at 10 threshold cuts
  // (the PR table behind every threshold-tuning decision), completing
  // the classifier-eval family (auc ranks, calibration checks
  // probability meaning, confusion grades ONE threshold — this one
  // sweeps them). Same md5 fixture as eval_calibration. Scale shape:
  // ONE conditional-count agg pass — 20 CASE sums (tp/fp per
  // threshold) with map-side partials — then a 10-row stack; never a
  // pass per threshold. Determinism: all-integer counts, precision/
  // recall by exact BIGINT floor division with nullif guards.
  def evalPrCurve(spark: SparkSession, dir: String): DataFrame = {
    def draw(p: String): Column = pmod(
      conv(substring(md5(concat(lit(p), col("event_id").cast("string"))),
        1, 6), 16, 10).cast("long"), lit(1000L))
    val base = Tables.events(spark, dir)
      .select(draw("p:").as("p_milli"),
        (draw("l:") < draw("p:")).cast("long").as("label"))
    val aggs = (0 until 10).flatMap { t =>
      val thr = t * 100L
      Seq(
        sum(when(col("p_milli") >= thr && col("label") === 1L, 1L)
          .otherwise(0L)).as(s"tp$t"),
        sum(when(col("p_milli") >= thr && col("label") === 0L, 1L)
          .otherwise(0L)).as(s"fp$t"))
    }
    val stackExpr = (0 until 10).map { t =>
      s"${t * 100}L, tp$t, fp$t"
    }.mkString("stack(10, ", ", ", ") AS (thr_milli, tp, fp)")
    base
      .agg(sum(col("label")).as("n_pos"), aggs: _*)
      .select(col("n_pos"), expr(stackExpr))
      .select(col("thr_milli"), col("tp"), col("fp"),
        expr("CAST((1000000 * tp) div nullif(tp + fp, 0) AS BIGINT)")
          .as("precision_micro"),
        expr("CAST((1000000 * tp) div nullif(n_pos, 0) AS BIGINT)")
          .as("recall_micro"))
      .orderBy("thr_milli")
  }

  // `stat_gini_impurity` — per-group Gini impurity of a binary label
  // (the CART split criterion, Breiman 1984): how mixed each
  // event_type is on the value ≥ 50 band — the feature-split /
  // segmentation-quality screen, and the categorical sibling of
  // corpus_gini's concentration curve. The float form 1 − Σp² is
  // eliminated by N²-scaling: gini·N² = 2·n_pos·(N−n_pos) for a
  // binary label, so gini_ppm = 10⁶·2·n_pos·(N−n_pos) div N² is an
  // exact BIGINT end-to-end (bounds: 10⁶·2·n_pos·n_neg ≤ 5·10¹⁷ at
  // 10⁶ rows/group — documented). Scale shape: ONE conditional-count
  // agg pass into a type-bounded group-by — the stat_ttest minimal
  // pass.
  def statGiniImpurity(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        (col("value") >= 50.0).cast("long").as("pos"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      .select(col("event_type"), col("n"), col("n_pos"),
        expr("CAST((1000000 * 2 * n_pos * (n - n_pos)) div (n * n)" +
          " AS BIGINT)").as("gini_ppm"))
      .orderBy("event_type")
  }

  // `ts_interarrival` — inter-arrival cadence profile per event type:
  // gaps between a user's consecutive events of the same type, summed
  // to per-type n / min / max / exact mean / median — the traffic-
  // cadence screen behind rate-limiters and staleness alerts. Scale
  // shape: the lag window partitions on (user_id, event_type) —
  // bounded per-user history, the sessionize contract — then one
  // bounded (event_type)-keyed agg with map-side partials.
  // Determinism: gaps are exact epoch-micro BIGINTs (unix_micros ≡
  // epoch_us); mean renders by exact floor division; the median
  // interpolates two exact ints at h ∈ {0, ½} so DOUBLING it
  // (p50_gap_us_x2) is an exact integer on both engines — the float
  // dies before the hash surface.
  def tsInterarrival(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap_us"),
        max(col("gap")).as("max_gap_us"),
        sum(col("gap")).as("sum_gap_us"),
        expr("percentile(gap, 0.5)").as("p50"))
      .select(col("event_type"), col("n_gaps"), col("min_gap_us"),
        col("max_gap_us"),
        expr("CAST(sum_gap_us div n_gaps AS BIGINT)").as("mean_gap_us"),
        (col("p50") * lit(2.0)).cast("long").as("p50_gap_us_x2"))
      .orderBy("event_type")
  }

  // `assoc_rules` — market-basket association mining (Agrawal &
  // Srikant 1994's measures on the bipartite user–event_type graph):
  // support / confidence / lift for every co-occurring event-type
  // pair — the "users who did X also did Y" screen recommenders and
  // growth analytics run first. Scale shape: the log collapses ONCE
  // to the distinct (user, item) frame (one user-keyed agg — the
  // retention_cohort discipline), the pair join is per-user bounded
  // (≤ |item domain|² per user, item domain = 5 here; production
  // prunes to top-k items first — never log×log), and the measure
  // joins are broadcast (item counts are domain-sized, the user total
  // is 1 row). Determinism: all three measures are exact BIGINT floor
  // divisions — support_ppm = 10⁶·n_ab div N, conf = 10⁶·n_ab div
  // n_a, lift = 10⁶·n_ab·N div (n_a·n_b) — no float anywhere.
  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_type")).distinct()
    val itemN = base.groupBy("event_type").agg(count(lit(1)).as("n_item"))
    val userN = base.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val pairs = base.select(col("user_id"), col("event_type").as("it_a"))
      .join(base.select(col("user_id"), col("event_type").as("it_b")),
        Seq("user_id"))
      .filter(col("it_a") < col("it_b"))
      .groupBy("it_a", "it_b").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(itemN.select(col("event_type").as("it_a"),
        col("n_item").as("n_a"))), Seq("it_a"))
      .join(broadcast(itemN.select(col("event_type").as("it_b"),
        col("n_item").as("n_b"))), Seq("it_b"))
      .join(broadcast(userN))
      .select(col("it_a"), col("it_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_users"),
        expr("CAST((1000000 * n_ab) div n_users AS BIGINT)")
          .as("support_ppm"),
        expr("CAST((1000000 * n_ab) div n_a AS BIGINT)")
          .as("conf_micro"),
        expr("CAST((1000000 * n_ab * n_users) div (n_a * n_b) AS BIGINT)")
          .as("lift_micro"))
      .orderBy("it_a", "it_b")
  }

  // `feat_target_encode` — LEAVE-ONE-OUT target encoding (the
  // Micci-Barreca 2001 categorical encoder, LOO form): replace each
  // row's category with the mean target of the OTHER rows in its
  // category, (S_g − c_i)/(n_g − 1) — the standard high-cardinality
  // categorical feature, and the LOO subtraction is what prevents the
  // row's own label from leaking into its feature. Scale shape: one
  // BOUNDED (type-keyed) agg broadcast back over the fact + a map
  // render — the feat_minmax / anomaly_zscore two-pass discipline.
  // Determinism: exact cents; render = 10⁶·(S−c) div nullif(n−1, 0)
  // exact BIGINT floor division, singleton categories null out.
  def featTargetEncode(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
    val stats = ev.groupBy("event_type")
      .agg(sum(col("c")).as("s_g"), count(lit(1)).as("n_g"))
    ev.join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("c"),
        expr("CAST((1000000 * (s_g - c)) div nullif(n_g - 1, 0)" +
          " AS BIGINT)").as("loo_mean_microcent"))
      .orderBy("event_id")
  }

  // `eval_regression` — regression-error metrics (MAE, bias, RMSE)
  // for a scored predictor, completing the eval family for continuous
  // targets (eval_auc/confusion/calibration grade classifiers). The
  // fixture predictor is value + uniform md5 noise in [−500, 500)
  // cents, so the error column IS the draw — the metrics measure it
  // exactly and every engine replays it. Scale shape: ONE
  // conditional-moment aggregate pass (n, Σ|e|, Σe, Σe²) with
  // map-side partials — the stat_ttest minimal pass. Determinism:
  // errors are exact integer cents; MAE/bias render by BIGINT floor
  // division (milli-cents); RMSE's single sqrt runs on the IEEE
  // quotient of exactly-representable ints (Σe² ≤ 2.5·10⁵·N — safe
  // past 10¹² rows), then floor(x·10³).
  def evalRegression(spark: SparkSession, dir: String): DataFrame = {
    val err = pmod(conv(substring(md5(concat(lit("e:"),
      col("event_id").cast("string"))), 1, 6), 16, 10).cast("long"),
      lit(1000L)) - lit(500L)
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(err.as("e"))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("e"))).as("sum_abs_err"),
        sum(col("e")).as("sum_err"),
        sum(col("e") * col("e")).as("sum_sq_err"))
      .select(col("n"), col("sum_abs_err"), col("sum_err"),
        col("sum_sq_err"),
        expr("CAST((1000 * sum_abs_err) div n AS BIGINT)")
          .as("mae_millicent"),
        expr("CAST((1000 * sum_err) div n AS BIGINT)")
          .as("bias_millicent"),
        floor(sqrt(col("sum_sq_err").cast("double") /
          col("n").cast("double")) * lit(1e3)).cast("long")
          .as("rmse_millicent"))
  }

  // `ts_seasonal_profile` — day-of-week seasonality profile: per-dow
  // event count, mean value, and relative deviation from the global
  // mean — the first seasonality screen (is weekend traffic
  // different?) every metrics platform renders, and the input to
  // dow-adjusted anomaly thresholds. Scale shape: ONE aggregate pass
  // with map-side partials into a 7-row bounded group-by + a 1-row
  // global broadcast — the dq_kanonymity shape on the time axis.
  // Determinism: dow extracted in the pinned UTC session; means
  // render by exact BIGINT floor division (micro-cents); the relative
  // deviation (n_tot·S_d − n_d·S_tot)/(n_d·S_tot) evaluates one IEEE
  // division of exactly-representable ints (< 2^53 far past fixture
  // scales) then floor(x·10⁶) — never round().
  def tsSeasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    val byDow = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select((dayofweek(col("ts")) - lit(1)).cast("long").as("dow"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_d"), sum(col("c")).as("s_d"))
    val tot = byDow.agg(sum(col("n_d")).as("n_tot"),
      sum(col("s_d")).as("s_tot"))
    byDow.join(broadcast(tot))
      .select(col("dow"), col("n_d"),
        expr("CAST((1000000 * s_d) div n_d AS BIGINT)")
          .as("mean_microcent"),
        floor((col("n_tot") * col("s_d") - col("n_d") * col("s_tot"))
          .cast("double") /
          (col("n_d") * col("s_tot")).cast("double") * lit(1e6))
          .cast("long").as("dev_ppm"))
      .orderBy("dow")
  }

  // `ts_changepoint` — CUSUM changepoint detection (Page 1954) per
  // entity: the point t that maximizes |cumulative deviation from the
  // series mean| — the standard "where did the level shift" screen a
  // metrics platform runs on every series. The textbook statistic
  // cusum_t = Σ_{i≤t}(x_i − μ) needs the float mean μ; scaling by n
  // keeps it EXACT: n·cusum_t = n·prefix_t − t·S (prefix/total sums
  // of cents) is an exact BIGINT, and argmax over it picks the same t
  // as the float version because n > 0 is a monotone scale. Scale
  // shape: all four windows (row index, running sum, total, argmax
  // pick) ride ONE (user_id)-hash exchange; per-series state bounded
  // by series length. Determinism: ties on |dev| break by smallest t
  // (total order); everything BIGINT — bounds: n·prefix ≤ 4.5·10¹³
  // at 67k events/series, exact to ~10⁶ rows/series.
  def tsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("user_id")
    val base = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("prefix", sum(col("c")).over(wRun))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("c")).over(wAll))
      .withColumn("dev_scaled",
        col("n") * col("prefix") - col("t") * col("s"))
    val wPick = Window.partitionBy("user_id")
      .orderBy(abs(col("dev_scaled")).desc, col("t"))
    base
      .withColumn("pick", row_number().over(wPick))
      .filter(col("pick") === 1 && col("n") >= 10L)
      .select(col("user_id"), col("n"), col("t").as("cp_t"),
        col("event_id").as("cp_event_id"), col("dev_scaled"))
      .transform(Caches.persist) // r20 pre-sort persist: see Caches.persist
      .orderBy("user_id")
  }

  // `event_attribution` — LAST-TOUCH marketing attribution: each
  // purchase is credited to the nearest preceding non-purchase
  // touchpoint in the same user's timeline (the attribution model
  // every growth team runs first). The per-purchase channel is
  // last(ignoreNulls) of the touch events over the
  // rows-before-current frame — the win_ignore_nulls machinery
  // applied to the attribution business op — then ONE bounded
  // (channel)-keyed count. Unattributed purchases (no prior touch)
  // land in 'none' rather than dropping. Scale shape: one
  // (user_id)-hash exchange for the timeline window, then a
  // channel-bounded agg with map-side partials; per-user history
  // bounded — the sessionize contract. Determinism: (ts, event_id)
  // total order; counts exact BIGINTs.
  def eventAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("view", "click", "signup"),
      col("event_type"))
    Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .withColumn("channel",
        last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(coalesce(col("channel"), lit("none")).as("channel"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy("channel")
  }

  // `stat_bootstrap` — bootstrap distribution of the mean via the
  // MULTIPLIER bootstrap (Efron 1979 resampling, reweighted form):
  // B=20 replicates where each row enters replicate b with a
  // deterministic integer weight w ∈ {0,1,2} (E[w]=1) drawn from
  // md5(b, event_id) — the distributed form of resampling (per-row
  // i.i.d. weights need no global index or shared RNG state, and a
  // hash draw makes the whole distribution re-runnable bit-for-bit;
  // production uses the same trick as "Poisson bootstrap"). The
  // consumer reads the 20-row mean table as the CI. Scale shape: a
  // constant 20× row explode (documented — the price of B replicates
  // in one pass) into a B-bounded group-by with map-side partials;
  // ONE scan, one tiny shuffle. Determinism: weights and sums are
  // exact BIGINTs; mean renders are exact floor divisions
  // (10⁶·Σwc div Σw, cents ⇒ bounds hold to ~10⁸ rows).
  def statBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val b = 20
    // ONE md5 per row, not per (row, replicate): replicate b's weight
    // reads the 3-hex window h[b+1..b+3] of the row's single 32-hex
    // digest (overlapping windows are fine — adjacent replicates stay
    // decorrelated enough for a CI fixture, and the draw is exactly
    // replayable). 4096 % 3 = 1 gives a 1/4096 residue bias toward 0
    // — irrelevant to the machinery and documented. Measured 1.8 s →
    // 0.9 s at sf0.1 (md5 was the explode's dominant cost).
    val w = pmod(conv(expr("substring(h, b + 1, 3)"), 16, 10)
      .cast("long"), lit(3L))
    // r19: the md5 + 20x explode + window-draw chain is the scan
    // stage's compute — fan the unsplittable fixture scan out first
    // (guide §2.5; no-op on splittable production layouts)
    Tables.fannedEvents(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"),
        round(col("value") * 100).cast("long").as("c"),
        md5(col("event_id").cast("string")).as("h"))
      .select(col("h"), col("c"),
        explode(sequence(lit(0), lit(b - 1))).as("b"))
      .select(col("b").cast("long").as("b"), w.as("w"), col("c"))
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("c")).as("sum_wc"))
      .select(col("b"), col("n_eff"),
        expr("CAST((1000000 * sum_wc) div n_eff AS BIGINT)")
          .as("mean_micro"))
      .orderBy("b")
  }

  // `feat_minmax` — per-group min-max feature scaling (the classic
  // preprocessing step): normalize each event's value into [0,1]
  // relative to its event_type's range — ML feature pipelines run
  // exactly this shape per feature column before training. Scale
  // shape: the range table is one BOUNDED (type-keyed) agg with
  // map-side partials, broadcast back over the fact — the
  // anomaly_zscore two-pass discipline (never a window over the full
  // log for two scalars per key). Determinism: cents are exact ints,
  // the render is an exact BIGINT floor division
  // (10⁶·(c−min) div (max−min)) with a nullif guard on degenerate
  // ranges — no float anywhere.
  def featMinmax(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
    val ranges = ev.groupBy("event_type")
      .agg(min(col("c")).as("c_min"), max(col("c")).as("c_max"))
    ev.join(broadcast(ranges), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("c"),
        expr("CAST((1000000 * (c - c_min)) div nullif(c_max - c_min, 0)" +
          " AS BIGINT)").as("norm_micro"))
      .orderBy("event_id")
  }

  // `eval_confusion` — thresholded confusion matrix + the derived
  // precision / recall / F1, completing the eval trio (eval_auc ranks,
  // eval_calibration checks probability meaning, this one grades the
  // DECISION at a fixed threshold 0.5). Same md5 fixture as
  // eval_calibration (prediction = uniform milli-draw, label = second
  // independent draw < p). Scale shape: the four cells are ONE
  // conditional-count aggregate pass (map-side partials, 1-row
  // result) — the stat_ttest minimal pass. Determinism: the metrics
  // are exact RATIONALS rendered by BIGINT floor division —
  // precision = 10⁶·tp div (tp+fp), recall = 10⁶·tp div (tp+fn),
  // F1 = 2·10⁶·tp div (2·tp+fp+fn) (the harmonic mean simplifies to
  // an exact integer ratio — no float ever appears).
  def evalConfusion(spark: SparkSession, dir: String): DataFrame = {
    def draw(p: String): Column = pmod(
      conv(substring(md5(concat(lit(p), col("event_id").cast("string"))),
        1, 6), 16, 10).cast("long"), lit(1000L))
    Tables.events(spark, dir)
      .select((draw("p:") >= 500L).cast("long").as("pred"),
        (draw("l:") < draw("p:")).cast("long").as("label"))
      .agg(
        sum(when(col("pred") === 1L && col("label") === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1L && col("label") === 0L, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("pred") === 0L && col("label") === 1L, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("pred") === 0L && col("label") === 0L, 1L)
          .otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CAST((1000000 * tp) div (tp + fp) AS BIGINT)")
          .as("precision_micro"),
        expr("CAST((1000000 * tp) div (tp + fn) AS BIGINT)")
          .as("recall_micro"),
        expr("CAST((2000000 * tp) div (2 * tp + fp + fn) AS BIGINT)")
          .as("f1_micro"))
  }

  // `eval_auc` — ROC AUC for a scored binary classifier via the
  // rank-sum identity AUC = U/(n_pos·n_neg) (Hanley & McNeil 1982,
  // the Mann-Whitney U relation) — the metric every ranking/quality
  // model ships with, computed WITHOUT sorting predictions globally.
  // Labels are a deterministic md5 draw on event_id ORed with a
  // score-correlated band (value ≥ 90) so the fixture AUC is
  // meaningfully > 0.5; the score is `value` itself. Scale shape:
  // stat_mannwhitney's `midrankSums` over per-distinct-score
  // (pos, neg) `valueCounts` — never one global sort partition.
  // Determinism:
  // ties take midranks, so everything carries DOUBLED ranks — u2_pos
  // = R2 − n_pos·(n_pos+1) is an exact BIGINT; the render divides
  // once at the end, u2::double / (2.0·n_pos·n_neg) — IEEE division
  // of exactly-representable integers (all < 2^53 to N ≈ 10⁸ rows)
  // is bit-identical cross-engine, then floor(x·1e6), never round().
  def evalAuc(spark: SparkSession, dir: String): DataFrame = {
    val hex = conv(substring(md5(col("event_id").cast("string")), 1, 1),
      16, 10).cast("long")
    val pos = ((hex < 4L) || (col("value") >= 90.0)).cast("long")
    val agg = midrankSums(valueCounts(Tables.events(spark, dir),
        pos, lit(1L) - pos))
      .select(col("r2").as("r2_pos"), col("n_a").as("n_pos"),
        col("n_b").as("n_neg"), col("tie_t"))
    val u2 = col("r2_pos") - col("n_pos") * (col("n_pos") + lit(1L))
    agg.select(col("n_pos"), col("n_neg"), u2.as("u2_pos"), col("tie_t"),
      floor(u2.cast("double") /
        (lit(2.0) * col("n_pos").cast("double") *
          col("n_neg").cast("double")) * lit(1e6))
        .cast("long").as("auc_micro"))
  }

  // `agg_countmin` — Count-Min sketch (Cormode & Muthukrishnan 2005)
  // frequency estimation: d=3 hash rows × w=128 counters, estimate =
  // min_j counter[j][h_j(key)] — the fixed-memory heavy-hitter
  // structure a 100 TB stream summarizes per-key traffic with when the
  // key space (users, URLs) is unbounded: 384 BIGINTs regardless of
  // cardinality, mergeable across executors/days by counter addition.
  // Build is explode(d) → (j,b) count: partial agg collapses every
  // partition to ≤ d·w rows before the one tiny shuffle (vs the exact
  // per-key agg whose shuffle grows with cardinality). Probe side
  // (user_id % 17 — the audit subset; production probes suspected
  // heavies from a prior pass) broadcast-joins the 384-row sketch and
  // takes min over the d rows. Hashes derive from md5 hex (the
  // corpus_mix trick), NOT murmur3 `hash()`, so the oracle replays
  // identical bucket assignment; everything integer — the CMS
  // guarantee est ≥ exact is also asserted per row (`overcount` ≥ 0).
  def aggCountMin(spark: SparkSession, dir: String): DataFrame = {
    val (d, w) = (3, 128)
    def bucket(j: Column, key: Column): Column = pmod(
      conv(substring(md5(concat(j.cast("string"), lit(":"),
        key.cast("string"))), 1, 6), 16, 10).cast("long"), lit(w))
    // fanned (r20, guide §2.5): the sketch build runs 3 md5s per row
    // above the unsplittable fixture scan — hash-spread so the explode
    // + bucket chain uses the machine; no-op on splittable layouts.
    val ev = Tables.fannedEvents(spark, dir).select(col("user_id"))
    val sketch = ev
      .select(col("user_id"), explode(sequence(lit(0), lit(d - 1))).as("j"))
      .select(col("j"), bucket(col("j"), col("user_id")).as("b"))
      .groupBy("j", "b").agg(count(lit(1)).as("cnt"))
    ev.filter(pmod(col("user_id"), lit(17)) === 0)
      .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      .select(col("user_id"), col("exact_n"),
        explode(sequence(lit(0), lit(d - 1))).as("j"))
      .select(col("user_id"), col("exact_n"), col("j"),
        bucket(col("j"), col("user_id")).as("b"))
      .join(broadcast(sketch), Seq("j", "b"))
      .groupBy("user_id", "exact_n")
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("user_id"), col("exact_n"), col("cms_est"),
        (col("cms_est") - col("exact_n")).as("overcount"))
      .orderBy("user_id")
  }

  // `ts_decompose` — classic additive time-series decomposition
  // (trend + seasonal + residual, the moving-average STL-lite every
  // monitoring stack charts): hourly per-type activity splits into a
  // centered 25-hour moving-average TREND, a per-(type, hour-of-day)
  // SEASONAL profile of the detrended series, and the RESIDUAL that
  // anomaly detectors actually alarm on. ts_seasonal_profile emits the
  // raw hour-of-day profile; this key completes the decomposition (the
  // profile of the DETRENDED series, plus trend and residual, with the
  // additive identity v = trend + seasonal + residual + adjustments
  // holding exactly in integers).
  //
  // Determinism — all-integer surface: hourly v_milli are exact BIGINT
  // sums; trend/seasonal are floor(sum / count) where the division is
  // IEEE double over exactly-representable ints (identical both
  // engines) and floor (not integer div) because detrended sums go
  // NEGATIVE — Spark's `div` truncates toward zero while a floor
  // division floors, so div would diverge on negatives; floor() agrees.
  //
  // Scale shape: the fact collapses map-side onto the TIME-BOUNDED
  // (hour × type) grid (744 × 5 rows at any SF — the resampled axis
  // does not grow with data); both windows and the final render are
  // scalar work on that bounded frame. One fact-sized exchange total.
  def tsDecompose(spark: SparkSession, dir: String): DataFrame = {
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("h").rowsBetween(-12, 12)
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type", "hod")
    Tables.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
      .groupBy("h", "event_type")
      .agg(sum(col("vm")).as("v_milli"))
      .withColumn("trend_milli",
        floor(sum(col("v_milli")).over(wT).cast("double") /
          count(lit(1)).over(wT)).cast("long"))
      .withColumn("hod", hour(col("h")))
      .withColumn("d", col("v_milli") - col("trend_milli"))
      .withColumn("seas_milli",
        floor(sum(col("d")).over(wS).cast("double") /
          count(lit(1)).over(wS)).cast("long"))
      .select(col("h"), col("event_type"), col("v_milli"),
        col("trend_milli"), col("seas_milli"),
        (col("d") - col("seas_milli")).as("resid_milli"))
      .orderBy("event_type", "h")
  }

  // `event_transitions` — the full first-order Markov transition
  // matrix over per-user event streams: P(next_type | prev_type) for
  // every ordered type pair — the behavioral-analytics summary the
  // targeted keys (funnel_conversion's one path, seq_pattern's one
  // regex, event_attribution's credit split) each slice one row of.
  // Scale shape: ONE (user_id)-hash exchange for the lag window (the
  // stream never leaves its user partition), then a partial-agg
  // shuffle onto the BOUNDED |types|² pair space; the row-conditional
  // normalization is a window over that ≤25-row frame — scalar work.
  // Determinism: transition counts are exact BIGINTs and the
  // conditional is an exact ppm floor division — no float anywhere.
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("prev_type")
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(wp))
      .select(col("prev_type"), col("next_type"), col("n"),
        col("row_total"),
        expr("CAST((1000000 * n) div row_total AS BIGINT)").as("p_ppm"))
      .orderBy("prev_type", "next_type")
  }

  // `eval_kappa` — Cohen's κ inter-annotator agreement (Cohen 1960):
  // THE label-quality gate for human/model annotation pipelines
  // (RLHF preference labels, quality tags) — raw agreement corrected
  // for the agreement two independent raters would reach by chance
  // from their own marginal label distributions. eval_confusion grades
  // predictions against truth; κ grades RATERS against each other —
  // no ground truth anywhere. Two deterministic raters derive from the
  // fixture: each starts from event_type and md5-flips a disjoint-rate
  // subset (10% / 20%) to the alphabetically-next class, so agreement
  // is high but imperfect and both engines construct identical raters.
  // Exactness: with c_kk the diagonal and r_k/c_k the marginals,
  //   κ = (N·Σc_kk − Σ r_k·c_k) / (N² − Σ r_k·c_k)
  // — every term an exact BIGINT (the n-scaled denominator-clearing
  // trick), rendered once as an exact micro floor division; numerator
  // is positive by construction (agreement ≫ chance), so Spark's
  // truncating `div` and an oracle floor division agree. Bounds:
  // N²·1e6 stays in BIGINT to N ≈ 3·10⁶ rows — beyond that, κ runs on
  // a uniform slice (it is a RATE; the stat_ttest bound note applies).
  // Scale shape: one partial-agg shuffle onto the bounded 5×5 cell
  // space; marginals fold the cached ≤25-row cell frame (a marginal
  // JOIN over the distinct classes, not the diagonal shortcut — see
  // in-code note); output is one scalar row.
  def evalKappa(spark: SparkSession, dir: String): DataFrame = {
    def draw(p: String): Column = pmod(
      conv(substring(md5(concat(lit(p), col("event_id").cast("string"))),
        1, 6), 16, 10).cast("long"), lit(1000L))
    // alphabetically-next class: click→error→purchase→signup→view→click
    def rot(c: Column): Column =
      when(c === "click", "error").when(c === "error", "purchase")
        .when(c === "purchase", "signup").when(c === "signup", "view")
        .otherwise("click")
    // The ≤25-row cell frame is cached: n/n_agree, the a-marginals and
    // the b-marginals all fold it, and without the cache each branch
    // would re-scan events (the one place a bounded cache beats the
    // one-pass window trick — see below).
    val cells = Caches.persist(Tables.events(spark, dir)
      .select(
        when(draw("ka:") < 100L, rot(col("event_type")))
          .otherwise(col("event_type")).as("a"),
        when(draw("kb:") < 200L, rot(col("event_type")))
          .otherwise(col("event_type")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c")))
    // Σ_k r_k·c_k from a marginal join over the distinct classes —
    // NOT the earlier diagonal shortcut (sum ra·cb over a=b cells),
    // which silently dropped a class's marginal product whenever its
    // (k,k) cell was absent (ADVICE r14: the fixture guarantees
    // presence, but nothing enforced it — a fixture change would have
    // skewed P_e identically in both engines and the oracle would not
    // have caught it). A class present in only one rater's labels
    // contributes r_k·c_k = 0, so the inner join is exact.
    val ra = cells.groupBy(col("a").as("k"))
      .agg(sum(col("c")).as("ra"))
    val cb = cells.groupBy(col("b").as("k"))
      .agg(sum(col("c")).as("cb"))
    val pe = ra.join(cb, "k")
      .agg(coalesce(sum(col("ra") * col("cb")), lit(0L)).as("pe_num"))
    cells
      .agg(
        sum(col("c")).as("n"),
        sum(when(col("a") === col("b"), col("c")).otherwise(lit(0L)))
          .as("n_agree"))
      .crossJoin(pe) // two 1-row frames
      .select(col("n"), col("n_agree"), col("pe_num"),
        expr("CAST((1000000 * (n * n_agree - pe_num)) div " +
          "(n * n - pe_num) AS BIGINT)").as("kappa_micro"))
  }
}
