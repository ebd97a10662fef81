package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Util.deleteRecursively

/** Streaming layer — SURVEY.md §2B Q33–Q36.
  *
  * Q33–Q35 use the streaming-native window constructs (`window(...)`,
  * `session_window(...)`) evaluated in batch mode — the exact same
  * expressions run under `readStream` (covered by StreamingSpec with
  * MemoryStream sources). Their DuckDB oracles re-derive the window
  * assignment relationally (date_trunc / time_bucket self-expansion /
  * gaps-and-islands).
  *
  * Q36 actually runs a Structured Streaming query with a watermark over a
  * MemoryStream and returns the append-mode sink contents, demonstrating
  * late-event drop deterministically.
  *
  * Scale notes: tumbling/sliding window aggregation shuffles once on
  * (window, key) with map-side partial aggregation; sliding windows
  * multiply each row into width/slide windows (×4 here) *before* the
  * partial agg, so the exchange carries aggregated buckets, not raw rows.
  * Session windows require a per-key sort-merge; watermarks bound the
  * state store size — without them a 100 TB stream accumulates unbounded
  * state.
  */
/** Typed rows for the custom-state sessionizer (top-level for encoder
  * codegen visibility). Times in epoch MICROS inside the state buffer —
  * the native TimestampType precision; epoch millis would silently
  * truncate and shift session bounds. */
case class SessEvent(user_id: Long, ts: java.time.Instant, value: Double)
case class SessAcc(startUs: Long, endUs: Long, n: Long, sum: Double)
case class SessOut(user_id: Long, session_start: java.time.Instant,
    session_end: java.time.Instant, n: Long, sum_value: Double)

/** Per-key LIFETIME totals as a [[org.apache.spark.sql.streaming.StatefulProcessor]]
  * for `stream_transform_state` — the transformWithState API (Spark 4's
  * successor to [map|flatMap]GroupsWithState: typed named state
  * primitives with per-state TTL, timers decoupled from output mode,
  * schema-evolvable state). State here is ONE (n, sum) pair per key —
  * the footprint a lifetime-aggregate keeps at 100 TB is |keys|, not
  * |events|, and it lives in RocksDB (the production provider for
  * state beyond executor memory; transformWithState requires it).
  * No TTL: lifetime means lifetime — bound state by key cardinality,
  * not time (a TTLConfig duration is the one-line change when the
  * domain is unbounded, e.g. session tokens). */
class RunningTotals extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Timestamp, Double), (Long, Long, Double)] {
  @transient private var totals:
    org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Double)]("totals",
      org.apache.spark.sql.Encoders.product[(Long, Double)],
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Timestamp, Double)],
      timers: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Double)] = {
    var (n, s) = if (totals.exists()) totals.get() else (0L, 0.0)
    rows.foreach { r => n += 1; s += r._3 }
    totals.update((n, s))
    // one revised total per key per batch — update-mode upsert rows
    Iterator((key, n, s))
  }
}

/** Inactivity-flush sessionizer for `stream_state_ttl` — the OTHER half
  * of the Spark 4 stateful API that [[RunningTotals]] (lifetime state,
  * TimeMode.None) deliberately leaves out: TIMERS and state TTL.
  *
  *  - Each key's open session lives in a ValueState; every input batch
  *    re-arms a processing-time inactivity timer (delete + register at
  *    now + delay). When the timer fires — a later micro-batch whose
  *    processing time passes the expiry — `handleExpiredTimer` emits
  *    the closed session and clears it. This is idle-timeout
  *    sessionization: the session closes because the key went QUIET,
  *    the shape session_window/flatMapGroupsWithState express in event
  *    time and only timers can express in processing time (e.g. cart
  *    abandonment, connection reaping).
  *  - A second ValueState (`lifetime`, per-key cumulative event count)
  *    carries a TTLConfig: Spark evicts it `ttl` after its last UPDATE
  *    (lazily on read + background cleanup). TTL is what bounds an
  *    UNBOUNDED key domain at 100 TB — session tokens, request ids —
  *    where no watermark applies because the state is keyed by value,
  *    not time. TTL requires TimeMode.ProcessingTime (validated by
  *    StatefulProcessorHandleImpl), which is why this processor is
  *    processing-time end-to-end while [[RunningTotals]] stays
  *    TimeMode.None.
  *
  * Each input row CARRIES its inactivity gap (user_id, value, gap_ms) —
  * a dynamic per-event timeout (the dynamic-gap shape fixed-gap
  * session_window cannot express); the latest row's gap re-arms the
  * key's single timer.
  *
  * Two TTL'd states with deliberately different horizons make the TTL
  * semantics OBSERVABLE in one output row:
  *  - `lifetime` (per-key cumulative event count, TTL 10 min) survives
  *    every in-test gap — a key's later sessions report the
  *    accumulated count;
  *  - `visited` (a marker, TTL `ttlMs`) evicts during a deliberate
  *    longer-than-TTL quiet gap — the key's next session opens with
  *    prior_visit = false even though lifetime still remembers it.
  * A key revisited after sleeping out `ttlMs` therefore emits
  * (lifetime = accumulated, prior_visit = false): the same key, two
  * states, the short-TTL one evicted, the long-TTL one alive.
  *
  * Determinism contract for the spec: input rows are processed BEFORE
  * expired timers within a micro-batch (so a key with fresh data
  * re-arms and is NOT flushed); `prior_visit` is captured once at
  * session OPEN (never re-read mid-session, so in-session TTL races
  * can't flip it) and is only ever true when the caller slept LESS
  * than the TTL between a key's sessions — which the demo never does,
  * keeping every pinned value monotone-safe under host load (elapsed
  * time only grows, evicting MORE certainly).
  * NOTE: registered processing-time timers make the engine trigger
  * micro-batches CONTINUOUSLY (TransformWithStateExec
  * .shouldRunAnotherBatch is always true in this time mode), so
  * `processAllAvailable` never converges — callers synchronize on the
  * SINK contents (row-count polling), not on the source draining.
  */
class SessionFlush(ttlMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double, Long), (Long, Long, Double, Long, Boolean)] {
  import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ExpiredTimerInfo}
  @transient private var open:
    org.apache.spark.sql.streaming.ValueState[(Long, Double, Boolean)] = _
  @transient private var lifetime:
    org.apache.spark.sql.streaming.ValueState[Long] = _
  @transient private var visited:
    org.apache.spark.sql.streaming.ValueState[Boolean] = _
  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    open = getHandle.getValueState[(Long, Double, Boolean)]("open",
      org.apache.spark.sql.Encoders.product[(Long, Double, Boolean)],
      TTLConfig.NONE)
    lifetime = getHandle.getValueState[Long]("lifetime",
      org.apache.spark.sql.Encoders.scalaLong,
      TTLConfig(java.time.Duration.ofMinutes(10)))
    visited = getHandle.getValueState[Boolean]("visited",
      org.apache.spark.sql.Encoders.scalaBoolean,
      TTLConfig(java.time.Duration.ofMillis(ttlMs)))
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Double, Long)],
      timers: TimerValues): Iterator[(Long, Long, Double, Long, Boolean)] = {
    val (n0, s0, p0) =
      if (open.exists()) open.get() else (0L, 0.0, false)
    // at session OPEN only: did the short-TTL marker survive the quiet
    // gap since this key's last activity?
    val prior = if (n0 == 0) visited.exists() else p0
    var n = n0; var s = s0; var gapMs = 0L
    rows.foreach { r => n += 1; s += r._2; gapMs = r._3 }
    open.update((n, s, prior))
    // TTL clocks restart at every update — an ACTIVE key never evicts,
    // however long its total history
    val life = (if (lifetime.exists()) lifetime.get() else 0L) + (n - n0)
    lifetime.update(life)
    visited.update(true)
    // re-arm the one inactivity timer (registerTimer ADDS — an
    // un-deleted stale timer would flush a still-active session);
    // materialize before deleting — mutating state under its own
    // iterator is undefined
    getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
    getHandle.registerTimer(timers.getCurrentProcessingTimeInMs + gapMs)
    Iterator.empty
  }
  override def handleExpiredTimer(key: Long, timers: TimerValues,
      info: ExpiredTimerInfo): Iterator[(Long, Long, Double, Long, Boolean)] = {
    val out = if (open.exists()) {
      val (n, s, prior) = open.get()
      // 10-min TTL cannot elapse inside a demo run; the fallback keeps
      // the output well-defined for a pathological stall anyway
      val life = if (lifetime.exists()) lifetime.get() else n
      Iterator((key, n, s, life, prior))
    } else Iterator.empty
    open.clear()
    out
  }
}

object Streams {

  /** Child session for the MemoryStream demo queries: same
    * SparkContext, OWN conf — the state-store partition count is baked
    * from `spark.sql.shuffle.partitions` at query start, and a 6-row
    * demo stream under the batch setting (32) pays 32 state-store
    * tasks per stateful stage per micro-batch — pure fixed latency.
    * 2 partitions cuts that ~16× without touching the caller's conf
    * (the sizing rule at scale is the same: state partitions track
    * stream volume, not the batch default). */
  private def demoSession(spark: SparkSession): SparkSession =
    demoSessions.computeIfAbsent(spark, s => {
      val c = s.newSession()
      c.conf.set("spark.sql.shuffle.partitions", "2")
      tuneTinyMicroBatch(c)
      c
    })

  /** Interpreted evaluation for the tiny-micro-batch demo sessions.
    * Whole-stage codegen is the right call when a plan processes
    * millions of rows per task; these queries process ~6 rows per
    * micro-batch, where the Janino compile of each incremental plan
    * COSTS more than it saves — measured (StreamProbe A/B, 4 trials):
    * first batch 0.80 s → 0.43 s, warm batch 0.44 s → 0.27 s with
    * NO_CODEGEN. Latency-critical tiny-batch streaming is the one
    * place interpreted eval is the production tuning too. Batch keys
    * and the streaming-equivalence specs' BATCH halves are untouched —
    * they run on the caller's codegen'd session. */
  private def tuneTinyMicroBatch(c: SparkSession): Unit = {
    c.conf.set("spark.sql.codegen.wholeStage", "false")
    c.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
  }

  /** Demo session with the RocksDB state store provider, for the
    * transformWithState keys (the API requires it). Kept SEPARATE from
    * the plain demo session: the provider conf is read at query start,
    * and the other streaming keys must keep measuring the default
    * HDFS-backed provider they declare. */
  private def rocksSession(spark: SparkSession): SparkSession =
    rocksSessions.computeIfAbsent(spark, s => {
      val c = s.newSession()
      c.conf.set("spark.sql.shuffle.partitions", "2")
      c.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      tuneTinyMicroBatch(c)
      c
    })

  // Memoized per parent session (VERDICT r11 item 6): the child session
  // itself is cheap, but the FIRST streaming query on a fresh session
  // re-pays listener/metric/codegen warm-up — 11 streaming keys × 2
  // bench passes were each paying it. One cached child per parent (and
  // one per provider flavor) pays it once per JVM. MemoryStream sinks
  // get nanoTime-unique names, so cross-key table collisions can't
  // happen on the shared session.
  private val demoSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private val rocksSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()

  /** Per-invocation checkpoint dir for the MemoryStream demo queries.
    * These checkpoints are EPHEMERAL by construction (deleted in the
    * same call), so they go on tmpfs when available: every micro-batch
    * writes offset log + commit log + per-partition state deltas
    * through the rename-based atomic protocol, which on a disk-backed
    * /tmp is pure fixed fsync latency — measured ~25% of the streaming
    * keys' bench wall. A production query checkpoints on durable
    * shared storage; that choice is about failure recovery, which a
    * delete-on-exit demo checkpoint never provides from EITHER
    * filesystem. The durable-restart semantics stay covered by
    * StreamingSpec's checkpoint-restart tests — including (r16) the
    * FORCED mid-stream kill rehearsal: a continuously-triggering file
    * query stopped with files still pending resumes on the same
    * checkpoint at batch lastCommitted+1 (the offsets-write → execute
    * → commit-write protocol, every transition an atomic rename —
    * the Kafka offset contract minus the broker), the replayed
    * uncommitted batch is absorbed exactly-once by the sink's
    * _spark_metadata commit log, and maxFilesPerTrigger admission
    * keeps every micro-batch bounded across the restart (a resumed
    * query must not gulp its backlog into one giant batch). */
  private def tmpRoot: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
  }
  private def ckptDir(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(tmpRoot, prefix)

  /** The demo streams' event time: `hhmm` on 2024-01-01. */
  private def t(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  /** Custom-state sessionization with `flatMapGroupsWithState` — the
    * escape hatch for session logic `session_window` can't express
    * (per-session custom accumulators, mid-session emission, dynamic
    * gaps). Semantics here exactly mirror Q35's `session_window(ts,
    * gap)`: an event at `last + gap` starts a NEW session (half-open),
    * session_end = last event + gap — so StreamingSpec can assert
    * equivalence against the built-in.
    *
    * Streaming protocol: state carries the open session per user;
    * closed sessions emit inline (append); the open session emits when
    * the event-time timeout fires (watermark passes end + gap).
    * Out-of-order events inside the watermark interval-merge with each
    * other and with the open session (including backward extension of
    * its start); completed earlier sessions emit immediately. An event
    * that would bridge an ALREADY-EMITTED session cannot be honored in
    * append mode — the watermark delay bounds that window, the same
    * trade session_window makes. Scale: state is one
    * fixed-size record per active user, bounded by the watermark — the
    * state store never grows with history.
    */
  def sessionizeState(events: org.apache.spark.sql.Dataset[SessEvent],
      gapMs: Long = 30L * 60 * 1000): org.apache.spark.sql.Dataset[SessOut] = {
    import java.time.Instant
    import java.time.temporal.ChronoUnit
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000
    def us(i: Instant): Long = ChronoUnit.MICROS.between(Instant.EPOCH, i)
    def instant(u: Long): Instant = Instant.EPOCH.plus(u, ChronoUnit.MICROS)
    def close(uid: Long, a: SessAcc): SessOut =
      SessOut(uid, instant(a.startUs), instant(a.endUs + gapUs), a.n, a.sum)

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessAcc, SessOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[SessEvent], state: GroupState[SessAcc]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(close(uid, _)).iterator
            state.remove()
            out
          } else {
            // Interval-merge fold over (batch events + the open state
            // session) in time order: adjacent items closer than the
            // gap merge — so out-of-order in-watermark events merge
            // with EACH OTHER and with the open session exactly as
            // session_window would, including backward extension of
            // the open session's start. Head of the fold result is the
            // latest session (prepend order): it stays open in state;
            // every earlier one is complete and emits now.
            val items = (evs.map(e => SessAcc(us(e.ts), us(e.ts), 1, e.value))
              ++ state.getOption).toSeq.sortBy(a => (a.startUs, a.endUs))
            val merged = items.foldLeft(List.empty[SessAcc]) {
              case (h :: tail, s) if s.startUs < h.endUs + gapUs =>
                SessAcc(math.min(h.startUs, s.startUs),
                  math.max(h.endUs, s.endUs),
                  h.n + s.n, h.sum + s.sum) :: tail
              case (acc, s) => s :: acc
            }
            merged.headOption.foreach { a =>
              state.update(a)
              // timeout is millis-based; round UP so the watermark must
              // strictly pass the session end before the timeout fires
              state.setTimeoutTimestamp((a.endUs + gapUs) / 1000 + 1)
            }
            merged.drop(1).reverseIterator.map(close(uid, _))
          }
      }
  }

  // Q33 `stream_tumbling` — 1-hour tumbling windows (epoch-aligned, same
  // alignment as the oracle's date_trunc('hour')).
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("ws", "event_type")

  // Q34 `stream_sliding` — 1-hour windows sliding every 15 minutes; each
  // event lands in exactly 4 windows.
  def sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("w.start").as("ws"), col("w.end").as("we"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("ws", "event_type")

  // Q35 `stream_session` — per-user session windows with a 30-minute gap.
  // Spark semantics: a session's end = last event + gap; an event at
  // exactly prev_ts+gap starts a NEW session (intervals are half-open) —
  // the gaps-and-islands oracle uses `>= gap` accordingly.
  def session(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("user_id"),
        col("w.start").as("session_start"),
        col("w.end").as("session_end"),
        col("n"), col("sum_value"))
      .orderBy("user_id", "session_start")

  // `stream_dedup` — streaming deduplication with bounded state:
  // dropDuplicatesWithinWatermark keeps one row per event_id, holding
  // each key in the state store only until the watermark passes it —
  // the streaming half of Q37's exact dedup, and the only dedup that
  // works on an unbounded stream (plain dropDuplicates would grow
  // state forever). Deterministic MemoryStream run, 3 rounds (VERDICT
  // r14 item 7 consolidated the old rounds 2+3 — the duplicate is
  // dropped by STATE from round 1, so it shares a round with the
  // watermark-dragger deterministically; round 1 must stay separate or
  // "first per key" would depend on intra-batch row order):
  //   round 1: ids 1,2 → both emitted, state established
  //   round 2: id 1 again at 10:02 (dup, within watermark — dropped
  //            against round 1's state) + id 3 (emitted) + id 99 at
  //            12:00 (emitted; advances the watermark to 11:50,
  //            EXPIRING id 1's state)
  //   round 3: id 1 at 12:30 → emits AGAIN (state was evicted):
  //            within-watermark exactness with bounded state, not
  //            global exactness — that is the trade
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val s = demoSession(spark)
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val deduped = input.toDF().toDF("event_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val name = s"stream_dedup_sink_${System.nanoTime()}"
    val ckpt = ckptDir("graft_sdedup_ckpt_")
    val q = deduped.writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      input.addData((1L, t("10:00"), 1.0), (2L, t("10:01"), 2.0))
      q.processAllAvailable()
      input.addData((1L, t("10:02"), 99.0), (3L, t("10:03"), 3.0))
      input.addData((99L, t("12:00"), 9.0))
      q.processAllAvailable()
      input.addData((1L, t("12:30"), 4.0))
      q.processAllAvailable()
    } finally { q.stop(); deleteRecursively(ckpt) }
    s.table(name).select("event_id", "value")
      .orderBy("event_id", "value")
  }

  // `stream_join` — stream-stream inner join with watermarks on both
  // sides and a time-range condition (clicks within 30 minutes after
  // their impression). Both states are watermark-bounded: an
  // impression can be dropped once no in-range click can still arrive.
  // Deterministic single-round MemoryStream run; the late out-of-range
  // click (id 2 at +45min) must NOT join.
  def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = demoSession(spark)
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val impressions = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val imp = impressions.toDF().toDF("ad_id", "imp_ts")
      .withWatermark("imp_ts", "10 minutes")
    val clk = clicks.toDF().toDF("c_ad_id", "click_ts")
      .withWatermark("click_ts", "10 minutes")
    val joined = imp.join(clk,
      col("ad_id") === col("c_ad_id") &&
      col("click_ts") >= col("imp_ts") &&
      col("click_ts") <= col("imp_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("ad_id"), col("imp_ts"), col("click_ts"))
    val name = s"stream_join_sink_${System.nanoTime()}"
    val ckpt = ckptDir("graft_sjoin_ckpt_")
    val q = joined.writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      // ONE processAllAvailable round (VERDICT r14 item 7): inner-join
      // matches emit as soon as both sides are present in a batch —
      // no watermark advance is needed for emission (only for state
      // EVICTION), so splitting these rows across two rounds bought
      // nothing but a second multi-micro-batch cycle (~1.8 s of the
      // key's 4.0 s). The time-range semantics are batch-independent:
      // ad 2's +45 min click is excluded by the join condition itself.
      impressions.addData((1L, t("10:00")), (2L, t("10:05")), (3L, t("10:10")))
      clicks.addData((1L, t("10:20")))                  // in range for ad 1
      clicks.addData((2L, t("10:50")), (3L, t("10:15"))) // ad 2 out of range
      q.processAllAvailable()
    } finally { q.stop(); deleteRecursively(ckpt) }
    s.table(name)
      .select(col("ad_id"),
        (unix_timestamp(col("click_ts")) - unix_timestamp(col("imp_ts")))
          .as("delay_sec"))
      .orderBy("ad_id")
  }

  // `stream_static_join` — incremental-ingest dedup: an unbounded
  // stream of candidate documents anti-joined PER MICRO-BATCH against
  // the STATIC historical content-hash dimension (the `documents`
  // table) — only never-seen content reaches the sink. The canonical
  // "dedupe the new crawl against the existing corpus" shape.
  //
  // The contract this demonstrates (and the spec pins):
  //  - stream-static joins are STATELESS — no state store, no
  //    watermark; each micro-batch plans a fresh hash join against the
  //    static side (which Spark re-reads per batch: cache it in
  //    production, or bucket it on the hash so the per-batch join
  //    prunes; if the hash set fits, broadcast);
  //  - statelessness cuts both ways: a duplicate WITHIN the stream
  //    (batch 2 repeats batch 1's new text) is NOT caught — that is
  //    `stream_dedup`'s job (watermark-bounded state); the composition
  //    history-anti-join → dropDuplicatesWithinWatermark is the full
  //    production pipeline.
  //
  // Batch plan (deterministic): batch 1 sends a copy of corpus doc 0
  // (dropped: hash hit) + a genuinely new text (emitted); batch 2
  // repeats the new text (emitted AGAIN — stateless) + another copy of
  // doc 0 (dropped).
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = demoSession(spark)
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val history = Tables.documents(s, dir)
      .select(graft.operators.Dedup.exactHash(col("text")).as("h")).distinct()
    // One known-historical text for the demo stream (tiny driver fetch,
    // part of the fixed test harness — not the operator's data path).
    val dup0 = Tables.documents(s, dir)
      .orderBy("doc_id").select("text").as[String].head()
    val novel = "graft stream static join novel text never in corpus"
    val input = MemoryStream[(Long, String)]
    val fresh = input.toDF().toDF("new_id", "text")
      .withColumn("h", graft.operators.Dedup.exactHash(col("text")))
      .join(history, Seq("h"), "left_anti")
      .select("new_id")
    val name = s"stream_static_sink_${System.nanoTime()}"
    val ckpt = ckptDir("graft_sstatic_ckpt_")
    val q = fresh.writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      input.addData((1000L, dup0), (1001L, novel))
      q.processAllAvailable()
      input.addData((1002L, novel), (1003L, dup0))
      q.processAllAvailable()
    } finally { q.stop(); deleteRecursively(ckpt) }
    s.table(name).orderBy("new_id")
  }

  // Q36 `stream_late_data` — a real Structured Streaming run: tumbling
  // 10-minute windows with a 10-minute watermark in append mode; an event
  // arriving after the watermark passed its window is dropped. The
  // returned rows are the windows the sink emitted — n=2 for the first
  // window proves the late third event did not update it.
  //
  // Batch plan (deterministic, self-contained — `dir` unused; two
  // rounds since r15 — window aggregates are order-independent, so the
  // watermark-establishing rows share round 1):
  //   round 1: 10:01 v=1.0, 10:05 v=2.0 (window 10:00) + 10:12 v=4.0,
  //            10:25 v=8.0 → watermark 10:15, emits window 10:00 (n=2)
  //   round 2: 10:03 v=100.0 (LATE — watermark already at 10:15,
  //            dropped), 10:45 v=16.0 → watermark 10:35,
  //            emits 10:10, 10:20
  def lateData(spark: SparkSession, dir: String): DataFrame = {
    val s = demoSession(spark)
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("ws"), col("n"), col("sum_value"))

    val name = s"late_data_sink_${System.nanoTime()}"
    val ckpt = ckptDir("graft_ckpt_")
    val q = agg.writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      // consolidated (VERDICT r14 item 7): window counts are order-
      // independent aggregates, so the watermark-establishing rows
      // share round 1 — the late-drop semantic only needs the 10:03
      // row to arrive AFTER the watermark reached 10:15, i.e. round 2
      input.addData((t("10:01"), 1.0), (t("10:05"), 2.0))
      input.addData((t("10:12"), 4.0), (t("10:25"), 8.0))
      q.processAllAvailable()
      input.addData((t("10:03"), 100.0), (t("10:45"), 16.0)) // 10:03 is late
      q.processAllAvailable()
    } finally { q.stop(); deleteRecursively(ckpt) }
    s.table(name).orderBy("ws")
  }

  // `stream_sink_files` — the streaming FILE pipeline end-to-end, the
  // surface every incremental 100 TB ingest job lives on: a file-stream
  // SOURCE (the directory-watching reader that turns landed files into
  // micro-batches) through a watermarked tumbling aggregation into the
  // exactly-once parquet FILE SINK (output files are only visible once
  // committed to the sink's _spark_metadata log — a reader never sees a
  // half-written batch, and the returned DataFrame reads back through
  // that log). The other streaming keys certify transforms over memory
  // sources/sinks; this one certifies the durable source→sink loop with
  // a Trigger.AvailableNow run (the catch-up-then-stop mode an
  // incremental batch pipeline schedules).
  //
  // Determinism: append mode only emits a window once the watermark
  // passes it, and the watermark only reaches max(ts) AFTER the last
  // data micro-batch — which would leave the final window(s) stuck in
  // state forever. The input copy (written once per sf dir) therefore
  // carries ONE far-future sentinel row (year 2100): the no-data batch
  // after it pushes the watermark past every real window, flushing them
  // all; the sentinel's own window never closes, so it never appears in
  // the output — nothing to filter. The DuckDB oracle replays the plain
  // batch window aggregation over `events`, so a green hash proves the
  // streaming run emitted EXACTLY the batch answer (no lost windows, no
  // duplicates from the sink's commit protocol).
  def streamSinkFiles(spark: SparkSession, dir: String): DataFrame = {
    val s = demoSession(spark)
    val inDir = java.nio.file.Paths.get(
      graft.sources.FormatSources.exportPath("ssink_in", dir))
    val ev = Tables.events(spark, dir).select("ts", "event_type", "value")
    if (!java.nio.file.Files.exists(inDir.resolve("_SUCCESS"))) {
      deleteRecursively(inDir)
      val sentinel = spark.sql(
        """SELECT TIMESTAMP '2100-01-01 00:00:00' AS ts,
          |       '__sentinel__' AS event_type, CAST(0.0 AS DOUBLE) AS value
          |""".stripMargin)
      ev.unionByName(sentinel).coalesce(4)
        .write.mode("overwrite").parquet(inDir.toString)
    }
    // one output + checkpoint location per sf dir, cleared per
    // invocation: each run is a fresh end-to-end stream (the honest
    // fixed-latency cost), and /tmp holds at most one copy (ADVICE r3).
    val outDir = java.nio.file.Paths.get(
      graft.sources.FormatSources.exportPath("ssink_out", dir))
    val ckpt = java.nio.file.Paths.get(
      graft.sources.FormatSources.exportPath("ssink_ckpt", dir))
    deleteRecursively(outDir); deleteRecursively(ckpt)
    // declared source schema = the batch projection's schema (derived,
    // not hand-written — cannot drift from the input copy's writer).
    // maxFilesPerTrigger/latestFirst pin the ONE-batch assumption the
    // 0s watermark depends on (ADVICE r7): if the source ever split the
    // files and processed the 2100 sentinel's file first, the watermark
    // would jump past every real row and silently drop them all — the
    // post-run count assert below fails fast if that ever happens.
    val agg = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "100000")
      .option("latestFirst", "false")
      .parquet(inDir.toString)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"),
        col("sum_value"))
    val q = agg.writeStream
      .format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally { q.stop(); deleteRecursively(ckpt) }
    // reads back THROUGH the sink's _spark_metadata commit log
    val out = s.read.parquet(outDir.toString)
    // fail fast (and close to the cause) if late-data dropping ever
    // shrank the output — the oracle would catch it at verify time,
    // but a count mismatch here names the actual failure mode. Checked
    // ONCE per (process, sf dir): the failure mode is deterministic in
    // the input layout, and re-paying a batch aggregation inside every
    // timed bench pass would inflate streaming_fixed_sec with batch
    // work (r8 review).
    // dir enters sinkVerified only AFTER the require passes (ADVICE r8:
    // add-before-assert meant a thrown first check was never retried, so
    // a harness that catches the error would silently accept shrunken
    // output on every later invocation in the JVM).
    if (!sinkVerified.contains(dir)) {
      val nExpected = ev
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .count().count()
      val nOut = out.count()
      require(nOut == nExpected,
        s"stream_sink_files: sink holds $nOut windows, batch expects " +
          s"$nExpected — watermark dropped data (batch-split input?)")
      sinkVerified.add(dir)
    }
    out.orderBy("ws", "event_type")
  }

  /** sf dirs whose stream_sink_files output already passed the
    * count-vs-batch check this process (see above). */
  private val sinkVerified =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // `stream_join_outer` — stream-stream LEFT OUTER join with
  // WATERMARK-DRIVEN NULL EMISSION (the r10 frontier item): ads joined
  // to their clicks within [imp_ts, imp_ts + 30 min]; an impression
  // that gets no in-range click is still emitted — null-extended —
  // but only once BOTH watermarks have passed the end of its join
  // window, because until then a matching click could still arrive.
  // That deferral is the semantic difference from batch left-outer:
  // the null row is a POSITIVE claim ("no click can ever match now"),
  // and only the watermark can license it. State on both sides stays
  // watermark-bounded exactly as in the inner `stream_join`.
  //
  // Batch plan (deterministic; consolidated to TWO rounds, VERDICT
  // r14 item 7 — matches need no watermark, so they share the first
  // round with the far-future watermark-draggers):
  //  round 1: imps 1,2,3 at 10:00/10:05/10:10; clicks ad 1 at 10:20
  //           and ad 3 at 10:15 (both in range — their matches emit
  //           as soon as both sides are present); far-future rows on
  //           BOTH streams (the GLOBAL watermark is the min across
  //           inputs — advancing only the click side licenses
  //           nothing) drag the watermark past every join window.
  //           Ad 2 is HELD: the watermark computed at a batch's END
  //           gates emission in the NEXT micro-batch;
  //  round 2: another far-future impression forces that next
  //           micro-batch → ad 2's null row emits — still strictly
  //           AFTER the watermark passed its window, which is the
  //           semantic under test.
  // The far-future rows themselves stay HELD in state (their own
  // windows never close before q.stop), so they never reach the sink.
  // The spec pins all three row classes and that the null row does
  // NOT appear before the watermark passes.
  def streamJoinOuter(spark: SparkSession, dir: String): DataFrame = {
    val s = demoSession(spark)
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val impressions = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val imp = impressions.toDF().toDF("ad_id", "imp_ts")
      .withWatermark("imp_ts", "10 minutes")
    val clk = clicks.toDF().toDF("c_ad_id", "click_ts")
      .withWatermark("click_ts", "10 minutes")
    val joined = imp.join(clk,
      col("ad_id") === col("c_ad_id") &&
      col("click_ts") >= col("imp_ts") &&
      col("click_ts") <= col("imp_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("ad_id"), col("imp_ts"), col("click_ts"))
    val name = s"stream_join_outer_sink_${System.nanoTime()}"
    val ckpt = ckptDir("graft_sjoinout_ckpt_")
    val q = joined.writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      impressions.addData((1L, t("10:00")), (2L, t("10:05")), (3L, t("10:10")))
      clicks.addData((1L, t("10:20")))
      clicks.addData((3L, t("10:15")), (99L, t("12:00")))
      impressions.addData((98L, t("12:00")))
      q.processAllAvailable()
      // one more micro-batch applies the round-1 watermark → null flush
      impressions.addData((97L, t("12:01")))
      q.processAllAvailable()
    } finally { q.stop(); deleteRecursively(ckpt) }
    s.table(name)
      .select(col("ad_id"),
        when(col("click_ts").isNull, lit(0)).otherwise(lit(1)).as("matched"),
        (unix_timestamp(col("click_ts")) - unix_timestamp(col("imp_ts")))
          .as("delay_sec"))
      .orderBy("ad_id")
  }

  // `stream_update_mode` — tumbling aggregation in UPDATE output mode:
  // the mode a live dashboard consumes. Append emits a window ONCE,
  // after the watermark closes it (final answer, exactly-once rows);
  // update RE-EMITS a window's current partial every micro-batch that
  // changes it (fresh answer, upsert rows — the sink must key on the
  // window). The memory sink keeps every emission, so the returned
  // table IS the emission history and the spec can pin the partials:
  // window 10:00 emits n=2 then n=3 as a third event lands in it —
  // exactly the revision stream append mode is forbidden from
  // producing. State size is identical to append (one row per open
  // window per key); what changes is WHEN results leave the store.
  // No watermark: under update mode it only bounds state eviction —
  // omitting it keeps every window revisable, the dashboard contract.
  def streamUpdateMode(spark: SparkSession, dir: String): DataFrame = {
    val s = demoSession(spark)
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("ws"), col("n"), col("sum_value"))
    val name = s"stream_update_sink_${System.nanoTime()}"
    val ckpt = ckptDir("graft_supd_ckpt_")
    val q = agg.writeStream
      .format("memory").queryName(name)
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      input.addData((t("10:01"), 1.0), (t("10:03"), 2.0))
      q.processAllAvailable()
      input.addData((t("10:05"), 4.0), (t("10:12"), 5.0))
      q.processAllAvailable()
    } finally { q.stop(); deleteRecursively(ckpt) }
    // emission history: (10:00 n=2 sum=3) revised to (n=3 sum=7),
    // plus (10:10 n=1 sum=5) — unique under (ws, n)
    s.table(name).orderBy("ws", "n")
  }

  // `stream_transform_state` — per-user LIFETIME running totals via
  // transformWithState (the [[RunningTotals]] processor above): the
  // arbitrary-stateful pattern the old APIs strain at — state that
  // never expires, revised output every batch, typed named state —
  // in Spark 4's intended API. The sink upserts on user_id; the
  // memory sink keeps the emission history so the spec pins the
  // per-batch revisions exactly as stream_update_mode does for the
  // built-in windowed agg.
  def streamTransformState(spark: SparkSession, dir: String): DataFrame = {
    // transformWithState requires the RocksDB provider (state store
    // v2 with changelog metadata) — also the honest 100 TB choice
    val s = rocksSession(spark)
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val out = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new RunningTotals,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "n_events", "sum_value")
    val name = s"stream_tws_sink_${System.nanoTime()}"
    val ckpt = ckptDir("graft_stws_ckpt_")
    val q = out.writeStream
      .format("memory").queryName(name)
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      input.addData((1L, t("10:00"), 1.0), (1L, t("10:01"), 2.0),
        (2L, t("10:02"), 5.0))
      q.processAllAvailable()
      input.addData((1L, t("10:05"), 4.0))
      q.processAllAvailable()
    } finally { q.stop(); deleteRecursively(ckpt) }
    // history: user 1 totals (2, 3.0) revised to (3, 7.0); user 2 (1, 5.0)
    s.table(name).orderBy("user_id", "n_events")
  }

  // `stream_state_ttl` — timers + state TTL via the [[SessionFlush]]
  // processor (the eviction half of the Spark 4 stateful API;
  // stream_transform_state covers lifetime state only): idle-timeout
  // sessionization in PROCESSING time — a key's open session flushes
  // when the key goes quiet for `delay`, driven by a registered timer
  // firing in a later micro-batch, while a TTL'd per-key lifetime
  // counter demonstrates how an unbounded key domain is bounded by
  // inactivity eviction rather than a watermark.
  //
  // Determinism under load (every margin is monotone-safe — delay only
  // makes timers MORE expired and the TTL MORE evicted):
  //  - short-gap (150 ms) keys flush as soon as a post-expiry batch
  //    runs; the continuous trigger loop guarantees one promptly and a
  //    stalled host only defers, never changes, the emission;
  //  - key 1's first events carry a 60 s guard gap, so its session
  //    CANNOT flush before the follow-up event re-arms it down to
  //    150 ms — pinning one 3-event session, never 2+1;
  //  - key 5 returns only after an unconditional sleep > the 300 ms
  //    `visited` TTL since its state was last written, so the marker
  //    has provably evicted (longer elapsed = still evicted) while the
  //    10-min `lifetime` counter provably survives — one row showing
  //    both TTL horizons.
  def streamStateTtl(spark: SparkSession, dir: String): DataFrame = {
    val s = rocksSession(spark)
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, Double, Long)]
    val out = input.toDS()
      .groupByKey(_._1)
      .transformWithState(new SessionFlush(ttlMs = 300),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "n_events", "sum_value", "lifetime_events",
        "prior_visit")
    val name = s"stream_sttl_sink_${System.nanoTime()}"
    val ckpt = ckptDir("graft_sttl_ckpt_")
    val q = out.writeStream
      .format("memory").queryName(name)
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .start()
    // Timer-driven emission arrives in a LATER batch than its input, so
    // sync on the sink growing to the expected row count (see the
    // SessionFlush note: processAllAvailable never converges here).
    // 180 s, not 60: every emission below is monotone-safe under load
    // (delay only makes timers MORE expired), so on a contended driver
    // host the right move is to wait longer, never to give up — r13's
    // driver run lost this key's correctness row to a premature deadline
    // (VERDICT r13 item 2).
    def awaitRows(target: Long): Unit = {
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (s.table(name).count() < target) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(
            s"stream_state_ttl: sink never reached $target rows")
        Thread.sleep(50)
      }
    }
    val guard = 60000L // must outlive the whole run; re-armed away below
    try {
      // phase 1: key 1 opens under the guard gap; keys 2 and 5 open
      // with 150 ms gaps and flush on timer expiry
      input.addData((1L, 1.0, guard), (1L, 2.0, guard),
        (2L, 5.0, 150L), (5L, 7.0, 150L))
      awaitRows(2)
      // phase 2: key 1's third event re-arms 60 s -> 150 ms; the flush
      // is ONE 3-event session — fresh input deleted the guard timer
      input.addData((1L, 4.0, 150L))
      awaitRows(3)
      // phase 3: only now does key 5 return. Its `visited` marker was
      // last written in phase 1, > 300 ms ago by construction (two
      // timer waits) — but sleep the full TTL out unconditionally so
      // eviction never depends on scheduler luck
      Thread.sleep(450)
      input.addData((5L, 8.0, 150L))
      awaitRows(4)
    } finally { q.stop(); deleteRecursively(ckpt) }
    // (user_id, sum_value) is unique across the emission history
    s.table(name).orderBy("user_id", "sum_value")
  }

  // `stream_merge_cdc` — the streaming half of the lakehouse MERGE:
  // a CDC changelog arrives as a stream and every micro-batch MERGEs
  // into the partitioned parquet target via foreachBatch — exactly the
  // Delta/Iceberg streaming-upsert sink shape (readStream → foreachBatch
  // { MERGE }). The apply is Layout.mergeApply, the same code path the
  // batch merge_into key certifies, made IDEMPOTENT (matched-'I' keeps
  // the target row, ANSI whenNotMatched semantics) so an at-least-once
  // redelivery of any batch is a no-op — StreamMergeSpec pins both the
  // redelivery drill and streaming-equals-batch equivalence. The final
  // table state is deterministic (changelog keys are disjoint across
  // ops, so batch order cannot matter), which is why this STREAMING key
  // can carry a full DuckDB oracle — the flat replay of the merged
  // state — instead of the spec-only verification most streaming keys
  // settle for. Scale: each micro-batch pays changelog-slice-sized
  // work (DPP-pruned target read + one full-outer merge + dynamic
  // overwrite of touched partitions), the same bounded increment the
  // batch key argues.
  def streamMergeCdc(spark: SparkSession, dir: String): DataFrame = {
    // The shared demo session's tiny-micro-batch tuning (NO_CODEGEN,
    // 2 shuffle partitions) holds for THIS key too, although its
    // batches carry ~100k rows: a dedicated codegen'd 8-partition
    // session was A/B'd in r17 and measured 4.6 s vs 4.1-4.3 s
    // same-host — the per-batch cost is the target re-list + parquet
    // write + stream commit machinery, not expression eval, so the
    // Janino compiles only added latency. Reverted; decomposition in
    // SCALING.md r17 perf notes.
    val s = demoSession(spark)
    val path = graft.sources.FormatSources.exportPath("smergetgt", dir)
    graft.operators.Layout.mergeBase(spark, dir)
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    // changelog staged one file per op → three deterministic
    // micro-batches under maxFilesPerTrigger=1
    val chgPath = java.nio.file.Paths.get(
      graft.sources.FormatSources.exportPath("smergechg", dir))
    deleteRecursively(chgPath)
    // Stage the changelog as ONE parallel job (r18, replacing r17's
    // persist + 3 sequential coalesce(1) writes — measured 1.0 s of the
    // key's 3.4 s): repartition(3, op) puts each op's rows entirely in
    // one task (hash is per-value deterministic) and partitionBy("op")
    // then emits exactly ONE file per op — the three deterministic
    // micro-batch inputs — from a single parallel scan + 3 write tasks.
    // Batch ORDER no longer follows op order (one job, near-equal
    // timestamps), which is fine by construction: the three op slices
    // touch DISJOINT event_id sets (mod-3/mod-6 classes), so the merged
    // final state is order-invariant — the same argument that lets this
    // streaming key carry a full DuckDB oracle.
    val chg = graft.operators.Layout.mergeChangelog(spark, dir)
    chg.repartition(3, col("op"))
      .write.mode("overwrite").partitionBy("op").parquet(chgPath.toString)
    val ckpt = ckptDir("graft_smerge_ckpt_")
    // The lakehouse manifest, held ACROSS micro-batches (r17 verdict
    // item 1): schema read once, per-partition file lists re-listed
    // only for partitions each merge touches. Without it every batch
    // re-ran a root listing + schema-inference job against the target —
    // the measured per-batch fixed cost, and at 100 TB a ~100k-file
    // driver metadata walk per micro-batch. This is exactly what
    // Delta/Iceberg's commit log amortizes for their streaming MERGE.
    val manifest =
      new graft.operators.Layout.MergeTargetCache(s, path, "event_type")
    val q = s.readStream.schema(chg.schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(chgPath.toString)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        // no isEmpty pre-flight: the cached mergeApply's touched-
        // partition collect doubles as the emptiness check (one job
        // per batch, not two)
        graft.operators.Layout.mergeApply(b.sparkSession, path, b,
          Some(manifest))
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally { q.stop(); deleteRecursively(ckpt) }
    spark.read.parquet(path)
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("cents"))
      .orderBy("event_id")
  }

  // `stream_foreachbatch` — the foreachBatch sink: THE production sink
  // API. Everything Spark has no native sink for routes through it
  // (JDBC upserts, multi-table fan-out, dedupe-merge into a lakehouse
  // table), and its correctness discipline is the operator's contract:
  //  1. the sink receives (batchDF, batchId) and must be IDEMPOTENT by
  //     batchId — the engine guarantees at-least-once delivery, so a
  //     redelivered id must no-op for end-to-end exactly-once;
  //  2. a batch consumed more than once inside the function is
  //     persisted first (here: written then counted — two actions).
  // The demo runs an update-mode windowed agg whose per-batch UPDATE
  // rows land in a parquet emission log partitioned by batch_id
  // (discovery turns the dir name back into a column), then PROVES the
  // idempotent-skip by replaying a poisoned frame under an
  // already-written batch id after the query stops — if the skip ever
  // broke, the poison rows would surface in the pinned output.
  def streamForeachBatch(spark: SparkSession, dir: String): DataFrame = {
    val s = demoSession(spark)
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("ws"), col("n"), col("sum_value"))
    // per-(sf dir, process) output root, cleared at START of each
    // invocation (the returned frame reads it lazily, so clearing at
    // the end would race the caller's terminal action) and removed at
    // JVM exit with the export dirs; fresh checkpoint per run so batch
    // ids restart at 0
    val outRoot = java.nio.file.Paths.get(graft.sources.FormatSources
      .scratchDir(tmpRoot.toString, "fb_out", dir))
    deleteRecursively(outRoot)
    Files.createDirectories(outRoot)
    val ckpt = ckptDir("graft_fb_ckpt_")
    def writeBatch(batch: DataFrame, id: Long): Unit = {
      val target = outRoot.resolve(s"batch_id=$id")
      if (!Files.exists(target) && !batch.isEmpty) {
        // two consumers below (write + count) -> persist once
        batch.persist()
        try {
          batch.write.mode("overwrite").parquet(target.toString)
          batch.count() // stand-in second sink (metrics path)
        } finally batch.unpersist()
      }
    }
    val q = agg.writeStream
      .foreachBatch(writeBatch _)
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      input.addData((t("10:01"), 1.0), (t("10:03"), 2.0))
      q.processAllAvailable()
      input.addData((t("10:05"), 4.0), (t("10:12"), 5.0))
      q.processAllAvailable()
    } finally { q.stop(); deleteRecursively(ckpt) }
    // redelivery drill: batch id 1 arrives AGAIN with poisoned content —
    // the idempotent guard must skip it (at-least-once -> exactly-once)
    writeBatch(
      Seq((t("09:00"), 999L, 999.0)).toDF("ws", "n", "sum_value"), 1L)
    s.read.parquet(outRoot.toString).orderBy("batch_id", "ws")
  }
}
