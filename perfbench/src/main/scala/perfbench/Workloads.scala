package perfbench

/** The benchmark's workloads: which `SparkEntry.queries` keys a pass
  * runs over the committed fixtures.
  *
  * A key set is sized so that one run (set-up, a cold pass and a warm
  * window of many passes) fits the per-run budget;
  * the README records which keys were trimmed and why.
  */
object Workloads {

  /** @param keys the keys one pass runs, in canonical (sorted) order */
  final case class Workload(name: String, keys: Seq[String])

  /** Read-only batch keys whose scans are single tasks on the
    * one-row-group fixtures: the per-action floor and execution
    * dominate, construct is small. */
  private val readKeys: Seq[String] = Seq(
    "q6", "scan_project", "filter_conj", "tpch_q1", "agg_group",
    "join_inner_hash", "win_rank", "json_funcs", "dedup_exact").sorted

  /** Keys that do their work outside one read action: eager construct
    * jobs (pipeline_observe, table_transpose), a declared
    * write read back (scan_csv) and pre-sort persists released before
    * every execution (win_lag_lead per row, stat_runs reduced). */
  private val stateKeys: Seq[String] = Seq(
    "pipeline_observe", "table_transpose", "scan_csv", "win_lag_lead",
    "stat_runs").sorted

  val all: Map[String, Workload] = Seq(
    Workload("fixture_read", readKeys),
    Workload("fixture_state", stateKeys),
  ).map(w => w.name -> w).toMap

  /** The key order of one pass: a pure function of the keys, the run's
    * seed and the pass number. */
  def order(keys: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(keys)
}
