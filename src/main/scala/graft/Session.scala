package graft
import org.apache.spark.sql.SparkSession

/** The one session conf set: every main (Bench, Verify, ScaleGen) and
  * the test session build through here, so the plan Bench times is the
  * plan Verify checks. Callers add their own confs to the returned
  * builder and call `getOrCreate`.
  *
  * Master: `local[cores]`, or `SPARK_GRAFT_MASTER` when set — e.g.
  * `local-cluster[2,2,2048]` runs 2 separate executor JVMs so broadcasts,
  * accumulators and shuffle blocks cross real process boundaries.
  * Executors need the compiled classes on their own classpath: pass
  * -Dspark.executor.extraClassPath via SPARK_GRAFT_JAVA_OPTS and set
  * SPARK_HOME (see VERIFY_cluster.md). */
object Session {
  def builder(
      cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  ): SparkSession.Builder =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floor = cores/4 (r19, measured): the advisory-
      // size coalescer collapses every small shuffle to ONE partition,
      // so each CPU-heavy post-shuffle stage (interpreted variant
      // consumers, HOF projections above a terminal sort) ran
      // single-core while 31 cores idled — variant_explode 2.7 → 1.2 s,
      // win_running 1.0 → 0.5 s in the same window. The floor is
      // DERIVED (a quarter of session parallelism, min 2), not a tuned
      // constant: at production volumes byte-targeted partition counts
      // sit far above core count and the floor never binds; it binds
      // exactly in the small-shuffle regime where partitions are
      // compute-bound, not byte-bound. A quarter rather than all cores
      // because the floor also taxes every genuinely tiny stage with
      // task overhead — the 4-arm A/B (floor 1/8/16/32 over a mixed
      // 22-key sample, same window) read 19.4 / 15.8 / 16.7 / 16.3 s:
      // cores/4 keeps ~all of the heavy-stage win at a quarter of the
      // overhead.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        math.max(2, cores / 4).toString)
      // Let AQE re-plan (and coalesce) shuffles above cached plans too —
      // the iterative CC loop's per-round joins read persisted frames,
      // which this conf otherwise pins at the static partition count.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Runs `body` with the confs `kvs` set on `spark`, then restores each
    * to its previous value (or unsets it), also when `body` throws.
    * A conf that must be live at execution needs `body` to execute its
    * plan, not just declare it. */
  def withConfs[T](spark: SparkSession, kvs: Seq[(String, String)])(
      body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
