package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{Command, Generate,
  LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.WriteFiles
import org.apache.spark.sql.internal.SQLConf

/** Plans a small TERMINAL global sort on one partition:
  * `Sort(global, child)` becomes `Sort(global, Coalesce(1, child))`.
  *
  * The terminal ORDER BYs exist for the determinism contract with the
  * DuckDB oracle (SCALING.md "Windows, top-k, sort"). Planned as a range
  * sort, each costs a RangePartitioner sampling job that re-runs the
  * child, plus a range-shuffle stage. Under the coalesce the sort's
  * input is `SinglePartition`, so `EnsureRequirements` plans no
  * exchange: the same rows in the same total order, two jobs fewer.
  *
  * The rule fires only when all of these hold:
  *  - the sort is terminal: above it sit only commands and writes,
  *    `coalesce(1)` (Verify's writer) and projections of bare
  *    attributes. A computed projection above the sort is consumer work
  *    that should run wide (the consumers-above-sort pattern), and
  *    top-k plans as TakeOrderedAndProject, not as a Sort;
  *  - AQE is on: sizing a partition count from a size estimate is
  *    AQE's job, and with AQE off Spark never sizes from data;
  *  - the input is estimated at no more than AQE's own target for one
  *    partition (`spark.sql.adaptive.advisoryPartitionSizeInBytes`).
  *    At scale the estimate is far above it and the range sort stays;
  *  - the input holds no `Generate` (the estimator does not scale a
  *    Generate's size by its fan-out) and is not a streaming plan.
  *
  * Installed once per session by [[install]], from `Tables.load`'s
  * memo-miss path, the read every operator's plan starts from. */
object TerminalSort extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.adaptiveExecutionEnabled || plan.isStreaming) plan
    else terminal(plan)

  /** Walks down from the root through the nodes that may sit above a
    * terminal sort, and rewrites the sort it reaches. */
  private def terminal(plan: LogicalPlan): LogicalPlan = plan match {
    case s @ Sort(_, true, child, _) if fitsOnePartition(child) =>
      s.copy(child = Repartition(1, shuffle = false, child))
    case _: Command | _: WriteFiles | Repartition(1, false, _) =>
      plan.mapChildren(terminal)
    case Project(list, _) if list.forall(_.isInstanceOf[Attribute]) =>
      plan.mapChildren(terminal)
    case _ => plan
  }

  private def fitsOnePartition(child: LogicalPlan): Boolean = child match {
    case Repartition(1, _, _) => false // already one partition: rewritten
    case _ =>
      !child.exists(_.isInstanceOf[Generate]) &&
        child.stats.sizeInBytes <=
          conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }

  /** Adds the rule to `spark`'s optimizer unless it is already there
    * (experimental methods are per session: a `newSession()` child
    * starts without it and gets it on its own first load). */
  def install(spark: SparkSession): Unit = synchronized {
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(TerminalSort))
      spark.experimental.extraOptimizations = extra :+ TerminalSort
  }
}
