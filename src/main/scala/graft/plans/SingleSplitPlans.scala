package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, OrderedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, LocalTableScanExec, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Plans a statement whose whole input fits in one scan split as one
  * partition: below every operator that needs its child clustered,
  * ordered or all in one place, it puts a narrow `CoalesceExec(1)`, so
  * `EnsureRequirements` adds no hash or range exchange and AQE runs the
  * statement as one job, not one per exchange (the partial-aggregate
  * map stage, the range-sort sample, the range map stage and the
  * result). At interactive scale those per-stage round-trips are the
  * cost, not the scan: a dashboard view over a few hundred KB ran 3 to
  * 5 jobs.
  *
  * Gate: every leaf has a known input size and the sizes sum to at
  * most `spark.sql.files.maxPartitionBytes`, the bytes Spark already
  * reads in one scan task. Known sizes: a file scan's relation, a
  * cached relation's statistics, a local or range scan's own size, a
  * materialized broadcast stage (0: its rows are already on every
  * task) and a materialized shuffle stage's runtime size. Any other
  * leaf, or a stage not yet materialized, leaves the plan as it is.
  *
  * Broadcast distributions stay as they are, and so do distributions
  * that fix a partition count (stateful operators). The `EXPLAIN` of a
  * rewritten statement shows `Coalesce 1` where the `Exchange` was.
  *
  * Installed with `injectQueryPostPlannerStrategyRule`, which AQE runs
  * before `EnsureRequirements` on the initial plan and on every
  * re-plan, and only on the sessions [[graft.server.SqlEndpoint]]
  * serves: plans of the engine's own sessions keep their exchanges.
  */
object SingleSplitPlans extends Rule[SparkPlan] {

  def apply(plan: SparkPlan): SparkPlan = inputBytes(plan) match {
    case Some(bytes) if bytes <= conf.filesMaxPartitionBytes =>
      plan.transformUp {
        case p if p.children.nonEmpty =>
          p.withNewChildren(p.children.zip(p.requiredChildDistribution).map {
            case (child, d) if collapsible(d) &&
                !child.outputPartitioning.satisfies(d) => CoalesceExec(1, child)
            case (child, _) => child
          })
      }
    case _ => plan
  }

  /** The bytes the leaves of `plan` read, or None if one is unknown. */
  def inputBytes(plan: SparkPlan): Option[BigInt] =
    plan.collectLeaves().foldLeft(Option(BigInt(0))) { (sum, leaf) =>
      for (s <- sum; b <- leafBytes(leaf)) yield s + b
    }

  private def leafBytes(leaf: SparkPlan): Option[BigInt] = leaf match {
    case s: FileSourceScanExec => Some(BigInt(s.relation.sizeInBytes))
    case s: InMemoryTableScanExec => Some(s.relation.computeStats().sizeInBytes)
    case s: TableCacheQueryStageExec => leafBytes(s.inMemoryTableScan)
    case s: LocalTableScanExec =>
      Some(LocalRelation(s.output, s.rows).computeStats().sizeInBytes)
    case s: RangeExec => Some(s.range.computeStats().sizeInBytes)
    case s: BroadcastQueryStageExec if s.isMaterialized => Some(BigInt(0))
    case s: ShuffleQueryStageExec if s.isMaterialized =>
      Some(s.getRuntimeStatistics.sizeInBytes)
    case _ => None
  }

  /** Satisfied by one partition, and not fixed to another count. */
  private def collapsible(d: Distribution): Boolean = d match {
    case AllTuples | _: OrderedDistribution => true
    case c: ClusteredDistribution => c.requiredNumPartitions.isEmpty
    case _ => false
  }
}
