package graft

import graft.plans.SingleSplitPlans
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, RoundRobinPartitioning, StatefulOpClusteredDistribution}
import org.apache.spark.sql.execution.{CoalesceExec, RangeExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** A child distribution that pins a partition count. */
final case class PinnedWidth(child: SparkPlan, required: Distribution)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] = Seq(required)
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** The rule the SQL endpoint's sessions plan with: over a known input
  * within one split it puts `Coalesce 1` where `EnsureRequirements`
  * would put an exchange, and it leaves every plan it cannot size, and
  * every distribution one partition must not take, as it was.
  */
class SingleSplitPlansSpec extends SparkSpec {

  /** `df`'s physical plan as the planner hands it to AQE. */
  private def planned(df: org.apache.spark.sql.Dataset[_]): SparkPlan =
    df.queryExecution.sparkPlan

  /** The rule applied with `s`'s conf. */
  private def rewrite(plan: SparkPlan, s: SparkSession = spark): SparkPlan = {
    val before = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    try SingleSplitPlans(plan)
    finally before.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  private def coalesces(p: SparkPlan) = p.collect { case c: CoalesceExec => c }
  private def exchanges(p: SparkPlan) = p.collect { case e: ShuffleExchangeExec => e }

  private lazy val aggregate = planned(spark.range(0, 1000, 1, 4)
    .groupBy((col("id") % 7).as("k")).agg(sum(col("id"))))

  test("a grouped aggregate and a global sort within one split take Coalesce 1, and no exchange") {
    val sorted = planned(spark.range(0, 1000, 1, 4).orderBy(col("id").desc))
    Seq(aggregate, sorted).foreach { p =>
      val once = rewrite(p)
      assert(coalesces(once).map(_.numPartitions) == Seq(1), once)
      assert(exchanges(EnsureRequirements()(once)).isEmpty, once)
      assert(exchanges(EnsureRequirements()(p)).nonEmpty, p)
      assert(rewrite(once) == once, "applying the rule twice changed the plan")
    }
  }

  test("inputs above the max split keep the plan as it is") {
    val small = GraftSession.fork(spark, "spark.sql.files.maxPartitionBytes" -> "1024")
    assert(SingleSplitPlans.inputBytes(aggregate).exists(_ > 1024))
    assert(rewrite(aggregate, small) == aggregate)
  }

  test("an unknown-size leaf or an unmaterialized stage keeps the plan as it is") {
    val rdd = spark.sparkContext.parallelize(Seq(Row(1L), Row(2L)), 2)
    val fromRdd = planned(spark.createDataFrame(rdd,
      StructType(Seq(StructField("id", LongType)))).groupBy(col("id")).count())
    assert(SingleSplitPlans.inputBytes(fromRdd).isEmpty)
    assert(rewrite(fromRdd) == fromRdd)
    val staged = aggregate.transformUp {
      case r: RangeExec =>
        val exchange = ShuffleExchangeExec(RoundRobinPartitioning(2), r)
        ShuffleQueryStageExec(0, exchange, exchange.canonicalized)
    }
    assert(staged.collect { case s: ShuffleQueryStageExec => s }.size == 1)
    assert(SingleSplitPlans.inputBytes(staged).isEmpty)
    assert(rewrite(staged) == staged)
  }

  test("a broadcast side and a pinned partition count stay as they are") {
    val joined = planned(spark.range(0, 100, 1, 4)
      .join(broadcast(spark.range(0, 10, 1, 2)), "id"))
    assert(rewrite(joined) == joined)
    val range = planned(spark.range(0, 100, 1, 4))
    Seq(StatefulOpClusteredDistribution(range.output, 4),
        ClusteredDistribution(range.output, requiredNumPartitions = Some(4)))
      .foreach { d =>
        val pinned = PinnedWidth(range, d)
        assert(rewrite(pinned) == pinned, d)
      }
  }
}
