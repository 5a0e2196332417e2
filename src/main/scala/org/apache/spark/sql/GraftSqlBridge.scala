package org.apache.spark.sql

import org.apache.spark.{OneToOneDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{DirectShufflePartitionID, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

/** Bridge for Spark internals that are `private[sql]` at the Scala
  * level but stable public bytecode: Column ⇄ Expression conversion for
  * graft's native Catalyst expressions, session cloning for the
  * streaming entries' child sessions, and the routed final-aggregate
  * exchange of the averaging core. Scoped to exactly these calls.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A child of `s` that starts with a copy of its runtime conf and
    * temp views; conf written on the child never reaches `s`.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `agg`, whose plan holds one partial/final aggregate grouped by
    * (among others) the int column `pid` in [0, width), with the exchange
    * between its partial and final halves routing each partial row to
    * partition `pid` instead of hashing the whole grouping key. Map-side
    * partials still come before that one exchange, and a `pid` value's
    * rows all land in one partition. The prepared plan is read through a
    * LogicalRDD that declares the routed partitioning; [[routedPlans]]
    * recovers it.
    */
  def routeFinalAggregate(agg: DataFrame, pid: String, width: Int): DataFrame = {
    val ds = agg.asInstanceOf[classic.Dataset[Row]]
    val plan = ds.queryExecution.sparkPlan
    val finals = plan.collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(_.mode == Final) => a
    }
    require(finals.size == 1,
      s"routeFinalAggregate: expected one final aggregate, found ${finals.size} in:\n$plan")
    val routed = plan.transformUp {
      case a: BaseAggregateExec if a eq finals.head =>
        val key = a.child.output.find(_.name == pid).getOrElse(throw new IllegalArgumentException(
          s"routeFinalAggregate: the final aggregate's input has no column $pid"))
        a.withNewChildren(Seq(ShuffleExchangeExec(
          ShufflePartitionIdPassThrough(DirectShufflePartitionID(key), width),
          a.child, REPARTITION_BY_NUM)))
    }
    val prepared = QueryExecution.prepareExecutedPlan(ds.sparkSession, routed)
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD(prepared.output,
      new PlanRDD(prepared), prepared.outputPartitioning)(ds.sparkSession))
  }

  /** The prepared plans [[routeFinalAggregate]] put under `plan`. */
  def routedPlans(plan: LogicalPlan): Seq[SparkPlan] =
    plan.collect { case r: LogicalRDD => r.rdd }.collect { case p: PlanRDD => p.plan }

  /** The rows of a prepared physical plan. The plan executes on the
    * first `partitions` call, inside the action that reads this RDD, so
    * its broadcasts run in that action's SQL execution and not when the
    * frame is built.
    */
  private final class PlanRDD(@transient val plan: SparkPlan)
      extends RDD[InternalRow](plan.session.sparkContext, Nil) {
    @transient private lazy val rows = plan.execute()
    override protected def getDependencies = Seq(new OneToOneDependency(rows))
    override protected def getPartitions: Array[Partition] = rows.partitions
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      firstParent[InternalRow].iterator(split, context)
  }
}
