package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, NamedExpression, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, ProjectExec, SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/** The hand-off of a small shuffled epoch ([[graft.sources.GraftRead]]
  * step 7). `load()` states such an epoch in plain Catalyst: the scan
  * projects the decoded fields plus a position key whose columns carry
  * [[PositionKey]] metadata, then `coalesce(1)`, a local sort on the
  * key, and a projection that drops it. Spark plans that as one task
  * that decodes every row, sorts and projects, and drains it through
  * its collect codec; any frame composed on top keeps pruning and
  * pushdown, since the shape is ordinary Catalyst.
  *
  * [[Planner]] (injected by `graft.functions.GraftExtensions`) plans
  * exactly that tagged shape as one [[SortedEpochExec]]. Its
  * `doExecute` is Spark's own plan, one sorted partition, for whatever
  * runs on top. Its `executeCollect` and `executeToIterator`, which
  * `collect` and `toLocalIterator` call on a root node, decode in the
  * scan's parallel tasks, bring the projected rows to the driver with
  * their keys in one job, and sort them there: the same rows in the
  * same order, with no second stage and no collect codec. */
object EpochBridge {

  /** Metadata flag on the position-key columns of a `load()` epoch. */
  private val PositionKey = "graft.position"

  private val tag: Metadata =
    new MetadataBuilder().putBoolean(PositionKey, true).build()

  /** `c` named `name` and tagged as a position-key column. */
  def keyColumn(c: Column, name: String): Column = c.as(name, tag)

  private def isKey(e: Expression): Boolean = e match {
    case a: Attribute => a.metadata.contains(PositionKey)
    case _ => false
  }

  object Planner extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Project(list, Sort(order, false, Repartition(1, false, child), _))
          if order.nonEmpty && order.forall(o => isKey(o.child)) &&
            list.forall(_.deterministic) =>
        SortedEpochExec(list, order, planLater(child)) :: Nil
      case _ => Nil
    }
  }
}

/** `Project(projectList, Sort(order, local, Repartition(1, no shuffle,
  * child)))` as one node; see [[EpochBridge]]. `order` is over
  * `child`'s position-key attributes, which `projectList` drops. */
case class SortedEpochExec(projectList: Seq[NamedExpression],
    order: Seq[SortOrder], child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition

  // Spark's plan of the same pattern, built once per node under the
  // node's session (a SparkPlan reads the active session when built)
  @transient private lazy val onePartition: SparkPlan = session.withActive(
    ProjectExec(projectList, SortExec(order, global = false,
      CoalesceExec(1, child))))

  override protected def doExecute(): RDD[InternalRow] = onePartition.execute()

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val in = child.output
    val keys = order.map(_.child.asInstanceOf[Attribute])
    val list = projectList
    val keyed = sparkContext.runJob(child.execute(),
      (rows: Iterator[InternalRow]) => {
        val key = UnsafeProjection.create(keys, in)
        val project = UnsafeProjection.create(list, in)
        rows.map(r => (key(r).copy(): InternalRow, project(r).copy())).toArray
      })
    val ordering = RowOrdering.create(order, keys)
    keyed.flatten.sortBy(_._1)(ordering).map(_._2)
  }

  override def executeToIterator(): Iterator[InternalRow] =
    executeCollect().iterator

  override protected def withNewChildInternal(
      newChild: SparkPlan): SortedEpochExec = copy(child = newChild)
}
