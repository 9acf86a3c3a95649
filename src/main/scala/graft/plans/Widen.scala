package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import graft.operators.Width

/** `child` spread over the session's parallelism when the RDD it runs as
  * is narrower (`graft.operators.Width`, the gate the flat-kNN exec uses
  * too). Row-for-row the child; only the partitioning may change. */
case class Widen(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

case class WidenExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override protected def doExecute(): RDD[InternalRow] = {
    val rows = child.execute()
    if (Width.narrow(rows)) Width.spread(child, RoundRobinPartitioning(_))
    else rows
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}
