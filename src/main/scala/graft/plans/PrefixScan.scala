package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator implementation of the distributed prefix scan — the
  * custom-`LogicalPlan` + `SparkStrategy` + `SparkPlan` stack (extension
  * level (c)) for the operator `Relational.globalRunningSum` composes out
  * of public building blocks. Registered by [[graft.GraftExtensions]].
  *
  * Physical shape: the exec node DECLARES `OrderedDistribution(order)` +
  * per-partition ordering, so EnsureRequirements plans one range-partition
  * exchange + local sort (exactly what the composed version spells by
  * hand). `doExecute` then runs two passes over the SAME shuffled RDD —
  * pass 1 folds each partition to one long (a |partitions|-long collect:
  * bytes of driver state), pass 2 streams each partition once more adding
  * its exclusive prefix offset. The shuffle files are written once and
  * read twice (same RDD lineage), so the passes cannot disagree on
  * partition contents — the property the DataFrame version needs a
  * localCheckpoint to pin.
  *
  * Contract mirrors the composed operator: `order` must be a total order
  * for engine-independent per-row values; `value` is pre-cast to long and
  * null-coalesced by the [[PrefixScan]] API.
  */
case class PrefixScanNode(order: Seq[Expression], value: Expression,
                          outAttr: AttributeReference, child: LogicalPlan)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): PrefixScanNode =
    copy(child = newChild)
}

object PrefixScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PrefixScanNode =>
      PrefixScanExec(p.order.map(SortOrder(_, Ascending)), p.value, p.outAttr,
        planLater(p.child)) :: Nil
    case _ => Nil
  }
}

case class PrefixScanExec(sortOrder: Seq[SortOrder], value: Expression,
                          outAttr: Attribute, child: SparkPlan)
  extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ outAttr
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(sortOrder) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(sortOrder)
  override def outputOrdering: Seq[SortOrder] = sortOrder
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childRdd = child.execute()
    val bound = BindReferences.bindReference(value, child.output)
    // pass 1: one long per partition (runs as its own job; reads the
    // just-written shuffle output, not the upstream lineage)
    val sums = childRdd.mapPartitions(iter => {
      var s = 0L
      iter.foreach { r => s += bound.eval(r).asInstanceOf[Long] }
      Iterator.single(s)
    }, preservesPartitioning = true).collect()
    val offsets = sums.scanLeft(0L)(_ + _)
    val out = output
    // pass 2: stream each partition with its exclusive offset
    childRdd.mapPartitionsWithIndex { (idx, iter) =>
      var acc = offsets(idx)
      val join = new JoinedRow
      val proj = UnsafeProjection.create(out.map(_.dataType).toArray)
      val extra = new GenericInternalRow(1)
      iter.map { r =>
        acc += bound.eval(r).asInstanceOf[Long]
        extra.update(0, acc)
        proj(join(r, extra))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PrefixScanExec =
    copy(child = newChild)
}
