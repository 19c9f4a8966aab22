package graft.functions.expressions

import org.apache.spark.Partitioner
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, IntegerType}

/** The range partition index of a row under FIXED bounds: `children`
  * evaluate to the sort key, and `partitioner` (a
  * `org.apache.spark.RangePartitioner` over key rows, built once on the
  * driver by [[graft.functions.GlobalRank]]) places it. Because the
  * bounds are part of the expression, every evaluation of every plan
  * that carries it assigns a row the same index — unlike a range
  * exchange, which samples its own bounds each time it runs, from input
  * whose row order may differ between runs. The index is monotone in
  * the sort order: a row that sorts earlier never lands in a later
  * partition, and equal keys always share a partition.
  */
case class RangeBucket(children: Seq[Expression], partitioner: Partitioner)
    extends Expression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "range_bucket"
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any = {
    val key = new GenericInternalRow(children.length)
    var i = 0
    while (i < children.length) {
      key.update(i, children(i).eval(input))
      i += 1
    }
    partitioner.getPartition(key)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RangeBucket = copy(children = newChildren)
}
