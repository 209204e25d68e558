package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** `hll_sketch(hash64Col, p)` → binary register array.
  *
  * The sketch is the raw HLL register array: two sketches of equal
  * precision merge by element-wise max, across jobs and across time — the
  * mergeability contract of the reference's `AggregateOperation1`
  * export/combine split (`ProbabilisticAggregations.java:60-70`). Persist
  * per-partition/day sketches, `hll_merge` them later for rollups without
  * rescanning raw data (the 100 TB path).
  */
case class HllSketchAgg(
    child: Expression,
    precision: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HllHashAggregate {

  override def eval(buf: Array[Byte]): Any = buf.clone()

  override def dataType: DataType = BinaryType
  override def prettyName: String = "hll_sketch"
  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllSketchAgg =
    copy(child = newChild)
}

/** `hll_merge(sketchCol)` → merged cardinality estimate (Long). Accepts the
  * binary sketches produced by `hll_sketch` (equal precision). */
case class HllMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HllAggregate {

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buf else HllRegisters.maxInto(buf, v.asInstanceOf[Array[Byte]])
  }

  override def eval(buf: Array[Byte]): Any =
    if (buf.isEmpty) 0L else HyperLogLogPP.estimate(buf)

  override def dataType: DataType = LongType
  override def prettyName: String = "hll_merge"
  override def withNewMutableAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllMergeAgg =
    copy(child = newChild)
}

object HllSketchAgg {
  def builder(exprs: Seq[Expression]): Expression =
    HllRegisters.builder("hll_sketch", HllSketchAgg(_, _))(exprs)
}
