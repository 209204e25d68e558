package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** HyperLogLog cardinality aggregate over pre-hashed 64-bit inputs.
  *
  * Re-expresses the reference's probabilistic aggregation
  * (`probabilistic/src/main/java/com/hazelcast/jet/contrib/probabilistic/
  * ProbabilisticAggregations.java:28-70`): explicit precision in [4,16]
  * (default 14), `Long` hash input, `Long` estimate output, and a
  * create/accumulate/combine/finish shape — which maps 1:1 onto Spark's
  * `TypedImperativeAggregate` (SURVEY.md §1.3). The buffer is the
  * [[HllRegisters]] register array.
  *
  * Estimator: standard HLL (Flajolet et al.) with linear counting for the
  * small range. Standard error 1.04/sqrt(2^p) — at the reference's default
  * p=14 that is 0.81%, well inside its ±5% acceptance band
  * (`HyperLogLogTest.java:72-74`).
  */
case class HyperLogLogPP(
    child: Expression,
    precision: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HllHashAggregate {

  override def eval(buf: Array[Byte]): Any = HyperLogLogPP.estimate(buf)

  override def dataType: DataType = LongType
  override def prettyName: String = "hyper_log_log"

  override def withNewMutableAggBufferOffset(newOffset: Int): HyperLogLogPP =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HyperLogLogPP =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HyperLogLogPP =
    copy(child = newChild)
}

object HyperLogLogPP {
  // Bounds mirror ProbabilisticAggregations.java:28-30 (MIN/MAX/DEFAULT precision).
  val MinPrecision = 4
  val MaxPrecision = 16
  val DefaultPrecision = 14

  private[functions] val InvPow2: Array[Double] =
    Array.tabulate(64)(r => java.lang.Math.pow(2.0, -r))

  /** HLL estimator over a register array (m = regs.length = 2^precision). */
  def estimate(regs: Array[Byte]): Long = {
    val m = regs.length
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += InvPow2(regs(i))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    var e = alpha * m * m / sum
    if (e <= 2.5 * m && zeros > 0) e = m * math.log(m.toDouble / zeros)
    math.round(e)
  }

  /** FunctionRegistry builder: hyper_log_log(col[, precision]). */
  def builder(exprs: Seq[Expression]): Expression =
    HllRegisters.builder("hyper_log_log", HyperLogLogPP(_, _))(exprs)
}

/** The one HLL register kernel behind [[HyperLogLogPP]], [[HllSketchAgg]]
  * and [[HllMergeAgg]]: a buffer is the raw register array (m = 2^p
  * bytes, one rank per register), so partial aggregation, shuffle-side
  * merge and sketch serialization are all a single `Array[Byte]`. */
private[graft] object HllRegisters {
  import HyperLogLogPP.{DefaultPrecision, MaxPrecision, MinPrecision}

  def checkPrecision(fn: String, precision: Int): Unit =
    require(precision >= MinPrecision && precision <= MaxPrecision,
      s"$fn precision must be in [$MinPrecision, $MaxPrecision], got $precision")

  /** Fold one 64-bit hash into its register: the top `precision` bits
    * pick the register, the rank is 1 + the leading zeros of the rest. */
  def offer(regs: Array[Byte], hash: Long, precision: Int): Unit = {
    val idx = (hash >>> (64 - precision)).toInt
    val w = hash << precision
    // low `precision` bits of w are zero, so nlz(w) <= 63 - precision
    val rank = if (w == 0L) (64 - precision + 1) else java.lang.Long.numberOfLeadingZeros(w) + 1
    if (rank > regs(idx)) regs(idx) = rank.toByte
  }

  /** Element-wise max of `other` into `regs`. An empty array is the
    * identity (the initial `hll_merge` buffer). */
  def maxInto(regs: Array[Byte], other: Array[Byte]): Array[Byte] = {
    if (other.isEmpty) return regs
    if (regs.isEmpty) return other.clone()
    require(regs.length == other.length,
      s"cannot merge HLL sketches of different precision (${regs.length} vs ${other.length})")
    var i = 0
    while (i < regs.length) {
      if (other(i) > regs(i)) regs(i) = other(i)
      i += 1
    }
    regs
  }

  /** FunctionRegistry builder for `fn(col[, precision])`. The input is
    * cast to LongType (a long→long cast is elided by SimplifyCasts). */
  def builder(fn: String, make: (Expression, Int) => Expression)(
      exprs: Seq[Expression]): Expression = exprs match {
    case Seq(c) => make(Cast(c, LongType), DefaultPrecision)
    case Seq(c, Literal(p: Int, IntegerType)) => make(Cast(c, LongType), p)
    case _ =>
      throw new IllegalArgumentException(
        s"$fn expects (col) or (col, <int literal precision>)")
  }
}

/** Catalyst plumbing shared by the three HLL aggregates: a register-array
  * buffer that merges by element-wise max and serializes as itself. */
private[graft] trait HllAggregate
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    HllRegisters.maxInto(buf, other)
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
  override def nullable: Boolean = false
}

/** An HLL aggregate over pre-hashed 64-bit inputs at a fixed precision. */
private[graft] trait HllHashAggregate extends HllAggregate {
  def precision: Int

  HllRegisters.checkPrecision(prettyName, precision)

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](1 << precision)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) HllRegisters.offer(buf, v.asInstanceOf[Long], precision)
    buf
  }
}
