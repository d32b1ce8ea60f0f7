package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.types._

/** `graft_approx_ndv(col, rsd)` — HyperLogLog++ NDV with the SAME
  * algorithm, hash, register layout, and bias-corrected estimate as
  * Spark's `approx_count_distinct` (it delegates to the same
  * [[HyperLogLogPlusPlusHelper]]), but with the aggregation buffer held
  * as ONE serialized binary field instead of `numWords` separate Long
  * buffer attributes.
  *
  * Why (r17, guide §1.2 step 2): `approx_count_distinct` exposes its
  * register words as individual aggregation-buffer COLUMNS — at the
  * stats-grade rsd = 0.01 that is 2 731 Long attributes PER SKETCH, so
  * q166's three-column stats row carried an 8 000+-field aggregation
  * buffer through update, exchange, and merge. Measured (r17
  * measurement): one rsd-0.01 sketch over 150 k rows costs ~0.95 s per
  * pass vs ~0.33 s at rsd 0.05, and the q166 shape ~2.3 s steady-state —
  * with intermittent 60–290 s runs when the wide-buffer codegen/merge
  * interacts with host memory pressure. This form keeps the registers in
  * a primitive-backed [[SpecificInternalRow]] and ships them as one
  * binary value.
  *
  * Output equality with `approx_count_distinct(col, rsd)` is pinned by
  * ApproxNdvSuite on every input type q166 uses (long, double) plus
  * strings/nulls: both paths hash with the same helper, so the estimates
  * are bit-identical, not merely close.
  */
case class ApproxNdv(
    child: Expression,
    relativeSD: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SpecificInternalRow] with UnaryLike[Expression] {

  def this(child: Expression, rsdExpr: Expression) =
    this(child, ApproxNdv.validateDoubleLiteral(rsdExpr))

  @transient private lazy val helper = new HyperLogLogPlusPlusHelper(relativeSD)

  override def createAggregationBuffer(): SpecificInternalRow =
    new SpecificInternalRow(Seq.fill(helper.numWords)(LongType)) // zeroed longs

  override def update(buffer: SpecificInternalRow, input: InternalRow): SpecificInternalRow = {
    val v = child.eval(input)
    if (v != null) helper.update(buffer, 0, v, child.dataType)
    buffer
  }

  override def merge(
      buffer: SpecificInternalRow, other: SpecificInternalRow): SpecificInternalRow = {
    helper.merge(buffer, other, 0, 0)
    buffer
  }

  override def eval(buffer: SpecificInternalRow): Any = helper.query(buffer, 0)

  override def serialize(buffer: SpecificInternalRow): Array[Byte] = {
    val n = helper.numWords
    val bb = java.nio.ByteBuffer.allocate(n * 8)
    var i = 0
    while (i < n) { bb.putLong(buffer.getLong(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SpecificInternalRow = {
    val buf = createAggregationBuffer()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var i = 0
    while (i < helper.numWords) { buf.setLong(i, bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ApproxNdv =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ApproxNdv =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ApproxNdv =
    copy(child = newChild)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_approx_ndv"
}

object ApproxNdv {
  /** The rsd argument must be a foldable double literal (same contract as
    * approx_count_distinct's).
    */
  def validateDoubleLiteral(e: Expression): Double = {
    require(e.foldable, s"graft_approx_ndv rsd must be a literal, got $e")
    e.eval() match {
      case d: java.lang.Double => d.doubleValue()
      case d: java.math.BigDecimal => d.doubleValue()
      case d: Decimal => d.toDouble
      case other => sys.error(s"graft_approx_ndv rsd must be numeric, got $other")
    }
  }
}
