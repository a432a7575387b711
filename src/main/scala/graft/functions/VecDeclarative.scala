package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, CreateArray, Expression, GetArrayItem, If, IsNull, LessThanOrEqual, Literal, Multiply, Or, Size}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Declarative (whole-stage-codegen'd) forms of the trainer vector
  * aggregates — r16 optimization round.
  *
  * [[VecSum]]/[[VecScaleSum]] are `TypedImperativeAggregate`s, and ONE
  * such function in an `agg(...)` forces the whole aggregation into
  * `ObjectHashAggregateExec`: no whole-stage codegen for the heaviest
  * trainer stages (the per-rating gradient folds), interpreted
  * `Expression.eval` per input row, an `Array[Double]` buffer object
  * per group, and a serialize/deserialize hop per shuffled partial.
  * The r15 stage tables put exactly these stages at 12–29 cpu-seconds
  * per trainer iteration.
  *
  * A `DeclarativeAggregate` with `vecLen` scalar DoubleType buffer
  * slots expresses the identical fold as codegen'd expressions: the
  * plan becomes `HashAggregateExec` (UnsafeRow fixed-width buffers,
  * whole-stage codegen, vectorized-friendly), the shuffle rows carry
  * the same vecLen doubles, and the math is a BIT-EXACT mirror of the
  * imperative kernels:
  *
  *  - same per-row accumulation, element order and double arithmetic
  *    (`buf(i) += s * v(i)` ⇔ `If(nullOrShort, buf_i, buf_i + s*v[i])`
  *    — no-add on null inputs, truncation at min(vecLen, len), exactly
  *    the VecMathKernels ragged contract);
  *  - same merge (`b1(i) += b2(i)` elementwise, in slot order);
  *  - same result (`CreateArray` of the slots ⇔ GenericArrayData).
  *
  * `VecSumSpec`/the trainer specs pin declarative == imperative on
  * golden inputs. The Column builders in [[VecSum.of]]/[[VecScaleSum.of]]
  * dispatch here for small vecLen (every trainer: rank/nHidden/numLabels
  * ≤ a few dozen) and keep the imperative form above a slot cap, where
  * per-group object buffers beat hundreds of codegen'd slot expressions.
  */
object VecDeclarative {
  /** Max buffer slots for the declarative form; beyond this the
    * imperative TypedImperativeAggregate is kept (codegen'd update
    * expressions scale linearly in source size with the slot count).
    */
  val MaxSlots = 128

  /** Element i of `vec` if present, else `orElse` — the min-length
    * truncation + null-skip guard shared by both aggregates. The
    * explicit Size guard keeps GetArrayItem in-bounds (ANSI-safe) and
    * mirrors the imperative `min(vecLen, numElements)` loop bound.
    */
  private[functions] def elemOr(vec: Expression, i: Int, orElse: Expression,
                                value: Expression => Expression): Expression =
    If(Or(IsNull(vec), LessThanOrEqual(Size(vec, legacySizeOfNull = false),
        Literal(i))),
      orElse, value(GetArrayItem(vec, Literal(i), failOnError = false)))
}

/** Σ over a group of k-vectors, declarative. Mirror of [[VecSum]]. */
case class VecSumDecl(child: Expression, vecLen: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {
  require(vecLen > 0 && vecLen <= VecDeclarative.MaxSlots)

  private lazy val slots = (0 until vecLen).map(i =>
    AttributeReference(s"vsum$i", DoubleType, nullable = false)())

  override lazy val aggBufferAttributes: Seq[AttributeReference] = slots
  override lazy val initialValues: Seq[Expression] =
    Seq.fill(vecLen)(Literal(0.0d))
  override lazy val updateExpressions: Seq[Expression] =
    (0 until vecLen).map { i =>
      VecDeclarative.elemOr(child, i, slots(i), x => Add(slots(i), x))
    }
  override lazy val mergeExpressions: Seq[Expression] =
    slots.map(s => Add(s.left, s.right))
  override lazy val evaluateExpression: Expression = CreateArray(slots)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override protected def withNewChildInternal(newChild: Expression): VecSumDecl =
    copy(child = newChild)
  override def prettyName: String = "vec_sum"
}

/** Σ s·v over a group, declarative. Mirror of [[VecScaleSum]]: rows
  * with a null scale or null vector contribute nothing (no-add), and
  * arrays shorter than vecLen truncate.
  */
case class VecScaleSumDecl(left: Expression, right: Expression, vecLen: Int)
    extends DeclarativeAggregate with BinaryLike[Expression] {
  require(vecLen > 0 && vecLen <= VecDeclarative.MaxSlots)

  private lazy val slots = (0 until vecLen).map(i =>
    AttributeReference(s"vssum$i", DoubleType, nullable = false)())

  override lazy val aggBufferAttributes: Seq[AttributeReference] = slots
  override lazy val initialValues: Seq[Expression] =
    Seq.fill(vecLen)(Literal(0.0d))
  override lazy val updateExpressions: Seq[Expression] =
    (0 until vecLen).map { i =>
      If(IsNull(left), slots(i),
        VecDeclarative.elemOr(right, i, slots(i),
          x => Add(slots(i), Multiply(left, x))))
    }
  override lazy val mergeExpressions: Seq[Expression] =
    slots.map(s => Add(s.left, s.right))
  override lazy val evaluateExpression: Expression = CreateArray(slots)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecScaleSumDecl =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_scale_sum"
}
