package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftShims.AbstractDataType
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native normal-equation accumulator for the ALS family — per group,
  * folds each incident (design vector q, rating r, weight w) into
  *
  *   XᵗX  += w·q qᵗ   (rank² doubles, row-major)
  *   Xᵗy  += w·r·q    (rank doubles)
  *   n    += 1        (1 double)
  *
  * exactly the per-vertex accumulation of the reference ALS
  * (`toolkits/collaborative_filtering/als.cpp:123-149`), emitted as one
  * flat `array<double>` of rank²+rank+1 for a local solve downstream.
  *
  * Replaces `collect_list(struct(q, rating, w))` + a whole-group UDF
  * solve. That shape has no partial aggregation: every rating ships its
  * rank-length factor vector through the shuffle, and a power-law hot
  * key (an item with 10⁷ ratings) materializes a 10⁷-element list on a
  * single reducer. The Gram matrix is additive, so this aggregate
  * combines map-side — the shuffle carries rank²+rank+1 doubles per key
  * per mapper regardless of degree, and the hot-key reducer does O(1)
  * merges instead of building a giant list.
  */
case class GramAgg(first: Expression, second: Expression, third: Expression,
                   rank: Int,
                   mutableAggBufferOffset: Int = 0,
                   inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]]
    with TernaryLike[Expression] with ExpectsInputTypes {

  private val bufLen = rank * rank + rank + 1

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), DoubleType, DoubleType)

  override def createAggregationBuffer(): Array[Double] = new Array[Double](bufLen)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = first.eval(input)
    val rv = second.eval(input)
    val wv = third.eval(input)
    if (v != null && rv != null && wv != null) {
      val arr = v.asInstanceOf[ArrayData]
      val r = rv.asInstanceOf[Double]
      val w = wv.asInstanceOf[Double]
      val n = math.min(rank, arr.numElements())
      val q = new Array[Double](n)
      var i = 0
      while (i < n) { q(i) = arr.getDouble(i); i += 1 }
      i = 0
      while (i < n) {
        val wqi = w * q(i)
        var j = 0
        val row = i * rank
        while (j < n) { buf(row + j) += wqi * q(j); j += 1 }
        buf(rank * rank + i) += wqi * r
        i += 1
      }
      buf(bufLen - 1) += 1.0
    }
    buf
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    var i = 0
    while (i < bufLen) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(bufLen * 8)
    var i = 0
    while (i < bufLen) { bb.putDouble(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Double](bufLen)
    var i = 0
    while (i < bufLen) { buf(i) = bb.getDouble(); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): GramAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): GramAgg =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "gram_agg"
}

object GramAgg {
  /** Column API: accumulate [XᵗX | Xᵗy | n] over (design, rating, weight)
    * rows of a group into one flat array<double> of rank²+rank+1.
    *
    * STAYS IMPERATIVE — r16 A/B'd a declarative mirror (`GramAggDecl`,
    * the same HashAggregate conversion that wins for VecSum/VecScaleSum)
    * and it was a ~10× REGRESSION at rank 8
    * (q43_wals_normal 7.2→50 s, q51_pmf 10.5→71 s, q55_sparse_als
    * 5.7→69 s in the same subset roll where rank-8 VecScaleSumDecl
    * queries improved 1.3-1.8×): 73 buffer slots mean 64 gram update
    * expressions whose guards and GetArrayItem pairs blow the generated
    * update function past what C2/codegen-splitting handles for
    * per-row code, while the imperative kernel extracts the design
    * vector once and runs a tight rank² loop. The declarative class and
    * its bit-equality spec were removed afterwards; both remain in git
    * history (`git log -S GramAggDecl`).
    */
  def of(design: Column, rating: Column, weight: Column, rank: Int): Column =
    GraftShims.column(
      GramAgg(GraftShims.expression(design), GraftShims.expression(rating),
        GraftShims.expression(weight), rank).toAggregateExpression())
}
