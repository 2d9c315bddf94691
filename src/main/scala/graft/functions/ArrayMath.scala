package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.graftbridge.Bridge

/** Codegen'd dot product over two numeric arrays (float or double
  * elements), accumulating in double with a sequential left-fold — the
  * same summation order as `aggregate(zip_with(...))` and DuckDB's
  * list_sum, so results are bit-identical to the HOF formulation.
  *
  * Exists because the HOF version allocates an intermediate array per
  * evaluation: in a pairwise similarity join that is one allocation per
  * PAIR, which dominated q_cosine_pairs (13 s of 80 s at sf0.1). This
  * expression runs a primitive loop — no allocation, stays inside
  * whole-stage codegen.
  *
  * Both vectors must have the same length and no null element: a ragged
  * pair fails with both lengths in the message, a null element with its
  * index, on the interpreted and the generated path alike, instead of
  * folding the shorter prefix, or a null read as 0.0, into a number that
  * looks like a similarity.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def inputTypes =
    Seq.fill(2)(Bridge.anyOf(ArrayType(FloatType), ArrayType(DoubleType)))

  private def floats(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], floats(left),
      b.asInstanceOf[ArrayData], floats(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.DotProduct.dot($a, ${floats(left)}, $b, ${floats(right)})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The fold of both evaluation paths; `xf`/`yf` say whether that side
    * holds float (else double) elements. */
  def dot(xs: ArrayData, xf: Boolean, ys: ArrayData, yf: Boolean): Double = {
    val n = xs.numElements()
    if (ys.numElements() != n) throw ragged(n, ys.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) throw nullElement(i)
      val x = if (xf) xs.getFloat(i).toDouble else xs.getDouble(i)
      val y = if (yf) ys.getFloat(i).toDouble else ys.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  def ragged(left: Int, right: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"DotProduct needs vectors of equal length, got $left and $right")

  def nullElement(i: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"DotProduct needs vectors without null elements, got one at index $i")
}

object ArrayMath {
  /** Column API for [[DotProduct]]. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
}
