package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Codegen'd |A ∩ B| for two SORTED array<bigint> columns via a two-pointer
  * merge: O(|A|+|B|) primitive comparisons, zero allocation per row.
  *
  * Exists for near-dup verification (jaccard over token sets): the built-in
  * `size(array_intersect(a, b))` builds a hash set and an output array per
  * evaluated PAIR — in a candidate-pair join that is millions of
  * allocations, and with string tokens each probe re-hashes the string.
  * Hashing each token to int64 once per DOCUMENT and merging sorted hash
  * arrays moves all per-pair work into a primitive loop that stays inside
  * whole-stage codegen. Inputs MUST be sorted ascending (uphold with
  * `array_sort(array_distinct(transform(toks, xxhash64)))`).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = IntegerType

  override def nullIntolerant: Boolean = true

  override def inputTypes =
    Seq.fill(2)(ArrayType(LongType))

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.merge(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedIntersectCount.merge($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** The merge of both evaluation paths. array_sort places null elements
    * last, so the first null ends the merge; null slots never count as
    * matches (getLong on a null slot would otherwise read an undefined 0).
    */
  def merge(xs: ArrayData, ys: ArrayData): Int = {
    val nx = xs.numElements()
    val ny = ys.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny && !xs.isNullAt(i) && !ys.isNullAt(j)) {
      val x = xs.getLong(i)
      val y = ys.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

object SetMath {
  /** Column API for [[SortedIntersectCount]]. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      SortedIntersectCount(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))
}
