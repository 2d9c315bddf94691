package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.graftbridge.Bridge

/** Codegen'd dot product over two numeric arrays (float or double
  * elements), accumulating in double with a sequential left-fold — the
  * same summation order as `aggregate(zip_with(...))` and DuckDB's
  * list_sum, so results are bit-identical to the HOF formulation.
  *
  * Exists because the HOF version allocates an intermediate array per
  * evaluation: in a pairwise similarity join that is one allocation per
  * PAIR, which dominated q_cosine_pairs (13 s of 80 s at sf0.1). This
  * expression generates a primitive loop — no allocation, stays inside
  * whole-stage codegen.
  *
  * Both vectors must have the same length: a ragged pair fails with both
  * lengths in the message, on the interpreted and the generated path
  * alike, instead of folding the shorter prefix into a number that looks
  * like a similarity.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"DotProduct needs array<float|double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (ys.numElements() != n) throw DotProduct.ragged(n, ys.numElements())
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) xs.getFloat(i).toDouble else xs.getDouble(i)
      val y = if (rf) ys.getFloat(i).toDouble else ys.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw graft.functions.DotProduct.ragged($n, $b.numElements());
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def ragged(left: Int, right: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"DotProduct needs vectors of equal length, got $left and $right")
}

object ArrayMath {
  /** Column API for [[DotProduct]]. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
}
