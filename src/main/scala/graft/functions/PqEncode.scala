package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Codegen'd product-quantization encode: for each of `m` subspaces of the
  * input vector, the index of the nearest codebook centroid by squared L2
  * distance — the per-row O(m·k·d) argmin loop of the PQ index build
  * ([[graft.llm.Similarity.pqTopK]]), as one primitive-loop expression.
  *
  * Replaces the interpreted-HOF form (per-subspace
  * `transform/zip_with/aggregate` + `array_position(array_min)`), which
  * was CodegenFallback and allocated three intermediate arrays per
  * subspace per ROW — the encode pass is the one that walks every corpus
  * vector, so at 100 TB it must stay inside whole-stage codegen exactly
  * like [[DotProduct]]/[[CharEntropy]]. Bit-identity with the HOF form
  * (same per-element fold order, same first-minimum tie break) is pinned
  * in SimilaritySpec.
  *
  * The codebooks are index-build metadata (m·k·d doubles, bounded by the
  * build sample — never corpus-sized) and ride into generated code as one
  * flat reference array. Vectors whose length ≠ m·d yield null (malformed
  * input; the HOF form degrades to nulls through zip_with padding too).
  */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression with ExpectsInputTypes {

  private val m = books.length
  private val k = books(0).length
  private val d = books(0)(0).length

  @transient private lazy val flat: Array[Double] = PqEncode.flatten(books)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullIntolerant: Boolean = true

  // nullable even over a non-null child: malformed (wrong-length) vectors
  // encode to null, and the codegen framework must declare a mutable
  // isNull slot for that branch
  override def nullable: Boolean = true

  override def inputTypes = Seq(ArrayType(DoubleType))

  override def nullSafeEval(u: Any): Any =
    PqEncode.encode(u.asInstanceOf[ArrayData], flat, m, k, d)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", flat, "double[]")
    nullSafeCodeGen(ctx, ev, u =>
      s"""${ev.value} = graft.functions.PqEncode.encode($u, $ref, $m, $k, $d);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {

  private[functions] def flatten(books: Array[Array[Array[Double]]]): Array[Double] = {
    val m = books.length; val k = books(0).length; val d = books(0)(0).length
    val flat = new Array[Double](m * k * d)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        System.arraycopy(books(s)(c), 0, flat, (s * k + c) * d, d)
        c += 1
      }
      s += 1
    }
    flat
  }

  /** Per-subspace nearest-centroid argmin. Fold order matches the HOF
    * reference exactly: squared differences accumulate left-to-right
    * within a subspace, and ties keep the FIRST minimal centroid (what
    * `array_position(dists, array_min(dists))` returns).
    */
  def encode(u: ArrayData, flat: Array[Double], m: Int, k: Int, d: Int): ArrayData = {
    if (u.numElements() != m * d) return null
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestDist = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        val base = (s * k + c) * d
        var dist = 0.0
        var j = 0
        while (j < d) {
          val t = u.getDouble(s * d + j) - flat(base + j)
          dist += t * t
          j += 1
        }
        if (dist < bestDist) { bestDist = dist; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  def pqEncode(u: Column, books: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqEncode(Bridge.expression(u), books))
}
