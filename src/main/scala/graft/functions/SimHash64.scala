package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Codegen'd 64-bit SimHash over a token array: one pass hashing each
  * token (the same XXH64(seed=42) as SQL `xxhash64`) and accumulating all
  * 64 bit counters; bit b of the result is set when more than half the
  * tokens have bit b set in their hash.
  *
  * Bit-identical to the declarative form
  * `(0 until 64).map(b => filter(transform(toks, xxhash64), ...))` on
  * null-free token arrays — but that form is 64 interpreted higher-order
  * `filter` passes per document (HOFs are CodegenFallback): this is a
  * single primitive loop inside whole-stage codegen. Two deliberate
  * divergences from the HOF form: a NULL input array yields NULL (the
  * HOF stack yields 0L, silently pairing all null-text docs at hamming
  * 0), and null token slots count toward the majority denominator but
  * contribute no bits (the HOF hashes them to the seed). Whitespace
  * tokenization never produces null slots, so these only matter for
  * direct callers with hand-built arrays.
  */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(a: Any): Any =
    SimHash64.signature(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimHash64.signature($a)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** The 64-counter majority of both evaluation paths. */
  def signature(xs: ArrayData): Long = {
    val n = xs.numElements()
    val cnt = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        val h = XXH64.hashUTF8String(xs.getUTF8String(i), 42L)
        var b = 0
        while (b < 64) {
          cnt(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (cnt(b) * 2L > n) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

object TextHash {
  /** Column API for [[SimHash64]]. */
  def simhash64(tokens: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      SimHash64(org.apache.spark.sql.graftbridge.Bridge.expression(tokens)))
}
