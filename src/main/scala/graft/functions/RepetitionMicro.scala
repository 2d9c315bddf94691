package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd intra-document trigram repetition score (micro-units) over a
  * token array — the hot-loop form of
  * `TextStats.repetitionMicroFromShingles(TextStats.shingles(toks, 3))`,
  * asserted bit-identical to that HOF reference in TextStatsSpec. The
  * declarative form materializes every trigram string (concat_ws per
  * shingle) and then `array_distinct`, which is O(shingles²) STRING
  * comparisons per document; this is one pass that interns tokens to
  * dense ids and counts distinct (id,id,id) triples packed into a long —
  * injective (21 bits per id), so distinctness is EXACT, not
  * hash-approximate: the DuckDB oracle equality is preserved by
  * construction. Documents with a null token slot fall back to the
  * concat_ws-identical slow path (split() never produces nulls; the
  * fallback keeps the expression total).
  */
case class RepetitionMicro(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(a: Any): Any =
    RepetitionMicro.micro(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.RepetitionMicro.micro($a);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionMicro =
    copy(child = newChild)
}

object RepetitionMicro {

  /** Fewer than 2^21 tokens per document keeps the 3×21-bit triple pack
    * injective; longer documents use the string slow path.
    */
  private val MaxInternable = 1 << 21

  def micro(toks: ArrayData): Long = {
    val n = toks.numElements()
    if (n < 3) return 0L
    val t = (n - 2).toLong
    var i = 0
    var hasNull = false
    while (i < n && !hasNull) { hasNull = toks.isNullAt(i); i += 1 }
    val d =
      if (hasNull || n >= MaxInternable) distinctSlow(toks, n)
      else distinctPacked(toks, n)
    val num = 1000000L * (t - d)
    num / t // operands non-negative: java division == floor division
  }

  /** Intern tokens to dense ids, count distinct packed triples. */
  private def distinctPacked(toks: ArrayData, n: Int): Long = {
    val ids = new Array[Int](n)
    val intern = new java.util.HashMap[UTF8String, Integer](n * 2)
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      var id = intern.get(s)
      if (id == null) { id = intern.size(); intern.put(s, id) }
      ids(i) = id
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long](n * 2)
    var d = 0L
    i = 0
    while (i < n - 2) {
      val key = (ids(i).toLong << 42) | (ids(i + 1).toLong << 21) | ids(i + 2).toLong
      if (seen.add(key)) d += 1L
      i += 1
    }
    d
  }

  /** concat_ws-identical trigram strings (null slots skipped), exact
    * string distinct — the semantics of the HOF reference form.
    */
  private def distinctSlow(toks: ArrayData, n: Int): Long = {
    val seen = new java.util.HashSet[String](n * 2)
    var d = 0L
    var i = 0
    while (i < n - 2) {
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j <= i + 2) {
        if (!toks.isNullAt(j)) {
          if (sb.length() > 0) sb.append(' ')
          sb.append(toks.getUTF8String(j).toString)
        }
        j += 1
      }
      if (seen.add(sb.toString)) d += 1L
      i += 1
    }
    d
  }

  def repetitionMicro(toks: Column): Column =
    Bridge.column(RepetitionMicro(Bridge.expression(toks)))
}
