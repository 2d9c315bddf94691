package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd per-document character-distribution Shannon entropy (nats):
  * −Σ p(ch)·ln p(ch) over the code points of a string — the hot-loop form
  * of the explode/groupBy/join reference pipeline (one row per CHARACTER
  * of the corpus through a shuffle), which this replaces with a single
  * zero-shuffle pass per row. Characters are Unicode code points decoded
  * straight from the UTF-8 bytes (ASCII counts in a flat array, the
  * astral/multibyte tail in a spill map), matching what both
  * `split(text, '')` (Spark) and `string_split(text, '')` (DuckDB)
  * enumerate. The value is transcendental, so the round-6 oracle contract
  * holds regardless of summation order; an empty string scores 0.0
  * (callers filter empties — the engines disagree on whether '' splits
  * into [''] or [], the round-4 ADVICE edge).
  */
case class CharEntropy(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def inputTypes = Seq(StringType)

  override def nullSafeEval(s: Any): Any =
    CharEntropy.entropyNats(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.CharEntropy.entropyNats($s);")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {

  /** One pass over the UTF-8 bytes: ASCII code points count in a flat
    * 128-slot array (the corpus fast path), multibyte code points spill
    * to a map. Malformed input stays total, never thrown: a stray
    * continuation byte (0x80–0xBF) in lead position counts as one
    * U+FFFD replacement code point and consumes exactly one byte — so
    * the decode stays ALIGNED on arbitrary binary-ish input instead of
    * swallowing the next (possibly valid) character as a bogus
    * continuation; truncated trailing sequences clamp at the buffer edge.
    */
  def entropyNats(s: UTF8String): Double = {
    val b = s.getBytes
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Integer, Array[Long]] = null
    var total = 0L
    var i = 0
    while (i < b.length) {
      val b0 = b(i) & 0xFF
      if (b0 < 0x80) {
        ascii(b0) += 1L
        i += 1
      } else if (b0 < 0xC0) {
        // continuation byte with no lead: one replacement code point,
        // advance one byte (misreading it as a 2-byte lead would consume
        // the next byte and misalign the rest of the decode)
        if (other == null) other = new java.util.HashMap()
        var cell = other.get(0xFFFD)
        if (cell == null) { cell = new Array[Long](1); other.put(0xFFFD, cell) }
        cell(0) += 1L
        i += 1
      } else {
        val len = if (b0 < 0xE0) 2 else if (b0 < 0xF0) 3 else 4
        val mask = if (len == 2) 0x1F else if (len == 3) 0x0F else 0x07
        var cp = b0 & mask
        var j = 1
        while (j < len && i + j < b.length) {
          cp = (cp << 6) | (b(i + j) & 0x3F)
          j += 1
        }
        if (other == null) other = new java.util.HashMap()
        var cell = other.get(cp)
        if (cell == null) { cell = new Array[Long](1); other.put(cp, cell) }
        cell(0) += 1L
        i += len
      }
      total += 1L
    }
    if (total == 0L) return 0.0
    var h = 0.0
    val t = total.toDouble
    i = 0
    while (i < 128) {
      val c = ascii(i)
      if (c > 0L) { val p = c / t; h -= p * math.log(p) }
      i += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) { val p = it.next()(0) / t; h -= p * math.log(p) }
    }
    h
  }

  def charEntropy(text: Column): Column =
    Bridge.column(CharEntropy(Bridge.expression(text)))
}
