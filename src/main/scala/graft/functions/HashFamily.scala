package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Codegen'd dedup hash primitives. The declarative forms
  * (`array_sort(array_distinct(transform(toks, xxhash64)))` and 24×
  * `array_min(transform(hset, xxhash64(i, _)))`) are correct but run as
  * interpreted higher-order functions (HOFs are CodegenFallback) with an
  * intermediate array allocation per pass; these expressions do the same
  * math in one primitive loop each and are asserted bit-identical to the
  * HOF forms in DedupSpec.
  */

/** Sorted distinct XXH64(seed=42) hashes of an array<string> — the
  * token-set encoding the near-dup verify stage merges. Null slots hash
  * to the seed, matching `xxhash64(null)`.
  */
case class TokenHashSet(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(a: Any): Any =
    TokenHashSet.hashSortDistinct(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TokenHashSet.hashSortDistinct($a)")

  override protected def withNewChildInternal(newChild: Expression): TokenHashSet =
    copy(child = newChild)
}

object TokenHashSet {
  /** Hash every slot, sort, dedupe — shared by eval and generated code. */
  def hashSortDistinct(xs: ArrayData): ArrayData = {
    val n = xs.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = if (xs.isNullAt(i)) 42L
              else XXH64.hashUTF8String(xs.getUTF8String(i), 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < n) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(if (w == n) hs else java.util.Arrays.copyOf(hs, w))
  }
}

/** MinHash signature: element k is min over the hash set of
  * XXH64(h, seed = XXH64(k, 42)) — exactly `array_min(transform(hset,
  * xxhash64(lit(k), _)))`, whose two-child hash folds the int literal
  * into the seed first. One pass over the set computes all `numHashes`
  * minima. Empty sets yield null elements, like array_min of empty.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullIntolerant: Boolean = true

  override def inputTypes = Seq(ArrayType(LongType))

  private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(k => XXH64.hashInt(k, 42L))

  override def nullSafeEval(a: Any): Any =
    MinHashSignature.signature(a.asInstanceOf[ArrayData], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("mhSeeds", seeds, "long[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.MinHashSignature.signature($a, $seedsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** All per-seed minima in one pass; shared by eval and generated code.
    * An empty set gives all-null elements. Null slots are skipped —
    * getLong on a null slot would read an undefined value and poison
    * every minimum (TokenHashSet output never contains nulls, but the
    * type check admits nullable arrays).
    */
  def signature(xs: ArrayData, seeds: Array[Long]): ArrayData = {
    val m = seeds.length
    val n = xs.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](m))
    val sig = new Array[Long](m)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        val h = xs.getLong(i)
        var k = 0
        while (k < m) {
          val v = XXH64.hashLong(h, seeds(k))
          if (v < sig(k)) sig(k) = v
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}

object HashFamily {
  /** Column API for [[TokenHashSet]]. */
  def tokenHashSet(tokens: Column): Column =
    Bridge.column(TokenHashSet(Bridge.expression(tokens)))

  /** Column API for [[MinHashSignature]]. */
  def minhashSignature(hset: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(hset), numHashes))
}
