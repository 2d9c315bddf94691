package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CharEntropy, DotProduct, RepetitionMicro, SimHash64,
  SortedIntersectCount}

/** SparkSessionExtensions module: registers the engine's custom Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT graft_dot(a, b)")`
  * works anywhere the Scala `ArrayMath.dot` does. Attach with:
  *
  * {{{
  * GraftSession.create(cpus, Seq("spark.sql.extensions" -> "graft.GraftExtensions"))
  * // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, clazz, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        builder))
    }
}

object GraftExtensions {
  private def binary(name: String,
                     f: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$name takes exactly 2 arguments")
    f(children.head, children(1))
  }

  val dotBuilder: Seq[Expression] => Expression =
    binary("graft_dot", DotProduct.apply)

  val sortedIntersectBuilder: Seq[Expression] => Expression =
    binary("graft_sorted_intersect_count", SortedIntersectCount.apply)

  private def unary(name: String, f: Expression => Expression)
      : Seq[Expression] => Expression = { children =>
    require(children.length == 1, s"$name takes exactly 1 argument")
    f(children.head)
  }

  val simhashBuilder: Seq[Expression] => Expression =
    unary("graft_simhash64", SimHash64.apply)

  /** Every custom expression exposed to SQL: (name, class, builder). */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], dotBuilder),
    ("graft_sorted_intersect_count", classOf[SortedIntersectCount],
      sortedIntersectBuilder),
    ("graft_simhash64", classOf[SimHash64], simhashBuilder),
    ("graft_char_entropy", classOf[CharEntropy],
      unary("graft_char_entropy", CharEntropy.apply)),
    ("graft_repetition_micro", classOf[RepetitionMicro],
      unary("graft_repetition_micro", RepetitionMicro.apply)),
    ("graft_token_hash_set", classOf[graft.functions.TokenHashSet],
      unary("graft_token_hash_set", graft.functions.TokenHashSet.apply)),
    ("graft_minhash_signature", classOf[graft.functions.MinHashSignature],
      { children =>
        require(children.length == 2,
          "graft_minhash_signature takes (hash_set, num_hashes)")
        val k = children(1) match {
          case lit if lit.foldable =>
            lit.eval(null) match {
              case n: Number => n.intValue()
              // NULL or a non-numeric foldable must fail with the same
              // intentional error as a non-literal, not a raw NPE/CCE
              case other => throw new IllegalArgumentException(
                s"num_hashes must be a non-null integer literal, got $other")
            }
          case other => throw new IllegalArgumentException(
            s"num_hashes must be a literal, got $other")
        }
        graft.functions.MinHashSignature(children.head, k)
      }: Seq[Expression] => Expression))

  /** Register on an already-built session (extensions only apply at
    * builder time; this is the runtime-attach form, e.g. for tests and
    * notebooks).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(
        spark, name, builder)
    }
}
