package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistical operators (SURVEY.md §2.3 A5–A8, §2.5 F4).
  *
  * A7 mirrors `sf_encode.corr()` (crime.py:42) / `np.corrcoef`
  * (crime.py:53); A8 mirrors `corrmat.nlargest(8,'Category')`
  * (crime.py:51-52); F4 mirrors `np.argmax(line) for line in y_pred`
  * (crime.py:184,203).
  */
object Stats {

  /** A7: full Pearson correlation matrix over the given numeric columns.
    * One codegen'd aggregation pass computing all k·(k+1)/2 `corr()`
    * co-moment aggregates at once (no MLlib, no vector assembly — the
    * whole pass stays inside whole-stage codegen); the k×k result is
    * driver-side by nature (k = column count, never row count), returned
    * in long form (col_a, col_b, corr) for relational downstream use,
    * rounded half-up to 6 places.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val upper = for { i <- cols.indices; j <- i + 1 until cols.length }
      yield (i, j)
    // NOT the corr() aggregate: under ANSI mode (Spark 4 default) its
    // final ck/sqrt(xMk·yMk) division raises DIVIDE_BY_ZERO on a
    // zero-variance column, where pandas/numpy yield NaN. Build the same
    // value from covar_samp/stddev_samp co-moments with a guarded divide —
    // still one whole-stage-codegen aggregation pass. The diagonal needs
    // no aggregate at all: corr(x,x) is 1 (NaN for zero variance).
    //
    // Pairwise-complete semantics (pandas `.corr()`): every moment for
    // pair (i,j) — covariance AND both stddevs — is computed over rows
    // where BOTH columns are non-null. covar_samp skips such rows by
    // itself; the stddevs must be masked to the same row set, otherwise
    // the ratio mixes row populations and can land outside [-1, 1].
    val aggs = cols.indices.map(i => stddev_samp(col(cols(i))).as(s"s_$i")) ++
      upper.flatMap { case (i, j) =>
        val x = col(cols(i))
        val y = col(cols(j))
        Seq(covar_samp(x, y).as(s"cv_${i}_$j"),
          stddev_samp(when(y.isNotNull, x)).as(s"sx_${i}_$j"),
          stddev_samp(when(x.isNotNull, y)).as(s"sy_${i}_$j"))
      }
    val diag = cols.indices.map { i =>
      when(col(s"s_$i") === 0.0 || col(s"s_$i").isNull, lit(Double.NaN))
        .otherwise(lit(1.0)).as(s"c_${i}_$i")
    }
    val ratios = upper.map { case (i, j) =>
      val denom = col(s"sx_${i}_$j") * col(s"sy_${i}_$j")
      when(denom === 0.0 || denom.isNull, lit(Double.NaN))
        .otherwise(col(s"cv_${i}_$j") / denom).as(s"c_${i}_$j")
    }
    val rowVals = df.agg(aggs.head, aggs.tail: _*)
      .select(diag ++ ratios: _*).head()
    val pairs = cols.indices.map(i => (i, i)) ++ upper
    val byPair = pairs.zipWithIndex.map { case ((i, j), idx) =>
      val v = if (rowVals.isNullAt(idx)) Double.NaN else rowVals.getDouble(idx)
      (i, j) -> v
    }.toMap
    val rows = for {
      i <- cols.indices
      j <- cols.indices
    } yield (cols(i), cols(j), {
      val v = byPair(if (i <= j) (i, j) else (j, i))
      // zero-variance columns correlate as NaN; BigDecimal(NaN) throws
      if (v.isNaN || v.isInfinite) v
      else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    })
    rows.toDF("col_a", "col_b", "corr")
  }

  /** A8: the k columns most correlated with `target`, ranked by signed
    * value — pandas `corrmat.nlargest(k, target)` semantics (nlargest
    * sorts by value, not absolute value).
    */
  def topCorrelated(df: DataFrame, cols: Seq[String], target: String,
                    k: Int): DataFrame =
    corrMatrix(df, cols)
      .filter(col("col_a") === target && col("col_b") =!= target)
      // zero-variance columns correlate as NaN, and Spark sorts NaN above
      // every number — pandas nlargest drops NaN, so drop before ranking
      .filter(!isnan(col("corr")))
      .select(col("col_b").as("feature"), col("corr"))
      .orderBy(desc("corr"), asc("feature"))
      .limit(k)

  /** F4: argmax over an array column (0-based), np.argmax semantics —
    * first index of the maximum. Codegen'd built-ins only.
    */
  def argmax(arr: Column): Column =
    (array_position(arr, array_max(arr)) - 1).cast("bigint")
}
