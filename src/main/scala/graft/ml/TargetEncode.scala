package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables.dec

/** M-estimate target encoding (the reference's MEstimateEncoder import,
  * crime.py:21): replace a category with the smoothed mean of the target,
  *
  *   enc(c) = (sum_c + m · globalMean) / (n_c + m)
  *
  * Exact-decimal sums keep the encoding deterministic under any
  * partitioning (same contract as the money aggregates); one aggregation
  * pass, so the table scales with category count, not row count.
  */
object TargetEncode {

  /** Per-category encoding table: (category, n, enc). */
  def encodingTable(df: DataFrame, catCol: String, targetCol: String,
                    m: Double): DataFrame = {
    // per-category sums stay DECIMAL so the derived global mean is the
    // exact sum-of-sums — one scan instead of two, and still bit-equal to
    // the oracle's direct decimal total (summing per-category doubles
    // instead would reintroduce merge-order noise). Scale (28,10) rather
    // than the money default (18,2): this is a GENERIC target column, and
    // a 2-decimal cast would round a small-valued target (a rate, a
    // probability) to zero before summing.
    val perCat = df.groupBy(col(catCol))
      .agg(count(lit(1)).as("n"),
        sum(dec(col(targetCol), 28, 10)).as("s_dec"))
    val global = perCat.agg(
      (sum(col("s_dec")).cast("double") / sum(col("n"))).as("gmean"))
    perCat.crossJoin(broadcast(global))
      .select(col(catCol), col("n"),
        round((col("s_dec").cast("double") + lit(m) * col("gmean")) /
          (col("n") + lit(m)), 6).as("enc"))
  }
}
