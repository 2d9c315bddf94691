package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pivot / unpivot (SURVEY.md §2.3 A3–A4, §2.4 M1).
  *
  * A3 mirrors `pd.pivot_table(sf, index="PdDistrict", columns="Category",
  * aggfunc=len, fill_value=0)` (/root/reference/crime.py:72-73); M1 mirrors
  * `Xy.melt(...)` (/root/reference/crime.py:158-164).
  */
object Pivot {

  /** Cross-tab count with an explicit pivot value list. The explicit list
    * matters twice: it keeps the output column set deterministic (A4's
    * reindex semantics, and the oracle's stable schema), and it skips the
    * extra distinct-collection job Spark otherwise runs to discover pivot
    * values — at 100 TB that discovery pass is a full extra scan.
    */
  def pivotCount(df: DataFrame, rowKey: String, colKey: String,
                 colValues: Seq[String]): DataFrame =
    // fill ONLY the pivot cells: an unscoped fill would also rewrite a
    // null group key to 0 when rowKey is numeric (a spurious key-0 row).
    // Backtick-quote — pivot values are literal column names, and na.fill
    // resolves names through the dot-parsing path
    df.groupBy(rowKey).pivot(colKey, colValues).count()
      .na.fill(0L, colValues.map(v => s"`$v`"))

  /** A4 (crime.py:74): reindex the pivot by ranked row totals — the
    * reference reorders pivot rows by the A1/A2 count ranking; here the
    * row total (sum across pivot columns) is that ranking, computed
    * without a second scan.
    */
  def pivotCountRanked(df: DataFrame, rowKey: String, colKey: String,
                       colValues: Seq[String]): DataFrame = {
    val p = pivotCount(df, rowKey, colKey, colValues)
    // backtick-quote: pivot values are literal column NAMES, and a bare
    // col("ST. ANN") would parse the dot as struct-field access
    val total = colValues.map(v => col(s"`$v`")).reduce(_ + _)
    p.withColumn("row_total", total)
      .orderBy(desc("row_total"), asc(rowKey))
  }

  /** Wide→long melt. ids stay, each of `valueCols` becomes a
    * (metric, value) row — Spark's `unpivot` has exact melt semantics.
    */
  def melt(df: DataFrame, ids: Seq[String], valueCols: Seq[String]): DataFrame =
    df.unpivot(ids.map(col).toArray, valueCols.map(col).toArray, "metric", "value")
}
