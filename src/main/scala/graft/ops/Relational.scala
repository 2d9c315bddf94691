package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

/** Column-level relational ops (SURVEY.md §2.2 P1–P8).
  *
  * Each mirrors an intended operation of the reference's pandas-style code
  * (/root/reference/crime.py) re-expressed as lazy Catalyst transforms: these
  * are plan rewrites, not eager mutations, so projection pruning and filter
  * pushdown still reach the scan.
  */
object Relational {

  /** P1 (crime.py:40,99,103): drop columns. */
  def dropCols(df: DataFrame, cols: String*): DataFrame = df.drop(cols: _*)

  /** P2 (crime.py:127-133): select a column subset. */
  def selectCols(df: DataFrame, cols: String*): DataFrame =
    df.select(cols.map(col): _*)

  /** P3 (crime.py:123-124,139-140): rename columns. */
  def renameCols(df: DataFrame, renames: (String, String)*): DataFrame =
    renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  /** P5 (crime.py:85-94, the dead `impute`): fill nulls by dtype —
    * string columns get "none", numeric columns get 0.0.
    * Dtype split is driven by the schema, like the reference's
    * `df.dtypes == object` test.
    */
  def imputeByDtype(df: DataFrame): DataFrame = {
    val strCols = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }
    val numCols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }
    df.na.fill("none", strCols).na.fill(0.0, numCols)
  }

  /** P8 (crime.py:100,104): head/preview as a bounded plan, not an action:
    * the first 5 rows, pandas `head()`'s default. */
  def preview(df: DataFrame): DataFrame = df.limit(5)
}
