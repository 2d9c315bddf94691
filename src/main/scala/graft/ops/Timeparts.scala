package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Timestamp derivations (SURVEY.md §2.5 F1–F2).
  *
  * F1 mirrors `Dates.str.split(expand=True)` → date/time columns
  * (/root/reference/crime.py:97,101); F2 mirrors
  * `pd.DatetimeIndex(df['date']).year` (/root/reference/crime.py:98,102).
  * All codegen'd built-ins — no UDFs, so they stay inside whole-stage
  * codegen and never block predicate pushdown on other columns.
  */
object Timeparts {

  /** F1: split a timestamp into its date and time-of-day string parts,
    * `date_str` and `time_str`. */
  def splitTimestamp(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("date_str", date_format(col(tsCol), "yyyy-MM-dd"))
      .withColumn("time_str", date_format(col(tsCol), "HH:mm:ss"))

  /** F2: year as BIGINT (matches DuckDB's `year()` return type). */
  def yearOf(c: Column): Column = year(c).cast("bigint")

  /** Hour-of-day as BIGINT (same typing rationale as [[yearOf]]). */
  def hourOf(c: Column): Column = hour(c).cast("bigint")
}
