package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch sources (SURVEY.md §2.1).
  *
  * S1 (crime.py:6-7,79-82): CSV with header, schema inferred — plus the
  * explicit-schema fast path our engine prefers (inference is an extra
  * full scan of the file: at 100 TB that is a scan you don't repeat).
  * S2 (crime.py:8): schema introspection.
  */
object Sources {

  /** S1, reference-faithful form: header + inferSchema (costs an eager
    * inference pass over the data, exactly like the reference's
    * `inferSchema=True`).
    */
  def csvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S1, engine-preferred form: explicit StructType, no inference scan. */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Newline-delimited JSON with explicit schema (no inference scan). */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** S2: schema as a string tree (printSchema's content, returnable). */
  def describeSchema(df: DataFrame): String = df.schema.treeString
}
