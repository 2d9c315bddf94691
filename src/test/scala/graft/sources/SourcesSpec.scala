package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

class SourcesSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("csvInferred reads header and infers types (S1 reference form)") {
    val dir = GraftTestSpark.tempPath("graft_csv").toFile
    val f = new java.io.File(dir, "t.csv")
    Files.writeString(f.toPath, "id,name,score\n1,alpha,2.5\n2,beta,3.5\n")
    val df = Sources.csvInferred(spark, f.getAbsolutePath)
    assert(df.schema.map(_.dataType) ==
      Seq(IntegerType, StringType, DoubleType))
    assert(df.count() == 2)
  }

  test("csv with explicit schema skips the inference scan (S1 engine form)") {
    val dir = GraftTestSpark.tempPath("graft_csv2").toFile
    val f = new java.io.File(dir, "t.csv")
    Files.writeString(f.toPath, "id,name\n7,x\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val df = Sources.csv(spark, f.getAbsolutePath, schema)
    assert(df.schema == schema)
    assert(df.head().getLong(0) == 7L)
  }

  test("describeSchema returns the printSchema tree (S2)") {
    val s = Sources.describeSchema(Seq((1, "a")).toDF("n", "s"))
    assert(s.contains("n: integer") && s.contains("s: string"))
  }

  test("schema evolution: mergeSchema unifies parquet written in two versions") {
    val dir = GraftTestSpark.tempPath("graft_evolve").toFile
    Seq((1L, "a")).toDF("id", "name")
      .write.mode("append").parquet(s"$dir/t")
    Seq((2L, "b", 9.5)).toDF("id", "name", "score")
      .write.mode("append").parquet(s"$dir/t")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.columns.sorted.toSeq == Seq("id", "name", "score"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length == 2)
    // pre-evolution files surface the new column as null, not an error
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")))
    assert(rows(1).getAs[Double]("score") == 9.5)
  }

  test("corrupt CSV records land in _corrupt_record under PERMISSIVE mode " +
      "instead of failing the scan") {
    val dir = GraftTestSpark.tempPath("graft_corrupt").toFile
    val f = new java.io.File(dir, "t.csv")
    Files.writeString(f.toPath,
      "id,score\n1,2.5\nnot_a_number,whoops_extra,3\n2,4.5\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(f.getAbsolutePath)
    // caching avoids the Spark 4 restriction on querying the corrupt
    // column alone (internal-row reuse), and mirrors real triage usage
    val cached = df.cache()
    try {
      assert(cached.count() == 3)
      val bad = cached.filter(col("_corrupt_record").isNotNull).collect()
      assert(bad.length == 1)
      assert(bad.head.getAs[String]("_corrupt_record")
        .startsWith("not_a_number"))
      val good = cached.filter(col("_corrupt_record").isNull)
      assert(good.count() == 2)
    } finally { cached.unpersist(): Unit }
  }
}
