package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Canary for driver-regenerated testdata (the round-8 failure mode): the
  * harness rewrote events.parquet with a different physical timestamp
  * encoding and every events-fed suite went red with an unrelated-looking
  * analysis error. This spec pins the PUBLIC schema contract in one place so
  * a future drift fails as one readable assertion, not 26 cascading reds.
  */
class TestdataDriftSpec extends AnyFunSuite {
  private val spark = GraftTestSpark.spark

  test("events loads with the public schema regardless of the physical " +
      "ts vintage, and is non-empty") {
    val df = Tables.table(spark, GraftTestSpark.sfDir, "events")
    val expected = Seq(
      "event_id" -> LongType,
      "ts" -> TimestampType,
      "user_id" -> LongType,
      "event_type" -> StringType,
      "value" -> DoubleType,
      "props" -> StringType)
    val actual = df.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(actual == expected,
      s"\nevents public schema drifted — the driver likely regenerated " +
        s"/root/testdata; adapt Tables.eventsLayout.\ngot: $actual")
    assert(df.count() > 0)
  }

  test("eventsLayout's stream schema matches the raw file and its " +
      "normalizeTs lands on TimestampType") {
    val layout = Tables.eventsLayout(spark, GraftTestSpark.sfDir)
    // the raw ts must be one of the vintages eventsLayout understands
    val rawTs = layout.rawSchema("ts").dataType
    assert(Set[DataType](LongType, TimestampNTZType, TimestampType)(rawTs),
      s"unsupported raw events.ts type $rawTs")
    val normalized = Tables.rawEvents(spark, GraftTestSpark.sfDir)
      .withColumn("ts", layout.normalizeTs)
    assert(normalized.schema("ts").dataType == TimestampType)
    // batch loader and layout agree (the divergence the round-8 bug hid)
    val viaTable = Tables.table(spark, GraftTestSpark.sfDir, "events")
    assert(normalized.schema == viaTable.schema)
  }

  test("all 10 corpus tables keep their FULL public schema, name and type " +
      "(hash-compare safety: a silent float->double or NTZ->date drift " +
      "would move oracle hashes, not throw)") {
    // The complete (name, type) contract as Tables.table returns it —
    // total on purpose: the r8 events break cost a full round because
    // only must-have columns were pinned. Load-bearing hotspots:
    //  - embeddings.embedding array<float>: the whole similarity family
    //    (cosine, IVF, PQ, int8, SemDeDup) assumes float32 — float64
    //    would change every dot product;
    //  - money-like doubles feed the exact-decimal cast contract
    //    (Tables.dec);
    //  - the current vintage ships o_orderdate / l_shipdate as
    //    timestamp[us]/NTZ (not DATE) and every date query is
    //    oracle-green against THAT — a flip to DateType or LTZ would
    //    shift date_trunc/year extractions;
    //  - events is pinned POST-normalization (ts TimestampType), the
    //    public form the engine guarantees across physical vintages.
    val expected: Map[String, Seq[(String, DataType)]] = Map(
      "region" -> Seq(
        "r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Seq(
        "n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Seq(
        "c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Seq(
        "s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Seq(
        "p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> Seq(
        "o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType,
        "o_orderpriority" -> StringType),
      "lineitem" -> Seq(
        "l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType),
      "events" -> Seq(
        "event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Seq(
        "doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType,
        "n_chars" -> LongType),
      "embeddings" -> Seq(
        "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
        "label" -> IntegerType))
    val drifted = expected.toSeq.sortBy(_._1).flatMap { case (t, want) =>
      val got = Tables.table(spark, GraftTestSpark.sfDir, t)
        .schema.fields.map(f => f.name -> f.dataType).toSeq
      if (got == want) None else Some(s"$t:\n  want $want\n  got  $got")
    }
    assert(drifted.isEmpty,
      s"\ntestdata schema drifted — the driver likely regenerated " +
        s"/root/testdata; adapt Tables and re-pin:\n" +
        drifted.mkString("\n"))
  }

  test("every embeddings vector at every scale factor has the width the " +
      "DuckDB oracles fix") {
    // lshCosinePairs infers the width from the data, but its oracle (and
    // q_label_centroids') bakes it in: a regenerated corpus of another
    // width would surface as an opaque hash mismatch, so name it here
    import org.apache.spark.sql.functions.{col, size}
    val dim = graft.llm.LlmQueries.OracleEmbeddingDim
    val root = new java.io.File(GraftTestSpark.sfDir).getParent
    val off = Seq("sf0.001", "sf0.01", "sf0.1").flatMap { sf =>
      val widths = Tables.table(spark, s"$root/$sf", "embeddings")
        .filter(col("embedding").isNotNull)
        .select(size(col("embedding")).as("w")).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      if (widths == Seq(dim)) None
      else Some(s"$sf/embeddings: vector widths $widths")
    }
    assert(off.isEmpty, s"\nthe oracles fix embedding width $dim, but:\n" +
      off.mkString("\n"))
  }
}
