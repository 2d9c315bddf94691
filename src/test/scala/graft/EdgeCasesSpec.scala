package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Dedup, Similarity, TextStats}

/** Inputs the corpus never produces but a 100 TB one will: empty frames,
  * empty strings, nulls, zero vectors.
  */
class EdgeCasesSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("dedup ops on an empty frame return empty, not error") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactDupGroups(empty).count() == 0)
    assert(Dedup.minhashNearDupPairs(empty, 0.9).count() == 0)
    assert(Dedup.ngramJaccardPairs(empty, 1, 0.9, 100).count() == 0)
  }

  test("token stats on empty and single-token strings") {
    val df = Seq("", "solo").toDF("text").select(
      TextStats.tokenCount($"text").as("n"),
      TextStats.distinctTokenCount($"text").as("d"),
      TextStats.regexTokenCount($"text").as("w"))
    val rows = df.collect()
    // split("", " ") yields [""] — one empty token, the pandas-compatible
    // convention; the regex counter sees zero word tokens
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(2) == 0L)
    assert(rows(1).getLong(0) == 1L && rows(1).getLong(1) == 1L
      && rows(1).getLong(2) == 1L)
  }

  test("repetition and contamination degrade to 0 on null/empty/short text") {
    val docs = Seq((0L, Some("a b c d e f")), (1L, None), (2L, Some("")),
        (3L, Some("x y")))
      .toDF("doc_id", "text")
    val rep = docs.select($"doc_id", TextStats.repetitionMicroFromShingles(
        TextStats.shingles(TextStats.tokens($"text"), 3)).as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // null tokens → null size → shingle guard falls to the empty branch →
    // score 0, same as genuinely-short docs; no ANSI divide, no crash
    assert(rep == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    val contam = TextStats.contaminationMicro(docs, benchMaxId = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 0 IS the benchmark (score 1e6); everything else has no grams →
    // dropped by the explode, restored from the id spine at 0
    assert(contam == Map(0L -> 1000000L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("null text flows through fingerprints as null, not a crash") {
    val df = Seq(Some("abc"), None).toDF("text").select(
      TextStats.fingerprint($"text").as("fp"),
      TextStats.simhash64($"text").as("sig"))
    val rows = df.collect()
    assert(!rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))
  }

  test("cohortRetention drops events with a null user or a null ts") {
    val day = 19723L // 2024-01-01
    def ns(d: Long, h: Long) = Some((d * 24 + h) * 3600L * 1000000000L)
    val dir = GraftTestSpark.tempPath("cohort_nulls").toString
    Seq((1L, Some(1L), ns(day, 1)), (2L, Some(1L), ns(day + 1, 2)),
        (3L, Some(2L), ns(day + 1, 3)),
        // no user: grouped as one user it would add (day, 0) and (day, 2)
        (4L, None, ns(day, 4)), (5L, None, ns(day + 2, 5)),
        // no ts: user 3 has no active day, user 2 no extra one
        (6L, Some(3L), None), (7L, Some(2L), None))
      .map { case (id, u, ts) => (id, u, "view", ts, 1.0) }
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.parquet(s"$dir/events.parquet")
    val got = graft.ops.EventQueries.cohortRetention(spark, dir).collect()
      .map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq((day, 0L, 1L), (day, 1L, 1L), (day + 1, 0L, 1L)))
  }

  test("DotProduct: empty arrays give 0, equal lengths fold every element") {
    val df = Seq(
      (Array.empty[Float], Array.empty[Float]),
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f))
    ).toDF("a", "b").select(graft.functions.ArrayMath.dot($"a", $"b"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(0.0, 11.0))
  }

  test("DotProduct: ragged vectors fail with both lengths, interpreted " +
      "and generated alike") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.functions.DotProduct
    def vec(xs: Float*) = Literal.create(xs.toArray, ArrayType(FloatType))
    def interpreted(e: DotProduct) = e.eval()
    def generated(e: DotProduct) =
      GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty)
        .getDouble(0)
    for (path <- Seq[DotProduct => Any](interpreted, generated)) {
      val long = intercept[IllegalArgumentException](
        path(DotProduct(vec(1f, 2f, 3f), vec(10f))))
      assert(long.getMessage ==
        "DotProduct needs vectors of equal length, got 3 and 1")
      val short = intercept[IllegalArgumentException](
        path(DotProduct(vec(), vec(1f, 2f))))
      assert(short.getMessage ==
        "DotProduct needs vectors of equal length, got 0 and 2")
      assert(path(DotProduct(vec(1f, 2f), vec(3f, 4f))) == 11.0)
    }
    // and through a query: the failed task names the same lengths
    val err = intercept[Exception](Seq((Array(1.0f, 2.0f, 3.0f), Array(10.0f)))
      .toDF("a", "b").repartition(1)
      .select(graft.functions.ArrayMath.dot($"a", $"b")).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage)
        .exists(_.contains("equal length, got 3 and 1"))))
  }

  test("every custom expression gives the same result interpreted and " +
      "generated") {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions._
    def arr(t: DataType, xs: Any*) = Literal.create(xs, ArrayType(t))
    def nul(t: DataType) = Literal.create(null, ArrayType(t))
    def strs(xs: String*) = arr(StringType, xs: _*)
    def longs(xs: java.lang.Long*) = arr(LongType, xs: _*)
    val (f, d) = (FloatType, DoubleType)
    val books = Array(Array(Array(0.0, 0.0), Array(1.0, 1.0)),
      Array(Array(0.0, 1.0), Array(1.0, 0.0)))
    val malformed = UTF8String.fromBytes(
      Array(0x61, 0x80, 0xC3, 0xA9, 0xE2, 0x82).map(_.toByte))
    // (expression, the value both paths must give; None: they must agree)
    val cases: Seq[(Expression, Option[Any])] = Seq(
      DotProduct(arr(f, 1f, 2f), arr(f, 3f, 4f)) -> Some(11.0),
      DotProduct(arr(f, 0.1f, 2f), arr(d, 3.0, 0.7)) -> Some(0.1f * 3.0 + 2.0 * 0.7),
      DotProduct(arr(d, 0.5, 0.25), arr(f, 2f, 4f)) -> Some(2.0),
      DotProduct(arr(d, 0.1, 0.2), arr(d, 0.3, 0.4)) -> Some(0.1 * 0.3 + 0.2 * 0.4),
      DotProduct(arr(f), arr(d)) -> Some(0.0),
      DotProduct(nul(f), arr(f, 1f)) -> Some(null),
      SortedIntersectCount(longs(1L, 2L, 3L), longs(2L, 3L, 4L)) -> Some(2),
      SortedIntersectCount(longs(), longs(1L)) -> Some(0),
      SortedIntersectCount(longs(1L, null), longs(1L, null)) -> Some(1),
      SortedIntersectCount(longs(1L), nul(LongType)) -> Some(null),
      SimHash64(strs("a", "b", "c")) -> None,
      SimHash64(strs()) -> Some(0L),
      SimHash64(strs("a", null, "a")) -> None,
      SimHash64(nul(StringType)) -> Some(null),
      TokenHashSet(strs("b", "a", "b")) -> None,
      TokenHashSet(strs()) -> Some(Seq()),
      TokenHashSet(strs("a", null)) -> None,
      TokenHashSet(nul(StringType)) -> Some(null),
      MinHashSignature(longs(1L, 2L, 3L), 4) -> None,
      MinHashSignature(longs(), 4) -> Some(Seq(null, null, null, null)),
      MinHashSignature(longs(5L, null), 4) -> None,
      MinHashSignature(nul(LongType), 4) -> Some(null),
      CharEntropy(Literal("aab")) -> None,
      CharEntropy(Literal("")) -> Some(0.0),
      CharEntropy(Literal(malformed, StringType)) -> None,
      CharEntropy(Literal.create(null, StringType)) -> Some(null),
      RepetitionMicro(strs("a", "b", "c", "a", "b", "c")) -> Some(250000L),
      RepetitionMicro(strs()) -> Some(0L),
      RepetitionMicro(strs("a", null, "a", "a", null, "a")) -> None,
      RepetitionMicro(nul(StringType)) -> Some(null),
      PqEncode(arr(d, 0.9, 0.8, 0.1, 0.9), books) -> Some(Seq(1, 0)),
      PqEncode(arr(d, 1.0), books) -> Some(null),
      PqEncode(arr(d), books) -> Some(null),
      PqEncode(nul(d), books) -> Some(null))
    def generate(e: Expression) = GenerateUnsafeProjection.generate(Seq(e))
      .apply(InternalRow.empty).get(0, e.dataType)
    val checked = scala.collection.mutable.Set[String]()
    for ((e, want) <- cases) {
      val interpreted = convertToScala(e.eval(), e.dataType)
      val generated = convertToScala(generate(e), e.dataType)
      assert(interpreted == generated, e)
      want.foreach(w => assert(interpreted == w, e))
      checked += e.nodeName
    }
    // a null element is refused by its index on both paths, either side
    for (e <- Seq(DotProduct(arr(f, 1f, null), arr(f, 2f, 3f)),
                  DotProduct(arr(d, 1.0, 2.0), arr(f, 3f, null)));
         path <- Seq[Expression => Any](_.eval(), generate))
      assert(intercept[IllegalArgumentException](path(e)).getMessage ==
        "DotProduct needs vectors without null elements, got one at index 1")
    assert(checked == Set("DotProduct", "SortedIntersectCount", "SimHash64",
      "TokenHashSet", "MinHashSignature", "CharEntropy", "RepetitionMicro",
      "PqEncode"))
  }

  test("every custom expression refuses a wrong-typed input at analysis") {
    import graft.functions._
    val df = Seq((1, "x")).toDF("i", "s")
    val books = Array(Array(Array(0.0)))
    val ints = array($"i")
    val wrong = Seq(
      ArrayMath.dot(ints, array($"i".cast("double"))),
      ArrayMath.dot(array($"i".cast("float")), ints),
      SetMath.sortedIntersectCount(ints, array($"i".cast("long"))),
      SetMath.sortedIntersectCount(array($"i".cast("long")), array($"s")),
      TextHash.simhash64($"s"),
      HashFamily.tokenHashSet(ints),
      HashFamily.minhashSignature(array($"s"), 4),
      CharEntropy.charEntropy(ints),
      RepetitionMicro.repetitionMicro($"s"),
      PqEncode.pqEncode(array($"i".cast("float")), books))
    for (c <- wrong) {
      val e = intercept[org.apache.spark.sql.AnalysisException](df.select(c))
      assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), e.getMessage)
    }
  }

  test("a malformed vector fails the exact cosine search, and " +
      "lshCosinePairs keeps it out of every bucket") {
    val corpus = Seq((1L, Seq(1f, 0f, 0f)), (2L, Seq(1f, 0f, 0f)),
        (3L, Seq(1f, 0f, 0f)), (4L, Seq(1f, 0f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", when($"vec_id" === 3,
        array(lit(1f), lit(null).cast("float"), lit(0f))).otherwise($"embedding"))
    val pairs = Similarity.lshCosinePairs(corpus, minCosine = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
    val err = intercept[Exception](Similarity.knnBruteForce(
      corpus.filter($"vec_id" =!= 4), corpus.filter($"vec_id" === 1), 2).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage)
        .exists(_.contains("without null elements, got one at index 1"))))
  }

  test("DotProduct propagates null inputs as null") {
    val df = Seq((Some(Array(1.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b").select(graft.functions.ArrayMath.dot($"a", $"b"))
    assert(df.head().isNullAt(0))
  }

  test("cosine with a zero vector is NaN (0/0), never an exception") {
    val d = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(Similarity.cosine($"a", $"b")).head().getDouble(0)
    assert(d.isNaN)
  }

  test("ngram jaccard with n=2 survives docs shorter than the shingle") {
    val d = Seq((0L, "solo"), (1L, ""), (2L, "a b c"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(d, n = 2, minJaccard = 0.9, maxId = 10)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L)))
  }

  test("corrMatrix returns NaN (not a crash) for zero-variance columns") {
    val df = Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0)).toDF("x", "const")
    val m = graft.ops.Stats.corrMatrix(df, Seq("x", "const"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("x", "x")) == 1.0)
    assert(m(("x", "const")).isNaN)
  }

  test("asofJoin returns the newest matching row even when its value is null") {
    val left = Seq((1L, "u", java.sql.Timestamp.valueOf("2024-01-01 12:00:00")))
      .toDF("id", "k", "t")
    val right = Seq(
      ("u", java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 1L, Some(5.0)),
      ("u", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 2L, Option.empty[Double])
    ).toDF("k", "rt", "tie", "v")
    val out = graft.ops.TimeSeries.asofJoin(left, right, "k", "t", "rt",
      Seq("v"), rightTieBreak = "tie").head()
    // the 10:00 row is the answer; its null must NOT be replaced by 09:00's 5.0
    assert(out.isNullAt(out.fieldIndex("v")))
  }

  test("banded simhash with bands=1 buckets on the full signature") {
    val d = Seq((0L, "a b c"), (1L, "x y z w q")).toDF("doc_id", "text")
    // distinct signatures → distinct single-band keys → no candidates;
    // before the mask fix every row collapsed into bucket 0; maxHamming = 0
    // derives the single band
    assert(Dedup.simhashNearDupPairs(d, maxHamming = 0).count() == 0)
  }

  test("knn over fewer corpus rows than k returns what exists") {
    val tiny = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.knnBruteForce(tiny, tiny.filter($"vec_id" === 0), k = 10)
    assert(out.count() == 2) // self excluded, only 2 neighbors exist
  }

  test("tfidf and funnel are empty-frame safe") {
    import org.apache.spark.sql.types._
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    assert(TextStats.tfidfTopTerms(emptyDocs, k = 3).count() == 0)
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("ts", TimestampType))))
    val funnel = graft.ops.Funnel.conversionCounts(
      emptyEvents, Seq("view", "click"))
    // step rows still exist; every count is zero
    assert(funnel.collect().map(_.getLong(2)).toSeq == Seq(0L, 0L))
  }

  test("pivot values containing dots resolve via backtick quoting") {
    val df = Seq(("d1", "ST. ANN"), ("d1", "ST. ANN"), ("d2", "PLAIN"))
      .toDF("district", "category")
    val ranked = graft.ops.Pivot.pivotCountRanked(df, "district", "category",
      Seq("ST. ANN", "PLAIN")).collect()
    assert(ranked.head.getString(0) == "d1") // 2 events ranks first
    assert(ranked.map(_.getLong(3)).toSeq == Seq(2L, 1L)) // row totals
  }

  test("pivot with a numeric row key keeps a null-key group null") {
    val df = Seq((Some(1L), "A"), (None, "A"), (None, "B"))
      .toDF("store", "cat")
    val p = graft.ops.Pivot.pivotCount(df, "store", "cat", Seq("A", "B"))
    val nullRow = p.filter(col("store").isNull).collect()
    // the null group survives AS null (not rewritten to store 0)
    assert(nullRow.length == 1 && nullRow.head.getLong(1) == 1L
      && nullRow.head.getLong(2) == 1L)
  }

  test("z-score on degenerate inputs yields NaN, not an ANSI crash") {
    // all-equal balances: variance 0 → every z is NaN. Drives the
    // PRODUCTION query over a temp customer dir (the real corpus is never
    // degenerate, so this fixture is the NaN branch's only coverage and a
    // local formula replica would bind nothing)
    val dir = GraftTestSpark.tempPath("graft_zs_edge").toString
    Seq((1L, 5.0), (2L, 5.0), (3L, 5.0)).toDF("c_custkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val z = graft.ops.RelationalQueries.zscoreAcctbal(spark, dir)
      .collect().map(_.getAs[Double]("z"))
    assert(z.length == 3 && z.forall(_.isNaN))
    // single row: the n <= 1 guard, not a DIVIDE_BY_ZERO
    val dir1 = GraftTestSpark.tempPath("graft_zs1").toString
    Seq((1L, 5.0)).toDF("c_custkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir1/customer.parquet")
    val z1 = graft.ops.RelationalQueries.zscoreAcctbal(spark, dir1)
      .collect().map(_.getAs[Double]("z"))
    assert(z1.length == 1 && z1.head.isNaN)
  }

  test("waterfill: single group gets exactly the budget; equal groups split it") {
    import graft.ops.Sampling
    val one = Seq(("only", 100L)).toDF("g", "c")
    val r1 = Sampling.waterfillAlloc(one, "g", "c", 0.5).collect().head
    assert(r1.getAs[Double]("alloc") == 50.0 && r1.getAs[Long]("capped") == 1L)
    // four equal groups: level = budget/4, every group capped identically
    val eq = Seq(("a", 100L), ("b", 100L), ("c", 100L), ("d", 100L))
      .toDF("g", "c")
    val rs = Sampling.waterfillAlloc(eq, "g", "c", 0.5).collect()
    assert(rs.forall(_.getAs[Double]("alloc") == 50.0))
    assert(rs.forall(_.getAs[Long]("capped") == 1L))
  }

  test("source cap keeps everything when a source is under the cap") {
    // drives the PRODUCTION query over a temp documents dir: "tiny" (2
    // docs) survives whole, "big" (cap + 2 docs) keeps exactly the cap,
    // largest-first with the id tie-break
    val cap = graft.llm.Curation.capPerSource
    val docs = (Seq((0L, "tiny", 5L), (1L, "tiny", 9L)) ++
      (0 until cap + 2).map(i => (100L + i, "big", 50L - i)))
      .toDF("doc_id", "source", "n_chars")
    val dir = GraftTestSpark.tempPath("graft_cap_edge").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = graft.llm.Curation.sourceCap(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")))
    assert(kept.filter(_._1 == "tiny").map(_._2).sorted.toSeq == Seq(0L, 1L))
    // "big" keeps the cap largest docs = the lowest ids (n_chars desc)
    assert(kept.filter(_._1 == "big").map(_._2).sorted.toSeq ==
      (0 until cap).map(100L + _))
  }

  test("ewma of a single row is the row's value; empty frame stays empty") {
    import graft.ops.TimeSeries
    val one = Seq((1L, "k", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      42.5)).toDF("id", "k", "t", "v")
    assert(TimeSeries.ewma(one, "k", "t", "id", "v", 0.5, 8)
      .select("ewma").head().getDouble(0) == 42.5)
    val empty = Seq.empty[(Long, String, java.sql.Timestamp, Double)]
      .toDF("id", "k", "t", "v")
    assert(TimeSeries.ewma(empty, "k", "t", "id", "v", 0.5, 8).count() == 0)
  }

  test("weightedSample: k larger than the group returns the whole group; " +
      "equal weights still produce a total order") {
    import graft.ops.Sampling
    val tiny = Seq((1L, "s", 5L), (2L, "s", 5L), (3L, "s", 5L))
      .toDF("id", "src", "w")
    val all3 = Sampling.weightedSample(tiny, "src", "id", "w", k = 10)
      .collect()
    assert(all3.length == 3)
    assert(all3.map(_.getAs[Long]("rk")).sorted.toSeq == Seq(1L, 2L, 3L))
    // equal weights: ranking reduces to the md5-uniform order — ranks
    // must still be distinct and deterministic
    val again = Sampling.weightedSample(tiny, "src", "id", "w", k = 10)
      .collect().map(r => (r.getAs[Long]("rk"), r.getAs[Long]("id"))).toSet
    assert(again == all3.map(r =>
      (r.getAs[Long]("rk"), r.getAs[Long]("id"))).toSet)
  }

  test("dupSpans: identical docs are fully duplicated, sub-shingle docs " +
      "score zero") {
    // two byte-identical 4-token docs: every position sits in a shared
    // shingle → dup_tokens = n_tokens, one run, micro = 1000000; the
    // 2-token doc cannot form a shingle → all zeros
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y"))
      .toDF("doc_id", "text")
    val dir = GraftTestSpark.tempPath("graft_ds_edge").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.llm.CorpusQueries.dupSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_tokens"),
        r.getAs[Long]("dup_tokens"), r.getAs[Long]("n_runs"),
        r.getAs[Long]("dupspan_micro")))).toMap
    assert(out(1L) == ((4L, 4L, 1L, 1000000L)))
    assert(out(2L) == ((4L, 4L, 1L, 1000000L)))
    assert(out(3L) == ((2L, 0L, 0L, 0L)))
  }

  test("robustZscore: constant values give MAD 0 and zero outliers") {
    // |x - med| = 0 for every row; the > threshold comparison is strict,
    // so nothing flags — the degenerate case a stddev z-score turns into
    // 0/0 NaNs
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val dir = GraftTestSpark.tempPath("graft_rz_edge").toString
    (1 to 6).map(i => (i.toLong, 1L, "t", (base + i * 1000L) * 1000000L, 7.5))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.ops.StatsQueries.robustZscore(spark, dir).collect().head
    assert(r.getAs[Double]("mad") == 0.0)
    assert(r.getAs[Long]("n_outliers") == 0L)
  }

  test("mmrSelect with k beyond the candidate pool emits the pool and stops") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (10L, Array(0.5f, 0.5f)),
      (11L, Array(0.5f, -0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.mmrSelect(emb, emb.filter($"vec_id" < 1L),
      m = 5, k = 10, lambda = 0.7).collect()
    assert(out.length == 2) // only two candidates exist
    assert(out.map(_.getAs[Long]("rk")).sorted.toSeq == Seq(1L, 2L))
  }

  test("mmrSelect with a 1-candidate pool emits that candidate at rk=1") {
    // a singleton pool produces NO id_a < id_b pair row — a first cut that
    // built per-query state solely from the pair frame never reached
    // flatMapGroups for such queries and they silently vanished, while
    // the oracle emits the lone candidate at rk=1
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (10L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.mmrSelect(emb, emb.filter($"vec_id" < 1L),
      m = 5, k = 3, lambda = 0.7).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("rk") == 1L)
    assert(out.head.getAs[Long]("vec_id") == 10L)
  }

  test("bpeTrain stops early when merges exhaust before k rounds") {
    // corpus supports exactly 1 multi-char merge ("ab"); asking for 5
    // must report 1 merge and a final segmentation, not crash or loop
    val docs = Seq((0L, "ab ab x"), (1L, "ab y")).toDF("doc_id", "text")
    val out = graft.llm.CorpusQueries.bpeLearnFromDocs(docs, k = 5).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("left_sym") == "a")
    assert(out.head.getAs[String]("right_sym") == "b")
    val vocab = graft.llm.CorpusQueries.bpeVocabFromDocs(docs, k = 5, topK = 10)
      .collect().map(_.getString(0))
    assert(vocab.contains("ab")) // the merged symbol survives to the vocab
  }

  test("importance weights survive an absent target slice (uniform target LM)") {
    // no doc matches the target source: t_tot = 0, add-1 smoothing keeps
    // every target logprob at ln(1/(0+V)) — finite, no crash, and the
    // highest weight goes to the doc with rarest corpus tokens
    val docs = Seq((0L, "othersrc", "common common common"),
        (1L, "othersrc", "rare"), (2L, "othersrc", "common rare"))
      .toDF("doc_id", "source", "text")
    val dir = GraftTestSpark.tempPath("graft_iw").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.llm.Curation.importanceWeights(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("llr")).toMap
    assert(out.size == 3 && out.values.forall(v => !v.isNaN && !v.isInfinite))
    // target LM is uniform, so the LLR ranks docs by corpus-token rarity
    assert(out(1L) > out(2L) && out(2L) > out(0L))
  }

  test("wave-7/8 graph/dedup ops degrade to empty, not error, on empty " +
      "or degenerate input") {
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.ops.Graph.triangleStats(emptyPairs).count() == 0)
    // self-loops and duplicates collapse; a single edge has no triangle
    val loops = Seq((1L, 1L), (1L, 2L), (2L, 1L)).toDF("id_a", "id_b")
    val t = graft.ops.Graph.triangleStats(loops).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_tri")).toMap
    assert(t == Map(1L -> 0L, 2L -> 0L))
    val emptyComps = Seq.empty[(Long, Long)].toDF("id", "component")
    val docs = Seq((1L, 5L)).toDF("doc_id", "n_chars")
    assert(Dedup.keepBestPerCluster(emptyComps, docs, "n_chars").count() == 0)
  }

  test("classBalance on a single class keeps everything; skewReport on " +
      "one key scores Gini 0 with full top-1 share") {
    val one = Seq((1L, "only"), (2L, "only"), (3L, "only"))
      .toDF("id", "cls")
    val kept = graft.ops.Sampling.classBalance(one, "cls", "id")
    assert(kept.count() == 3)
    def ns(sec: Long): Long = sec * 1000000000L
    val rows = Seq((1L, 7L, "solo", ns(1), 1.0), (2L, 7L, "solo", ns(2), 1.0))
    val dir = GraftTestSpark.tempPath("graft_edge1").toString
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.ops.StatsQueries.skewReport(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("gini_micro"),
        r.getAs[Long]("top1_micro")))).toMap
    // a single key: perfectly equal "distribution", all mass in top-1
    assert(got("user_id") == ((0L, 1000000L)))
    assert(got("event_type") == ((0L, 1000000L)))
  }

  test("bm25 returns empty when no document contains a query term; " +
      "funnelTime yields zero conversions without purchases") {
    val docs = Seq((1L, "pad pad pad", "a", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = GraftTestSpark.tempPath("graft_edge2").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(graft.llm.CorpusQueries.bm25Rank(spark, dir).count() == 0)
    def ns(sec: Long): Long = sec * 1000000000L
    Seq((1L, 1L, "signup", ns(1), 1.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.ops.StatsQueries.funnelTime(spark, dir).head()
    assert(r.getAs[Long]("n_converted") == 0L)
  }

  test("the query registry refuses a name given twice, naming it") {
    def q(name: String) = QueryDef(name, (s, _) => s.emptyDataFrame)
    val e = intercept[IllegalArgumentException](
      SparkEntry.registryOf(Seq(q("q_a"), q("q_b"), q("q_a"))))
    assert(e.getMessage.endsWith("duplicate queries: q_a"))
  }

  test("the queries without a DuckDB oracle are exactly the digest-pinned " +
      "ones") {
    val noOracle = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name)
    for (sf <- Seq("0.01", "0.1")) {
      val json = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"tools/pinned_digests_sf$sf.json"))
      val pinned = "\"(q\\w+)\"\\s*:".r.findAllMatchIn(json).map(_.group(1))
      assert(noOracle.sorted == pinned.toSeq.sorted, s"sf$sf")
    }
  }

  test("a dev query subset with an unknown name is refused, naming it") {
    SparkEntry.requireKnown(Seq("q1_lineitem", "q_stream_windowed"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.requireKnown(Seq("q1_lineitem", "q1_lineitme")))
    assert(e.getMessage.endsWith("unknown queries: q1_lineitme"))
  }

  test("Verify refuses an argument count other than 2 or 3") {
    for (args <- Seq(Array("sf"), Array("sf", "out", "q1_lineitem", "x"))) {
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage.contains("usage: Verify"))
    }
  }

  test("SPARK_GRAFT_CONF parsing: first '=' splits, empty entries skip, " +
      "a malformed entry is refused by name") {
    assert(GraftSession.parseConf("k=a=b;;x.y=1;") ==
      Seq("k" -> "a=b", "x.y" -> "1"))
    assert(GraftSession.parseConf(";;").isEmpty)
    val e = intercept[IllegalArgumentException](
      GraftSession.parseConf("a=1;foo"))
    assert(e.getMessage ==
      "SPARK_GRAFT_CONF entry 'foo' is not of the form key=value")
    intercept[IllegalArgumentException](GraftSession.parseConf("=v"))
  }

  test("SPARK_GRAFT_CPUS / SPARK_GRAFT_BENCH_RUNS parsing: a positive " +
      "integer is taken, anything else is refused by name, never clamped") {
    assert(GraftSession.parsePositiveInt("SPARK_GRAFT_CPUS", " 8 ") == 8)
    for (bad <- Seq("abc", "0", "-3", "", "2.5", "99999999999")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parsePositiveInt("SPARK_GRAFT_BENCH_RUNS", bad))
      assert(e.getMessage ==
        s"SPARK_GRAFT_BENCH_RUNS must be a positive integer, got '$bad'")
    }
  }

  test("decimal-routed micro ratios stay exact past the Long product " +
      "ceiling (triangle lcc denominator + microRatioDec vs BigInt)") {
    // deg values where deg*(deg-1) or 1e6*num wrap Long: the decimal
    // route must keep producing the exact floor the BigInt reference does
    val cases = Seq(
      (3L, 1L),                       // tiny sanity: lcc = 1/3 in micro
      (4300000L, 9000000000000L),     // n_tri near the old 1e6·num ceiling
      (3100000000L, 4000000000000000000L), // deg·(deg−1) past 2^63
      (5000000000L, 9000000000000000000L)) // both far past Long products
    val df = cases.toDF("deg", "n_tri")
    val got = df.select($"deg",
        graft.llm.TextStats.microRatioDec($"n_tri",
          expr("CAST(deg AS DECIMAL(38,0)) * (deg - 1) / 2")).as("lcc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (deg, tri) =>
      val den = (BigInt(deg) * (deg - 1)) / 2
      val want = (BigInt(tri) * 1000000 / den).toLong
      assert(got(deg) == want, s"deg=$deg: got ${got(deg)}, want $want")
    }
  }

  test("Multimodal.microMean: exact floor mean past the 1e6·sum Long " +
      "ceiling, 0 on empty") {
    import graft.llm.Multimodal
    assert(Multimodal.microMean(0L, 0L) == 0L)
    assert(Multimodal.microMean(7L, 2L) == 3500000L)
    // the 2 GB-payload worst case: ~1e9 samples all at int16 max — the
    // direct product 1e6·sum wraps negative; the split identity must not
    val sum = 32767L * 1000000000L
    val n = 1000000000L
    assert(Multimodal.microMean(sum, n) ==
      (BigInt(sum) * 1000000 / n).toLong)
    // a non-divisible case exercising the remainder term at scale
    assert(Multimodal.microMean(9223372036854775L, 333333333L) ==
      (BigInt(9223372036854775L) * 1000000 / 333333333L).toLong)
    // the overflow guard: a mean too large to micro-scale must fail
    // loudly (this is where the pre-guard code wrapped silently)...
    intercept[IllegalArgumentException] {
      Multimodal.microMean(Long.MaxValue, 1L)
    }
    // ...but the guard is EXACT, not conservative: the largest mean
    // whose scaled result still fits must compute, not throw
    assert(Multimodal.microMean(9223372036854L, 1L) ==
      9223372036854000000L)
    intercept[IllegalArgumentException] {
      Multimodal.microMean(9223372036855L, 1L) // one past: result wraps
    }
    // the astronomically-large-n branch: r > Long.MaxValue/1e6, where
    // 1e6·r itself would wrap — the BigInt fallback must stay exact
    val bigN = 10000000000000L
    val bigSum = bigN + 9900000000000L // q = 1, r = 9.9e12
    assert(Multimodal.microMean(bigSum, bigN) ==
      (BigInt(bigSum) * 1000000 / bigN).toLong)
  }

  test("HostTelemetry.sample closes the /proc files it reads") {
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "needs /proc/self/fd")
    val before = fds.list().length
    (1 to 500).foreach(_ => HostTelemetry.sample())
    val grown = fds.list().length - before
    assert(grown <= 10, s"$grown file handles left open by 500 samples")
  }
}
