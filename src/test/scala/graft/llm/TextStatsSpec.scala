package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

class TextStatsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column) =
    Seq(text).toDF("text").select(c).head()

  test("token counts: whitespace, distinct, regex") {
    val t = "the quick the fox"
    assert(one(t, TextStats.tokenCount($"text")).getLong(0) == 4L)
    assert(one(t, TextStats.distinctTokenCount($"text")).getLong(0) == 3L)
    assert(one(t, TextStats.regexTokenCount($"text")).getLong(0) == 4L)
  }

  test("bpe estimate is ceil(chars/4)") {
    assert(one("abcdefgh", TextStats.bpeTokenEstimate($"text")).getLong(0) == 2L)
    assert(one("abcdefghi", TextStats.bpeTokenEstimate($"text")).getLong(0) == 3L)
  }

  test("mean token length") {
    assert(one("ab cdef", TextStats.meanTokenLength($"text")).getDouble(0) == 3.0)
  }

  test("codegen RepetitionMicro is bit-identical to the HOF reference form") {
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", TextStats.tokens($"text").as("toks"))
    val both = docs.select($"doc_id",
        graft.functions.RepetitionMicro.repetitionMicro($"toks").as("fast"),
        TextStats.repetitionMicroFromShingles(
          TextStats.shingles($"toks", 3)).as("ref"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"doc ${r.getLong(0)}: fast=${r.getLong(1)} ref=${r.getLong(2)}"))
    // edge shapes the corpus can't produce: short docs, empty tokens,
    // heavy repetition
    val edge = Seq("a b", "x x x x x", "a b c a b c", "", " ",
      "p q r p q r p q r p", "a b a b a")
      .toDF("text").select(TextStats.tokens($"text").as("toks"))
      .select(
        graft.functions.RepetitionMicro.repetitionMicro($"toks").as("fast"),
        TextStats.repetitionMicroFromShingles(
          TextStats.shingles($"toks", 3)).as("ref"))
      .collect()
    edge.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("repetition score counts repeated trigram occurrences in micro-units") {
    def rep(t: String) = one(t, TextStats.repetitionMicroFromShingles(
      TextStats.shingles(TextStats.tokens($"text"), 3))).getLong(0)
    // "a b c a b c": shingles [abc, bca, cab, abc] → 1 repeat of 4 → 250000
    assert(rep("a b c a b c") == 250000L)
    // no repeats → 0; shorter than one trigram → 0 (guarded, not an error)
    assert(rep("a b c d") == 0L)
    assert(rep("a b") == 0L)
    // degenerate full repetition: "x x x x x" → [xxx ×3] → 2/3 repeats
    assert(rep("x x x x x") == 666666L)
    // "a b a b a": [aba, bab, aba] → 1 repeat of 3 → 333333
    assert(rep("a b a b a") == 333333L)
  }

  test("contamination: benchmark docs score 1e6, overlap scores fractionally") {
    val docs = Seq(
      (0L, "a b c d"),        // benchmark: grams {abc, bcd}
      (10L, "a b c x y z"),   // grams {abc, bcx, cxy, xyz}: 1 of 4 hit
      (11L, "p q r s"),       // no overlap
      (12L, "p q")            // too short: no grams, score 0
    ).toDF("doc_id", "text")
    val got = TextStats.contaminationMicro(docs, benchMaxId = 5L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1000000L, 10L -> 250000L, 11L -> 0L, 12L -> 0L))
  }

  test("langId picks the language with most marker hits, name-asc on ties") {
    assert(one("the query of a table", TextStats.langId($"text")).getString(0) == "en")
    assert(one("der scan und die row", TextStats.langId($"text")).getString(0) == "de")
    assert(one("le join et la merge", TextStats.langId($"text")).getString(0) == "fr")
    // zero hits everywhere -> tie -> first language name ascending
    assert(one("zzz yyy", TextStats.langId($"text")).getString(0) == "de")
  }

  test("simhash: identical texts agree, token order does not matter") {
    val df = Seq("alpha beta gamma", "gamma beta alpha", "alpha beta gamma")
      .toDF("text").select(TextStats.simhash64($"text").as("sig"))
    val sigs = df.collect().map(_.getLong(0))
    assert(sigs(0) == sigs(2))
    assert(sigs(0) == sigs(1)) // multiset-majority is order-insensitive
  }

  test("simhash: similar token sets land within small hamming distance") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 38).map(i => s"tok$i").mkString(" ") + " other1 other2"
    val far = (100 to 140).map(i => s"tok$i").mkString(" ")
    val sigs = Seq(base, near, far).toDF("text")
      .select(TextStats.simhash64($"text").as("sig")).collect().map(_.getLong(0))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0), sigs(1)) < ham(sigs(0), sigs(2)))
    assert(ham(sigs(0), sigs(1)) <= 12)
  }

  test("normalize collapses case/punct/whitespace variants to one key") {
    val variants = Seq("Hello,  World!", "hello world", "HELLO   WORLD.")
    val fps = variants.toDF("text")
      .select(TextStats.fingerprint(TextStats.normalize($"text")))
      .collect().map(_.getString(0)).toSet
    assert(fps.size == 1)
  }

  test("fingerprint is md5 hex") {
    assert(one("abc", TextStats.fingerprint($"text")).getString(0) ==
      "900150983cd24fb0d6963f7d28e17f72")
  }

  test("tfidf top terms: rare terms outrank common ones, ties break by term") {
    // 4 docs; "rare" appears in 1 doc, "mid" in 2, "the" in all 4
    val docs = Seq(
      (0L, "the the rare mid"),
      (1L, "the mid"),
      (2L, "the common words"),
      (3L, "the filler text")).toDF("doc_id", "text")
    val top = TextStats.tfidfTopTerms(docs, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val doc0 = top.filter(_._1 == 0L).sortBy(_._2)
    // doc 0: tfidf(rare)=1*ln(4/1)=1.386294, tfidf(mid)=1*ln(4/2)=0.693147,
    // tfidf(the)=2*ln(4/4)=0 -> top-2 is (rare, mid)
    assert(doc0.map(_._3).toSeq == Seq("rare", "mid"))
    assert(math.abs(doc0.head._4 - 1.386294) < 1e-6)
    // every doc yields exactly k=2 rows with rk 1..2
    assert(top.groupBy(_._1).forall(_._2.map(_._2).sorted.toSeq == Seq(1L, 2L)))
  }

  test("sortedIntersectCount matches size(array_intersect) on sorted sets") {
    import graft.functions.SetMath.sortedIntersectCount
    val df = Seq(
      (Seq(1L, 3L, 7L, 9L), Seq(2L, 3L, 9L, 11L)), // partial overlap -> 2
      (Seq.empty[Long], Seq(1L, 2L)),              // empty left -> 0
      (Seq(5L), Seq(5L)),                          // identical singletons -> 1
      (Seq(-9L, -1L, 0L), Seq(-1L, 0L, 4L))        // negatives sort first -> 2
    ).toDF("a", "b")
    val got = df.select(sortedIntersectCount(col("a"), col("b"))).as[Int].collect().toSeq
    assert(got == Seq(2, 0, 1, 2))
    // null input propagates null, not a crash
    val withNull = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
    assert(withNull.select(sortedIntersectCount(col("a"), col("b"))).head().isNullAt(0))
  }

  test("codegen'd SimHash64 is bit-identical to the HOF reference form") {
    val docs = Seq("the quick brown fox", "the quick brown fox",
      "a", "", "x y z x y z", "der die das und query table scan")
      .toDF("text")
    val both = docs.select(
      TextStats.simhash64(col("text")).as("fast"),
      TextStats.simhash64Hof(col("text")).as("ref")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"mismatch: ${r.getLong(0)} vs ${r.getLong(1)}"))
    // and on real corpus text
    val corpus = spark.read.parquet(graft.GraftTestSpark.sfDir + "/documents.parquet")
      .limit(50)
      .select(TextStats.simhash64(col("text")).as("fast"),
        TextStats.simhash64Hof(col("text")).as("ref")).collect()
    corpus.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("microRatio is exact past the 2^53 double ceiling (DuckDB // parity)") {
    // counterexamples where the pre-fix double-division floor
    // ((scaled - pmod) / den with long/long `/` = DOUBLE divide) truncated
    // one micro-unit BELOW the exact integer quotient — trillion-scale
    // counts, i.e. ordinary corpus-wide token ratios at 100 TB. DuckDB's
    // `//` is exact there, so the old form was a latent hash divergence.
    val cases = Seq(
      (2969397699527L, 3342670099757L, 888331L),
      (2847346357330L, 3496678956829L, 814300L),
      (4690437760697L, 5822648222564L, 805550L),
      // plus the small-range sanity row and a zero denominator
      (7L, 2L, 3500000L), (5L, 0L, 0L))
    val got = cases.map { case (n, d, _) => (n, d) }.toDF("n", "d")
      .select(TextStats.microRatio(col("n"), col("d")).as("r"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map(_._3),
      s"got $got, want ${cases.map(_._3)}")
    // cross-check against unbounded integer arithmetic
    cases.filter(_._2 != 0L).foreach { case (n, d, want) =>
      assert((BigInt(n) * 1000000 / d).toLong == want)
    }
  }
}
