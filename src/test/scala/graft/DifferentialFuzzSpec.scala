package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Similarity, TextStats}

/** Breadth differential fuzzing of every custom codegen expression and
  * exact-arithmetic helper: thousands of seeded random cases, batched
  * into ONE DataFrame per target (one Spark action each, so the whole
  * spec stays in seconds), compared against an INDEPENDENT driver-side
  * reference where one exists (BigInt arithmetic, code-point counting,
  * set algebra, sliding-window shingles) and against the interpreted
  * HOF twin where the semantics are hash-defined (xxhash chains). The
  * point-value unit specs pin the hand-checked cases; this spec walks
  * the input space around them. Fixed seed — runs are deterministic.
  */
class DifferentialFuzzSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private val rng = new scala.util.Random(0xD1FF5EED)

  /** Magnitude-uniform non-negative long in [0, cap]: uniform over bit
    * lengths first, so small, medium, and near-cap values all appear
    * (a plain uniform draw almost never produces small magnitudes).
    */
  private def randMag(cap: Long): Long = {
    val bits = rng.nextInt(63) + 1
    val v = rng.nextLong() & ((1L << bits) - 1)
    if (v > cap || v < 0) (v & Long.MaxValue) % (cap + 1) else v
  }

  test("microRatio and microRatioDec == BigInt floor on 5000 " +
      "magnitude-uniform (num, den) pairs") {
    val cases = Seq.fill(5000)(
      (randMag(9200000000000L), randMag(Long.MaxValue)))
    val rows = cases.toDF("n", "d")
      .select($"n", $"d", TextStats.microRatio($"n", $"d").as("a"),
        TextStats.microRatioDec($"n", $"d").as("b"))
      .collect()
    rows.foreach { r =>
      val (n, d) = (r.getLong(0), r.getLong(1))
      val want = if (d == 0L) 0L else (BigInt(n) * 1000000 / d).toLong
      assert(r.getLong(2) == want, s"microRatio($n, $d)")
      assert(r.getLong(3) == want, s"microRatioDec($n, $d)")
    }
  }

  test("microRatioDec stays exact past the Long scaled-numerator ceiling " +
      "(1000 pairs with num up to Long.MaxValue)") {
    val cases = Seq.fill(1000) {
      val n = randMag(Long.MaxValue)
      // keep the RESULT inside Long so the bigint cast can't overflow:
      // den >= ceil(1e6·n / Long.MaxValue)
      val dLo = (BigInt(n) * 1000000 / Long.MaxValue + 1).toLong.max(1L)
      val d = dLo + randMag(Long.MaxValue - dLo)
      (n, d)
    }
    val rows = cases.toDF("n", "d")
      .select($"n", $"d", TextStats.microRatioDec($"n", $"d").as("b"))
      .collect()
    rows.foreach { r =>
      val (n, d) = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == (BigInt(n) * 1000000 / d).toLong,
        s"microRatioDec($n, $d)")
    }
  }

  test("RepetitionMicro == independent sliding-window trigram reference " +
      "on 400 random token lists") {
    val alphabet = Vector("", "a", "b", "ab", "ba")
    val cases = Seq.fill(400)(
      Seq.fill(rng.nextInt(31))(alphabet(rng.nextInt(alphabet.size))))
    def ref(toks: Seq[String]): Long = {
      val sh = toks.sliding(3).filter(_.size == 3).map(_.mkString("\u0000"))
        .toSeq
      if (sh.isEmpty) 0L
      else (BigInt(sh.size - sh.distinct.size) * 1000000 / sh.size).toLong
    }
    val rows = cases.toDF("toks")
      .select($"toks",
        graft.functions.RepetitionMicro.repetitionMicro($"toks").as("m"))
      .collect()
    rows.foreach { r =>
      val toks = r.getSeq[String](0)
      assert(r.getLong(1) == ref(toks), s"tokens $toks")
    }
  }

  test("SortedIntersectCount == set intersection on 800 random sorted sets") {
    val cases = Seq.fill(800)((
      Seq.fill(rng.nextInt(40))(rng.nextLong() % 60).distinct.sorted,
      Seq.fill(rng.nextInt(40))(rng.nextLong() % 60).distinct.sorted))
    val rows = cases.toDF("a", "b")
      .select($"a", $"b",
        graft.functions.SetMath.sortedIntersectCount($"a", $"b").as("c"))
      .collect()
    rows.foreach { r =>
      val (a, b) = (r.getSeq[Long](0), r.getSeq[Long](1))
      assert(r.getInt(2) == a.toSet.intersect(b.toSet).size, s"$a | $b")
    }
  }

  private def randText(): String = {
    val words = Seq.fill(rng.nextInt(20))(
      Seq.fill(rng.nextInt(6))(('a' + rng.nextInt(4)).toChar).mkString)
    words.mkString(" ")
  }

  test("SimHash64 / TokenHashSet / MinHashSignature are bit-identical to " +
      "their HOF twins on 300 random texts") {
    val texts = Seq.fill(300)(randText())
    val toks = TextStats.tokens($"text")
    val hofHset = array_sort(array_distinct(transform(toks, t => xxhash64(t))))
    val hofSig = array((0 until 8).map(i =>
      array_min(transform(hofHset, h => xxhash64(lit(i), h)))): _*)
    val rows = texts.toDF("text").select(
      TextStats.simhash64($"text").as("sFast"),
      TextStats.simhash64Hof($"text").as("sRef"),
      graft.functions.HashFamily.tokenHashSet(toks).as("hFast"),
      hofHset.as("hRef"),
      graft.functions.HashFamily.minhashSignature(
        graft.functions.HashFamily.tokenHashSet(toks), 8).as("mFast"),
      hofSig.as("mRef"),
      $"text")
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"simhash: '${r.getString(6)}'")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3),
        s"tokenHashSet: '${r.getString(6)}'")
      assert(r.getSeq[Long](4) == r.getSeq[Long](5),
        s"minhash: '${r.getString(6)}'")
    }
  }

  test("CharEntropy == independent code-point-count reference on 300 " +
      "random multilingual strings (incl. astral planes)") {
    val pools: Vector[Int => Int] = Vector(
      _ => 'a' + rng.nextInt(26),             // ASCII letters
      _ => 0xC0 + rng.nextInt(0x17F - 0xC0),  // Latin supplement / extended
      _ => 0x4E00 + rng.nextInt(256),         // CJK (3-byte UTF-8)
      _ => 0x1D100 + rng.nextInt(64),         // astral (surrogate pairs)
      _ => Seq('\t', '\n', ' ', '0')(rng.nextInt(4)).toInt)
    val texts = Seq.fill(300) {
      val n = rng.nextInt(40)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        sb.appendAll(Character.toChars(pools(rng.nextInt(pools.size))(0)))
      }
      sb.toString
    }
    def ref(s: String): Double = {
      val counts = scala.collection.mutable.Map[Int, Long]()
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        counts(cp) = counts.getOrElse(cp, 0L) + 1
        i += Character.charCount(cp)
      }
      val n = counts.values.sum.toDouble
      if (n == 0) 0.0
      else -counts.values.map(c => c / n * math.log(c / n)).sum
    }
    val rows = texts.toDF("text")
      .select($"text",
        graft.functions.CharEntropy.charEntropy($"text").as("e"))
      .collect()
    rows.foreach { r =>
      val want = ref(r.getString(0))
      assert(math.abs(r.getDouble(1) - want) <= 1e-9,
        s"'${r.getString(0)}': ${r.getDouble(1)} vs $want")
    }
  }

  test("DotProduct == zip_with/aggregate HOF fold on 300 random float " +
      "arrays (bit-identical: same left-to-right order)") {
    // equal-length pairs (a ragged pair is an error, EdgeCasesSpec): each
    // pair is cut to its shorter side after drawing, so the rng draws, and
    // with them every later test's inputs, do not depend on the pairing
    val cases = Seq.fill(300)((
      Array.fill(rng.nextInt(20))(rng.nextFloat() * 10 - 5),
      Array.fill(rng.nextInt(20))(rng.nextFloat() * 10 - 5)))
      .map { case (a, b) =>
        val n = math.min(a.length, b.length)
        (a.take(n), b.take(n))
      }
    val hof = aggregate(
      zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val rows = cases.toDF("a", "b")
      .select(graft.functions.ArrayMath.dot($"a", $"b").as("fast"),
        hof.as("ref"))
      .collect()
    rows.foreach(r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"${r.getDouble(0)} vs ${r.getDouble(1)}"))
  }

  test("PqEncode == interpreted HOF reference on 200 random vectors " +
      "under a random codebook") {
    val (m, k, d) = (4, 5, 8)
    val books = Array.tabulate(m, k, d)((_, _, _) => rng.nextDouble() * 2 - 1)
    val cases = Seq.fill(200)(Seq.fill(m * d)(rng.nextDouble() * 2 - 1))
    val rows = cases.toDF("u")
      .select(graft.functions.PqEncode.pqEncode($"u", books).as("fast"),
        Similarity.pqEncodeHofReference($"u", books).as("ref"))
      .collect()
    rows.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1)))
  }
}
