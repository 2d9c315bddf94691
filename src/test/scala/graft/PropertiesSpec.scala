package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Similarity, TextStats}
import graft.ops.Pivot

/** Algebraic invariants over generated inputs (SURVEY.md §5.3).
  * ScalaCheck generators sampled with fixed seeds (no scalatestplus
  * bridge needed, and runs stay deterministic).
  */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def forSamples[A](gen: Gen[A], n: Int = 10)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
  private val text = Gen.nonEmptyListOf(word).map(_.mkString(" "))

  test("groupBy counts always sum to the table count") {
    forSamples(Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c"))) { keys =>
      val df = keys.toDF("k")
      val total = df.groupBy("k").count().agg(sum("count")).head().getLong(0)
      assert(total == keys.length)
    }
  }

  test("pivot row sums equal group counts for any key distribution") {
    forSamples(Gen.nonEmptyListOf(
        Gen.zip(Gen.oneOf("r1", "r2"), Gen.oneOf("x", "y")))) { pairs =>
      val df = pairs.toDF("row", "col")
      val p = Pivot.pivotCount(df, "row", "col", Seq("x", "y"))
      val rowSums = p.select($"row", ($"x" + $"y").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val g = df.groupBy("row").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rowSums == g)
    }
  }

  test("melt of k value columns multiplies row count by k") {
    forSamples(Gen.choose(1, 20)) { n =>
      val df = (1 to n).map(i => (i, i * 1.0, i * 2.0)).toDF("id", "p", "q")
      assert(Pivot.melt(df, Seq("id"), Seq("p", "q")).count() == 2L * n)
    }
  }

  test("simhash of a text equals simhash of any permutation") {
    forSamples(text) { t =>
      val perm = new scala.util.Random(7)
        .shuffle(t.split(" ").toList).mkString(" ")
      val sigs = Seq(t, perm).toDF("text")
        .select(TextStats.simhash64($"text")).collect().map(_.getLong(0))
      assert(sigs(0) == sigs(1))
    }
  }

  test("sum of token lengths + separators reconstructs the text length") {
    forSamples(text) { t =>
      val r = Seq(t).toDF("text").select(
        TextStats.tokenCount($"text"),
        TextStats.sumTokenLengths($"text")).head()
      assert(t.length.toLong == r.getLong(1) + r.getLong(0) - 1)
    }
  }

  test("cosine is symmetric and bounded in [-1, 1]") {
    val vec = Gen.listOfN(8, Gen.choose(-5.0f, 5.0f))
      .suchThat(_.exists(_ != 0.0f))
    forSamples(Gen.zip(vec, vec)) { case (a, b) =>
      val r = Seq((a.toArray, b.toArray)).toDF("a", "b").select(
        Similarity.cosine($"a", $"b"), Similarity.cosine($"b", $"a")).head()
      val (ab, ba) = (r.getDouble(0), r.getDouble(1))
      assert(ab == ba)
      assert(ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9)
    }
  }

  test("SortedIntersectCount equals set-intersection size on random sets") {
    val gen = for {
      a <- Gen.listOf(Gen.chooseNum(-50L, 50L))
      b <- Gen.listOf(Gen.chooseNum(-50L, 50L))
    } yield (a.distinct.sorted, b.distinct.sorted)
    forSamples(gen, n = 20) { case (a, b) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(graft.functions.SetMath.sortedIntersectCount(col("a"), col("b")))
        .head().getInt(0)
      assert(got == a.toSet.intersect(b.toSet).size)
    }
  }

  test("hash-set jaccard equals string-set jaccard on random token lists") {
    forSamples(Gen.zip(text, text), n = 20) { case (ta, tb) =>
      val sa = ta.split(" ").toSet
      val sb = tb.split(" ").toSet
      val expected = sa.intersect(sb).size.toDouble / sa.union(sb).size
      val row = Seq((ta, tb)).toDF("ta", "tb")
        .select(
          graft.functions.HashFamily.tokenHashSet(TextStats.tokens(col("ta"))).as("ha"),
          graft.functions.HashFamily.tokenHashSet(TextStats.tokens(col("tb"))).as("hb"))
        .select(graft.functions.SetMath.sortedIntersectCount(col("ha"), col("hb"))
          .cast("double") / (size(col("ha")) + size(col("hb")) -
            graft.functions.SetMath.sortedIntersectCount(col("ha"), col("hb"))))
        .head().getDouble(0)
      assert(math.abs(row - expected) < 1e-12, s"$ta | $tb")
    }
  }

  test("BMP codec round-trips any (w, h, pixel ramp) exactly") {
    forSamples(Gen.zip(Gen.choose(1, 40), Gen.choose(1, 40),
        Gen.choose(0, 255)), n = 20) { case (w, h, seed) =>
      val px = Array.tabulate(w * h * 3)(i => (seed + i * 13) % 256)
      val dec = graft.llm.Multimodal.BmpCodec.decode(
        graft.llm.Multimodal.BmpCodec.encode(w, h, px(_)))
      assert(dec != null, s"w=$w h=$h")
      assert((dec._1, dec._2) == (w, h))
      assert(dec._3.map(_ & 0xFF).toSeq == px.toSeq, s"w=$w h=$h seed=$seed")
    }
  }

  test("PPM codec round-trips any frame sequence exactly") {
    val frameGen = Gen.zip(Gen.choose(1, 30), Gen.choose(1, 20),
      Gen.choose(0, 255))
    forSamples(Gen.nonEmptyListOf(frameGen).map(_.take(5)), n = 20) { frames =>
      val payload = frames.flatMap { case (w, h, s) =>
        graft.llm.Multimodal.PpmCodec.encode(w, h, i => (s + i * 7) % 256)
      }.toArray
      val dec = graft.llm.Multimodal.PpmCodec.decodeAll(payload)
      assert(dec.map(d => (d._1, d._2)) == frames.map(f => (f._1, f._2)))
      dec.zip(frames).foreach { case ((w, h, px), (_, _, s)) =>
        assert(px.map(_ & 0xFF).toSeq ==
          (0 until w * h * 3).map(i => (s + i * 7) % 256))
      }
    }
  }

  test("WAV codec round-trips any (rate, channels, samples) exactly") {
    forSamples(Gen.zip(Gen.choose(8000, 48000), Gen.choose(1, 2),
        Gen.listOf(Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt))
          .map(_.take(200))), n = 20) { case (rate, ch, raw) =>
      // frames must divide evenly by channels for a well-formed payload
      val samples = raw.take(raw.length / ch * ch).map(_.toShort).toArray
      val dec = graft.llm.Multimodal.WavCodec.decode(
        graft.llm.Multimodal.WavCodec.encode(rate, ch, samples))
      assert(dec != null)
      assert((dec._1, dec._2) == (rate, ch))
      assert(dec._3.toSeq == samples.toSeq)
    }
  }

  test("WAV decode rejects malformed payloads instead of mis-parsing") {
    val good = graft.llm.Multimodal.WavCodec.encode(8000, 1,
      Array[Short](1, -2, 3))
    assert(graft.llm.Multimodal.WavCodec.decode(good) != null)
    // flip each header tag region and the declared format in turn
    for (off <- Seq(0, 8, 12, 36)) {
      val bad = good.clone(); bad(off) = 'X'.toByte
      assert(graft.llm.Multimodal.WavCodec.decode(bad) == null, s"off=$off")
    }
    val nonPcm = good.clone(); nonPcm(20) = 2
    assert(graft.llm.Multimodal.WavCodec.decode(nonPcm) == null)
    val truncated = good.take(40)
    assert(graft.llm.Multimodal.WavCodec.decode(truncated) == null)
  }

  test("microMean == floor(1e6·sum/n) exactly across the Long range") {
    import graft.llm.Multimodal.microMean
    // amplitude-scale means (the real caller range) and adversarial
    // near-Long sums: both branches of the guarded split identity must
    // agree with unbounded integer arithmetic bit-for-bit
    val genPair = for {
      n <- Gen.oneOf(Gen.chooseNum(1L, 1000000000L),
        Gen.chooseNum(9223372036854000L, Long.MaxValue - 1))
      // keep the mean inside the guard so the property tests values,
      // not the (separately tested) loud failure — and keep mean·n
      // representable so the GENERATOR itself can't wrap
      mean <- Gen.chooseNum(0L, math.min(32768L, Long.MaxValue / n))
      extra <- Gen.chooseNum(0L, math.min(n - 1, Long.MaxValue - mean * n))
    } yield (mean * n + extra, n)
    forSamples(genPair, n = 200) { case (sum, n) =>
      assert(microMean(sum, n) == (BigInt(sum) * 1000000 / n).toLong,
        s"sum=$sum n=$n")
    }
  }
}
