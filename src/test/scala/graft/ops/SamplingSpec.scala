package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

class SamplingSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  lazy val events = graft.Tables.table(spark, GraftTestSpark.sfDir, "events")

  test("budgetedPrefix admits rows in order until each group's budget") {
    val df = Seq(
      ("a", 1L, 40L), ("a", 2L, 40L), ("a", 3L, 40L), // 40, 80, 120
      ("b", 1L, 100L), ("b", 2L, 1L),                 // 100, 101
      ("c", 1L, 999L)                                 // over budget alone
    ).toDF("g", "id", "w")
    val got = Sampling.budgetedPrefix(df, "g", "id", "w", budget = 100L)
      .select("g", "id", "cum_weight").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 1L, 40L), ("a", 2L, 80L), ("b", 1L, 100L)))
  }

  test("weightedSample matches an independent driver-side E-S reference " +
      "and is layout-stable") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = (1 to 30).map(i => (i.toLong, "s", (i % 7 + 1).toLong * 10))
    val df = rows.toDF("id", "src", "w")
    // independent reference: same md5-uniform and exponential-key math,
    // computed in plain Scala with no Spark expression in the path
    val expected = rows.map { case (id, _, w) =>
      val v = java.lang.Long.parseLong(md5hex(id.toString).substring(0, 8), 16)
      val u = (v + 1).toDouble / 4294967296.0
      (id, -math.log(u) / w.toDouble)
    }.sortBy { case (id, k) => (k, id) }.take(10).map(_._1)
    val out = Sampling.weightedSample(df, "src", "id", "w", k = 10)
      .orderBy("rk").collect().map(_.getAs[Long]("id")).toSeq
    assert(out == expected, s"got $out\nexpected $expected")
    // layout independence: identical selection after arbitrary repartition
    val out2 = Sampling.weightedSample(df.repartition(13), "src", "id", "w",
        k = 10).orderBy("rk").collect().map(_.getAs[Long]("id")).toSeq
    assert(out2 == expected)
  }

  test("waterfillAlloc: allocations sum to the budget, caps only the big") {
    import spark.implicits._
    val groups = Seq(("a", 10L), ("b", 20L), ("c", 100L), ("d", 400L))
      .toDF("g", "c")
    // total 530, budget 265: a,b keep all; level T solves 30+2T=265 →
    // T=117.5 → c capped? c=100 < 117.5 stays whole → recheck: only d
    // capped: 130 + T = 265 → T = 135. f(135)=10+20+100+135=265. ✓
    val out = Sampling.waterfillAlloc(groups, "g", "c", budgetFrac = 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("alloc"), r.getAs[Long]("capped"))).toMap
    assert(out("a") == (10.0, 0L))
    assert(out("b") == (20.0, 0L))
    assert(out("c") == (100.0, 0L))
    assert(out("d") == (135.0, 1L))
  }

  test("waterfillAlloc: allocation mass equals the budget on real data") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val counts = docs.groupBy("source")
      .agg(sum(size(split(col("text"), " "))).cast("long").as("c"))
    val total = counts.agg(sum("c")).head().getLong(0)
    val budget = math.floor(total * 0.5).toLong
    val rows = Sampling.waterfillAlloc(counts, "source", "c", 0.5).collect()
    val allocSum = rows.map(_.getAs[Double]("alloc")).sum
    // round-6 per-row truncation bounds the drift at 5e-7 per group
    assert(math.abs(allocSum - budget) <= 5e-7 * rows.length,
      s"alloc mass $allocSum vs budget $budget")
    rows.foreach { r =>
      assert(r.getAs[Double]("alloc") <= r.getAs[Long]("c").toDouble + 1e-9)
    }
  }

  test("waterfillAlloc: a budget of the whole total fails loudly and " +
      "frees its cache") {
    val groups = Seq(("a", 10L), ("b", 20L)).toDF("g", "c")
    val before = GraftTestSpark.persistedRdds
    val err = intercept[IllegalArgumentException](
      Sampling.waterfillAlloc(groups, "g", "c", budgetFrac = 1.0))
    assert(err.getMessage.contains("budget 30 must be < total 30"))
    assert(GraftTestSpark.persistedRdds -- before == Set.empty[Int])
  }

  test("classBalance: every class downsampled to exactly the minority " +
      "size, layout-stable") {
    val df = ((1L to 5L).map(i => (i, "a")) ++ (6L to 7L).map(i => (i, "b"))
      ++ (8L to 10L).map(i => (i, "c"))).toDF("id", "cls")
    val kept = Sampling.classBalance(df, "cls", "id")
    val byClass = kept.groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byClass == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // the minority class survives whole; the draw is layout-independent
    assert(kept.filter($"cls" === "b").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(6L, 7L))
    val again = Sampling.classBalance(df.repartition(7, $"id"), "cls", "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("temperatureMix: T=2 flattens toward uniform, budget respected, " +
      "layout-stable") {
    // 900 vs 100: natural shares .9/.1; sqrt weights 30/10 → T=2 shares
    // .75/.25 — the big source gives up mass, the small one gains
    val df = ((1L to 900L).map(i => (i, "big"))
      ++ (901L to 1000L).map(i => (i, "small"))).toDF("id", "src")
    val kept = Sampling.temperatureMix(df, "src", "id",
      budget = 200L, temperature = 2.0)
    val by = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact integer allocation: wm = {30e6, 10e6}, W = 40e6 →
    // big = 200·30/40 = 150, small = 200·10/40 = 50
    assert(by == Map("big" -> 150L, "small" -> 50L))
    // higher T → closer to uniform (small source gains further)
    val flat = Sampling.temperatureMix(df, "src", "id",
      budget = 200L, temperature = 8.0)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(flat("small") > by("small"))
    // draw membership is layout-independent
    val again = Sampling.temperatureMix(df.repartition(13, $"id"), "src",
      "id", budget = 200L, temperature = 2.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("temperatureMix: a null source fails loudly and frees its cache") {
    val df = Seq((1L, Some("a")), (2L, Some("b")), (3L, None))
      .toDF("id", "source")
    val before = GraftTestSpark.persistedRdds
    val err = intercept[IllegalArgumentException](
      Sampling.temperatureMix(df, "source", "id",
        budget = 2L, temperature = 2.0))
    assert(err.getMessage.contains("source keys must be non-null"))
    assert(GraftTestSpark.persistedRdds -- before == Set.empty[Int])
  }

  test("roundRobinInterleave: positions are unique and cycle buckets " +
      "while every bucket still has rows") {
    val df = ((1L to 6L).map(i => (i, "a")) ++ (7L to 9L).map(i => (i, "b"))
      ++ (10L to 12L).map(i => (i, "c"))).toDF("id", "bkt")
    val out = Sampling.roundRobinInterleave(df, "bkt", "id")
      .orderBy("pos").collect()
      .map(r => (r.getAs[Long]("pos"), r.getAs[String]("bkt")))
    assert(out.map(_._1).distinct.length == 12)
    // first 9 positions: all three buckets alive → strict a,b,c rotation
    assert(out.take(9).map(_._2).toSeq ==
      Seq("a", "b", "c", "a", "b", "c", "a", "b", "c"))
    // b and c exhausted after rank 3: the tail is a's overflow, with the
    // arithmetic position keeping the global order gap-free-sortable
    assert(out.drop(9).map(_._2).forall(_ == "a"))
  }

  test("samplers are total on empty input: empty result or the contract " +
      "error, never a driver NPE") {
    val empty = Seq.empty[(Long, String)].toDF("id", "src")
    // temperatureMix: zero weight mass → cutoff 0, contract schema kept
    val tm = Sampling.temperatureMix(empty, "src", "id",
      budget = 100L, temperature = 2.0)
    assert(tm.count() == 0L)
    assert(tm.columns.toSet == Set("src", "id", "rk"))
    // classBalance: NULL minority size → cutoff 0
    val cb = Sampling.classBalance(
      empty.withColumnRenamed("src", "cls"), "cls", "id")
    assert(cb.count() == 0L)
    assert(cb.columns.contains("rk"))
    // waterfillAlloc documents B < Σc: an empty frame must fail THAT
    // require (total 0), not blow up collecting a null aggregate
    val ex = intercept[IllegalArgumentException] {
      Sampling.waterfillAlloc(Seq.empty[(String, Long)].toDF("g", "c"),
        "g", "c", budgetFrac = 0.5)
    }
    assert(ex.getMessage.contains("budget"))
  }
}
