package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

class SkewStatsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("corrMatrix is symmetric with unit diagonal") {
    val li = graft.Tables.table(spark, GraftTestSpark.sfDir, "lineitem")
    val m = Stats.corrMatrix(li, Seq("l_quantity", "l_extendedprice", "l_discount"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("l_quantity", "l_quantity")) == 1.0)
    assert(m(("l_quantity", "l_discount")) == m(("l_discount", "l_quantity")))
  }

  test("corrMatrix is pairwise-complete under nulls (pandas .corr parity)") {
    // x and y correlate perfectly ONLY on rows where both are present;
    // z makes y's all-rows stddev differ wildly from its pairwise one.
    // Mixing populations (all-rows stddev / pairwise covariance) would
    // push |corr| off 1.0 — pandas computes every moment pairwise.
    val rows = Seq[(java.lang.Double, java.lang.Double, java.lang.Double)](
      (1.0, 2.0, null), (2.0, 4.0, null), (3.0, 6.0, null), (4.0, 8.0, null),
      (null, 1000.0, 1.0), (null, -1000.0, 2.0))
    val df = rows.toDF("x", "y", "z")
    val m = Stats.corrMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(m(("x", "y")) - 1.0) < 1e-9, s"corr(x,y)=${m(("x", "y"))}")
    // x and z share NO pairwise-complete rows → moments are null → NaN
    assert(m(("x", "z")).isNaN)
  }

  test("argmax matches np.argmax semantics (first max, 0-based)") {
    val df = Seq(Array(1.0f, 5.0f, 5.0f, 2.0f), Array(9.0f, 1.0f))
      .toDF("a").select(Stats.argmax(col("a")).as("i"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L, 0L))
  }

  test("robustZscore: hand-checked median/MAD, only the extreme flags") {
    // values 1..9 plus an extreme 1000: sorted median (percentile_disc
    // 0.5 over 10 values) = 5.0; |x-5| sorted = 0,1,1,2,2,3,3,4,4,995 →
    // MAD = 2.0; threshold 3.5·1.4826·2 = 10.3782 — a mean/stddev screen
    // would have its mean dragged to 104.5 by the same point
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val vals = (1 to 9).map(_.toDouble) :+ 1000.0
    val dir = GraftTestSpark.tempPath("graft_robust").toString
    vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, 1L, "t", (base + i * 1000L) * 1000000L, v)
    }.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = StatsQueries.robustZscore(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n") == 10L)
    assert(r.head.getAs[Double]("med") == 5.0)
    assert(r.head.getAs[Double]("mad") == 2.0)
    assert(r.head.getAs[Long]("n_outliers") == 1L)
  }

  test("skewReport: uniform keys score Gini 0, a 90% hot key scores 0.4 " +
      "— hand arithmetic") {
    // user_id: four keys x1 event each → perfectly equal → gini 0,
    // top1 = 1/4. event_type: 'hot' x9 + 'cold' x1 → sorted [1,9]:
    // G = (2·(1·1+2·9) − 3·10) / (2·10) = 8/20 = 0.4
    def ns(sec: Long): Long = sec * 1000000000L
    val rows = (0 until 9).map(i =>
      (i.toLong, (i % 4).toLong, "hot", ns(i), 1.0)) :+
      ((9L, 1L, "cold", ns(9), 1.0))
    val dir = GraftTestSpark.tempPath("graft_skew").toString
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = StatsQueries.skewReport(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("gini_micro"),
        r.getAs[Long]("top1_micro"), r.getAs[Long]("top5_micro")))).toMap
    assert(got("event_type") == ((400000L, 900000L, 1000000L)))
    // user_id counts [3,3,2,2]: sorted [2,2,3,3], s1=2+4+9+12=27,
    // G = (54 − 5·10) / 40 = 0.1; top1 = 3/10, top5 covers all
    assert(got("user_id") == ((100000L, 300000L, 1000000L)))
  }

  test("funnelTime: first purchase AT-OR-AFTER first signup, " +
      "pre-signup purchases never count") {
    def ns(sec: Long): Long = sec * 1000000000L
    // user 1: purchase@5 BEFORE signup@10, then purchase@40 → 30 s
    // user 2: signup@0, purchases@7 and @20 → first = 7 s
    // user 3: signup only → not converted
    val rows = Seq(
      (1L, 1L, "purchase", ns(5), 1.0), (2L, 1L, "signup", ns(10), 1.0),
      (3L, 1L, "purchase", ns(40), 1.0),
      (4L, 2L, "signup", ns(0), 1.0), (5L, 2L, "purchase", ns(7), 1.0),
      (6L, 2L, "purchase", ns(20), 1.0),
      (7L, 3L, "signup", ns(3), 1.0))
    val dir = GraftTestSpark.tempPath("graft_ft").toString
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = StatsQueries.funnelTime(spark, dir).head()
    assert(r.getAs[Long]("n_converted") == 2L)
    // latencies {30 s, 7 s}: discrete p50 = 7 s, p90 = 30 s
    assert(r.getAs[Long]("p50_us") == 7000000L)
    assert(r.getAs[Long]("p90_us") == 30000000L)
  }
}
