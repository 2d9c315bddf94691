package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

class TimeSeriesSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("resampleCounts fills interior gaps with zeros") {
    val df = Seq(
      ("a", ts("2024-01-01 00:00:30")),
      ("a", ts("2024-01-01 00:00:45")),
      ("a", ts("2024-01-01 00:03:10"))   // minutes 1 and 2 are empty
    ).toDF("k", "t")
    val out = TimeSeries.resampleCounts(df, "t", "k", bucketSeconds = 60L)
      .orderBy("bucket").collect().map(r => r.getLong(2))
    assert(out.toSeq == Seq(2L, 0L, 0L, 1L))
  }

  test("ewma: hand-checked normalized weights over a growing frame") {
    val df = Seq(
      (1L, "u", ts("2024-01-01 10:00:00"), 1.0),
      (2L, "u", ts("2024-01-01 11:00:00"), 2.0),
      (3L, "u", ts("2024-01-01 12:00:00"), 4.0),
      (9L, "v", ts("2024-01-01 10:00:00"), 7.0)   // other key: own frame
    ).toDF("id", "k", "t", "v")
    val out = TimeSeries.ewma(df, "k", "t", "id", "v", alpha = 0.5, span = 8)
      .select("id", "ewma").as[(Long, Double)].collect().toMap
    // frames (α=0.5): [1]→1; [1,2]→(0.5+2)/1.5; [1,2,4]→(0.25+1+4)/1.75
    assert(out(1L) == 1.0)
    assert(math.abs(out(2L) - 2.5 / 1.5) <= 5e-7)
    assert(out(3L) == 3.0)
    assert(out(9L) == 7.0)
  }

  test("ewma span truncates: row 9 of span 8 drops the first value") {
    val rows = (1L to 9L).map(i =>
      (i, "u", ts(f"2024-01-01 0$i:00:00"), if (i == 1) 1000.0 else 0.0))
    val df = rows.toDF("id", "k", "t", "v")
    val out = TimeSeries.ewma(df, "k", "t", "id", "v", alpha = 0.5, span = 8)
      .select("id", "ewma").as[(Long, Double)].collect().toMap
    assert(out(8L) > 0.0)   // value 1000 still inside the 8-row frame
    assert(out(9L) == 0.0)  // fell out: frame is rows 2..9, all zeros
  }

  test("asofJoin picks the latest right row at-or-before each left row") {
    val left = Seq(
      (1L, "u", ts("2024-01-01 10:00:00")),
      (2L, "u", ts("2024-01-01 12:00:00")),
      (3L, "u", ts("2024-01-01 08:00:00"))   // before any right row
    ).toDF("id", "k", "t")
    val right = Seq(
      ("u", ts("2024-01-01 09:00:00"), 100L, 1.0),
      ("u", ts("2024-01-01 10:00:00"), 101L, 2.0),  // equal ts: visible
      ("u", ts("2024-01-01 11:00:00"), 102L, 3.0)
    ).toDF("k", "rt", "tie", "v")
    val out = TimeSeries.asofJoin(left, right, "k", "t", "rt", Seq("v"),
        rightTieBreak = "tie")
      .orderBy("id").collect()
    assert(out(0).getDouble(out(0).fieldIndex("v")) == 2.0) // 10:00 sees 10:00
    assert(out(1).getDouble(out(1).fieldIndex("v")) == 3.0) // 12:00 sees 11:00
    assert(out(2).isNullAt(out(2).fieldIndex("v")))         // 08:00 sees none
  }

  test("asofJoin matches only within the key") {
    val left = Seq((1L, "a", ts("2024-01-01 10:00:00"))).toDF("id", "k", "t")
    val right = Seq(("b", ts("2024-01-01 09:00:00"), 1L, 9.0))
      .toDF("k", "rt", "tie", "v")
    val out = TimeSeries.asofJoin(left, right, "k", "t", "rt", Seq("v"), "tie")
    assert(out.head().isNullAt(out.head().fieldIndex("v")))
  }
}
