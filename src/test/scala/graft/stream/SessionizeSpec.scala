package graft.stream

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftTestSpark, ScaleReplicas}
import Sessionize.{ClosedSession, SessionEvent}

class SessionizeSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("batch sessionize splits on the gap and numbers sessions per user") {
    val ts = Seq(0L, 60L, 120L, 8000L, 8060L, 20000L).map(s =>
      new Timestamp(s * 1000L))
    val df = ts.zipWithIndex.map { case (t, i) => (1L, t, i.toLong) }
      .toDF("user_id", "ts", "event_id")
    val out = Sessionize.sessionize(df, "user_id", "ts", "event_id",
        gapSeconds = 3600L)
      .select("event_id", "session_id").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // gaps: 8000-120 > 3600 → new session; 20000-8060 > 3600 → new session
    assert(out == Seq((0L, 1L), (1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L), (5L, 3L)))
  }

  test("streaming sessionize closes sessions via event-time timeout") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val withWm = mem.toDS()
      .withColumn("ts", col("ts")).withWatermark("ts", "0 seconds")
      .as[SessionEvent]
    val sessions = Sessionize.sessionizeStream(withWm, gapSeconds = 3600L)
    val q = sessions.writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      // session 1: two events a minute apart
      mem.addData(SessionEvent(7L, Timestamp.valueOf("2024-01-01 00:00:00")),
                  SessionEvent(7L, Timestamp.valueOf("2024-01-01 00:01:00")))
      q.processAllAvailable()
      // far-future event pushes the watermark past the gap → closes session 1
      mem.addData(SessionEvent(7L, Timestamp.valueOf("2024-01-02 00:00:00")))
      q.processAllAvailable()
      mem.addData(SessionEvent(7L, Timestamp.valueOf("2024-01-03 00:00:00")))
      q.processAllAvailable()
      val rows = spark.table("sess_test").as[ClosedSession].collect()
      assert(rows.exists(s => s.user_id == 7L && s.n_events == 2 && s.duration_s == 60L),
        s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming sessionize: in-gap out-of-order merges, beyond-gap straggler closes alone") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val withWm = mem.toDS()
      .withColumn("ts", col("ts")).withWatermark("ts", "48 hours")
      .as[SessionEvent]
    val sessions = Sessionize.sessionizeStream(withWm, gapSeconds = 3600L)
    val q = sessions.writeStream.format("memory").queryName("sess_ooo")
      .outputMode("append").start()
    try {
      mem.addData(SessionEvent(9L, Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      // out-of-order but within the gap of session start: merges and
      // EXTENDS the session backwards (start moves to 11:30)
      mem.addData(SessionEvent(9L, Timestamp.valueOf("2024-01-01 11:30:00")))
      q.processAllAvailable()
      // older than start - gap: cannot merge, closes immediately alone
      mem.addData(SessionEvent(9L, Timestamp.valueOf("2024-01-01 01:00:00")))
      q.processAllAvailable()
      val straggler = spark.table("sess_ooo").as[ClosedSession].collect()
      assert(straggler.count(s => s.n_events == 1 && s.duration_s == 0L) == 1,
        s"got ${straggler.toSeq}")
      // close the merged session via a far-future watermark push
      mem.addData(SessionEvent(9L, Timestamp.valueOf("2024-01-10 00:00:00")))
      q.processAllAvailable()
      mem.addData(SessionEvent(9L, Timestamp.valueOf("2024-01-20 00:00:00")))
      q.processAllAvailable()
      val rows = spark.table("sess_ooo").as[ClosedSession].collect()
      // the merged session spans 11:30-12:00 = 1800 s with 2 events
      assert(rows.exists(s => s.n_events == 2 && s.duration_s == 1800L),
        s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("streamSessionizeFiles: file-per-micro-batch parity — sessions " +
      "continue across batch boundaries and close via watermark timeouts") {
    // the ScaleInvariantsSpec stream corpus shape at hand-fixture size: three
    // time-ordered data files + two far-future sentinels, mod-times
    // ascending (FileStreamSource picks pending files oldest-first)
    val root = GraftTestSpark.tempPath("graft_ssf").toString
    val streamDir = new java.io.File(s"$root/events_stream"); streamDir.mkdirs()
    def writeFile(name: String, mtime: Long,
                  rows: (Long, String)*): Unit = {
      val tmp = new java.io.File(s"$root/__tmp_$name")
      rows.toSeq.toDF("user_id", "s")
        .select(col("user_id"), to_timestamp(col("s")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(streamDir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(mtime))
    }
    val base = System.currentTimeMillis() - 60000L
    // u7: session spans files 1-2 (cross-batch continuation), then a
    // beyond-gap event in file 3 opens a second session; u8 spans 1-2
    // user -5: a LEGITIMATELY negative id — must come through; only the
    // exact reserved sentinel id is plumbing (ADVICE r13: the old
    // `>= 0` filter would have silently dropped it)
    writeFile("ev_0", base,
      (7L, "2024-01-01 00:00:00"), (7L, "2024-01-01 00:01:00"),
      (8L, "2024-01-01 00:20:00"), (-5L, "2024-01-01 00:05:00"))
    writeFile("ev_1", base + 2000L,
      (7L, "2024-01-01 00:40:00"), (8L, "2024-01-01 01:00:00"))
    writeFile("ev_2", base + 4000L, (7L, "2024-01-01 05:00:00"))
    writeFile("zz_sentinel_0", base + 6000L,
      (ScaleReplicas.SentinelUserId, "2024-01-03 00:00:00"))
    writeFile("zz_sentinel_1", base + 8000L,
      (ScaleReplicas.SentinelUserId, "2024-01-05 00:00:00"))
    val got = ScaleReplicas.streamSessionizeFiles(spark,
        streamDir.toString, s"$root/work", gapSeconds = 3600L)
      .as[ClosedSession].collect()
      .map(s => (s.user_id, s.n_events, s.duration_s)).sorted.toSeq
    // u-5: the 00:05 singleton (negative id kept); u7: 00:00-00:40
    // (3 events, 2400 s) + the 05:00 singleton; u8: 00:20-01:00
    // (2 events, 2400 s); exactly the sentinel sessions filtered
    assert(got == Seq((-5L, 1, 0L), (7L, 1, 0L), (7L, 3, 2400L),
      (8L, 2, 2400L)), s"got $got")
  }

  test("sessionStats: entry types, bounces, and dwell — hand fixture") {
    // user 1: A@0h B@1h (entry A, 2 events, 3600 s) then C@10h (new
    // session after the 6 h gap, a bounce); user 2: D@0h alone (bounce)
    def ns(hr: Long): Long = hr * 3600L * 1000000000L
    val rows = Seq(
      (1L, 1L, "A", ns(0), 1.0), (2L, 1L, "B", ns(1), 1.0),
      (3L, 1L, "C", ns(10), 1.0), (4L, 2L, "D", ns(0), 1.0))
    val dir = GraftTestSpark.tempPath("graft_ss").toString
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = StreamQueries.sessionStats(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_sessions"),
        r.getAs[Long]("bounces"), r.getAs[Long]("bounce_micro"),
        r.getAs[Long]("total_events"),
        r.getAs[Long]("total_duration_us")))).toMap
    assert(got == Map(
      "A" -> ((1L, 0L, 0L, 2L, 3600L * 1000000L)),
      "C" -> ((1L, 1L, 1000000L, 1L, 0L)),
      "D" -> ((1L, 1L, 1000000L, 1L, 0L))))
  }
}
