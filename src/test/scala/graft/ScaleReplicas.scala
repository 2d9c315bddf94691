package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The replicated corpora [[ScaleInvariantsSpec]] checks, built once per
  * JVM from `Replicas` copies of sf0.01 under a fresh temp dir:
  *
  *  - `documents.parquet`: replica i > 0 suffixes every token
  *    (`tok` → `tok_ri`) and shifts `doc_id` by i·`Stride`, so
  *    within-replica set structure is identical to the source while
  *    cross-replica similarity is exactly 0;
  *  - `shared/documents.parquet`: ids shifted, text untouched, so every
  *    corpus-frequency count scales ×R with the vocabulary held fixed;
  *  - `events.parquet`: `event_id` and `user_id` shifted, timestamps kept,
  *    so windows line up as exact multiples and per-user histories repeat;
  *  - `events_stream/`: the replica events as 24 files with disjoint,
  *    ascending time ranges, plus two far-future sentinel files, for
  *    [[streamSessionizeFiles]].
  *
  * Also home of the file-stream sessionizer and its sentinel contract: the
  * reader drops exactly [[SentinelUserId]], and the generator refuses
  * real data that carries it.
  */
object ScaleReplicas {

  /** Id offset between replicas: replica i's ids are source ids + i·Stride. */
  val Stride = 10000000L
  val Replicas = 2
  val srcDir = "/root/testdata/sf0.01"

  /** The reserved user id of the file-stream corpus's watermark rows.
    * Long.MinValue: unreachable by the replica id-striding arithmetic, and
    * unmistakable as plumbing in any debug dump. */
  val SentinelUserId: Long = Long.MinValue

  lazy val dir: String = {
    val out = GraftTestSpark.tempPath("graft_replicas").toString
    generate(GraftTestSpark.spark, srcDir, out, Replicas)
    out
  }

  private def generate(spark: SparkSession, src: String, out: String,
                       replicas: Int): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    writeSingleFile((0 until replicas).map { i =>
      if (i == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(i * Stride))
        .withColumn("text", concat(
          regexp_replace(col("text"), lit(" "), lit(s"_r$i ")), lit(s"_r$i")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionByName _), out, "documents")
    writeSingleFile((0 until replicas).map { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * Stride))
    }.reduce(_ unionByName _), s"$out/shared", "documents")
    // raw read: the replica keeps whatever physical ts encoding the source
    // has, and Tables.eventsLayout adapts on read-back
    val ev = Tables.rawEvents(spark, src)
    writeSingleFile((0 until replicas).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * Stride))
        .withColumn("user_id", col("user_id") + lit(i * Stride))
    }.reduce(_ unionByName _), out, "events")
    writeEventsStream(spark, out)
  }

  /** Splits the replica events into k files whose time ranges are
    * disjoint and ascend (repartitionByRange on ts, so equal timestamps
    * never straddle a file boundary: cross-batch arrival is strictly
    * time-ordered, the streaming == batch parity precondition), then adds
    * two far-future sentinel files that drive the final watermark advance
    * and the timed-out state sweep. Mod-times are stamped 2 s apart in
    * range order because FileStreamSource picks pending files oldest
    * mod-time first; the file name order is not its contract.
    * repartitionByRange may emit fewer than k files when its range
    * sampling collapses ties; the micro-batch count follows the files.
    */
  private def writeEventsStream(spark: SparkSession, out: String): Unit = {
    val k = 24
    val gapUs = 6 * 3600L * 1000000L // the production session gap
    val dir = new java.io.File(s"$out/events_stream")
    dir.mkdirs()
    val ev = Tables.table(spark, out, "events").select(col("user_id"), col("ts"))
    val tmp = new java.io.File(s"$out/__tmp_events_stream")
    ev.repartitionByRange(k, col("ts")).write.parquet(tmp.toString)
    val parts = Option(tmp.listFiles())
      .getOrElse(sys.error(s"events_stream build: cannot list $tmp"))
      .filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName) // part-NNNNN ascends with the range index
    require(parts.nonEmpty, s"events_stream build: no parquet parts under $tmp")
    val base = System.currentTimeMillis() - (k + 8) * 2000L
    parts.zipWithIndex.foreach { case (p, i) =>
      val dst = new java.io.File(dir, f"ev_$i%04d.parquet")
      java.nio.file.Files.move(p.toPath, dst.toPath)
      require(dst.setLastModified(base + i * 2000L), s"mtime: $dst")
    }
    GraftTestSpark.rmTree(tmp)
    // one pass for the sentinel timestamps AND the collision guard: the
    // reader drops exactly SentinelUserId, so real data must never carry
    // it (a range filter such as "all negative ids" would instead drop
    // legitimate rows silently). min() == Long.MinValue iff present.
    val bounds = ev.agg(max(unix_micros(col("ts"))), min(col("user_id")))
      .collect()(0)
    val (maxUs, minUid) = (bounds.getLong(0), bounds.getLong(1))
    require(minUid != SentinelUserId, "events_stream build: real data " +
      s"contains the reserved sentinel user_id $SentinelUserId")
    Seq(maxUs + 100L * gapUs, maxUs + 200L * gapUs).zipWithIndex
      .foreach { case (us, i) =>
        val one = spark.range(1).select(lit(SentinelUserId).as("user_id"),
          timestamp_micros(lit(us)).as("ts"))
        writeSingleFile(one, dir.toString, s"zz_sentinel_$i")
        val f = new java.io.File(dir, s"zz_sentinel_$i.parquet")
        require(f.setLastModified(base + (k + 1 + i) * 2000L), s"mtime: $f")
      }
  }

  /** Writes `df` as the one file `out/name.parquet` (the file-stream path
    * globs on the exact name). */
  private def writeSingleFile(df: DataFrame, out: String, name: String): Unit = {
    val tmp = new java.io.File(s"$out/__tmp_$name")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = Option(tmp.listFiles()).getOrElse(
        sys.error(s"cannot list just-written tmp dir $tmp for $name"))
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    java.nio.file.Files.move(part.toPath,
      new java.io.File(out, s"$name.parquet").toPath)
    GraftTestSpark.rmTree(tmp)
  }

  /** Streaming sessionization over a directory of time-ordered files,
    * executed: the drivable form of [[stream.Sessionize.sessionizeStream]].
    * `streamDir` must hold (user_id, ts) parquet files whose time ranges
    * are disjoint and ascend with file modification time, plus trailing
    * far-future sentinel files: with `maxFilesPerTrigger=1` each file is
    * one micro-batch under `Trigger.AvailableNow`, so the watermark
    * advances batch-to-batch and event-time timeouts fire, unlike a
    * single-file corpus, where the whole table is one micro-batch and no
    * session ever closes. The first sentinel advances the watermark past
    * every open session's timeout; the second triggers the timed-out state
    * sweep. Time-ordered arrival is the documented batch-parity
    * precondition, so the result must equal a batch recompute exactly.
    *
    * Sink is parquet-with-checkpoint, not the memory sink, so the closed
    * sessions are never collected into one JVM. `workDir` is wiped before
    * the run.
    *
    * Sentinel contract: the watermark-advancing rows carry exactly
    * [[SentinelUserId]], and only that id is dropped from the result,
    * never a range like "all negative ids", which would silently exclude
    * legitimately negative ids from the parity check. The generator above
    * enforces the other half: it refuses real data that carries the id.
    */
  def streamSessionizeFiles(spark: SparkSession, streamDir: String,
                            workDir: String,
                            gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    GraftTestSpark.rmTree(new java.io.File(workDir))
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
      .withWatermark("ts", "0 seconds")
      .as[stream.Sessionize.SessionEvent]
    val sessions = stream.Sessionize.sessionizeStream(events, gapSeconds)
    stream.StreamQueries.runBounded(sessions, "append")(
      _.format("parquet")
        .option("path", s"$workDir/out")
        .option("checkpointLocation", s"$workDir/ckpt"))
    spark.read.parquet(s"$workDir/out")
      .filter(col("user_id") =!= SentinelUserId)
  }
}
