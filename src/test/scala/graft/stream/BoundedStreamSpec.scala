package graft.stream

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

/** [[StreamQueries.runBounded]], the one way an executed stream runs: what
  * it sets for the run, that it puts everything back, and the recompiles
  * and micro-batches it exists to remove.
  */
class BoundedStreamSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  val sf = GraftTestSpark.sfDir

  private val pinnedKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.artifact.isolation.enabled",
    "spark.sql.streaming.noDataMicroBatches.enabled")

  /** The pinned keys as explicitly set on the session (None = unset). */
  private def pinned(): Seq[Option[String]] =
    pinnedKeys.map(spark.conf.getAll.get)

  /** Classes `CodeGenerator` compiled, process-wide, during each of three
    * back-to-back runs of `q`. */
  private def compilesPerRun(
      q: (SparkSession, String) => DataFrame): Seq[Long] =
    Seq.fill(3) {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      q(spark, sf).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }

  test("a rerun stream compiles nothing: the clone's tasks share the " +
      "executor class loader, so CodeGenerator.cache hits") {
    val windowed = compilesPerRun(StreamQueries.streamWindowedCounts)
    info(s"q_stream_windowed compiles per run: ${windowed.mkString(", ")}")
    info("q_stream_dedup compiles per run: " +
      compilesPerRun(StreamQueries.streamDedup).mkString(", "))
    info("q_stream_hll compiles per run: " +
      compilesPerRun(StreamQueries.streamHllDaily).mkString(", "))
    assert(windowed(2) == 0,
      s"run 3 of q_stream_windowed compiled ${windowed(2)} classes")
  }

  /** Micro-batches (progress events) of one run of `q`. Listener events
    * arrive asynchronously, but a query's terminated event follows all of
    * its progress events, so the count is final once it has arrived. */
  private def batchesPerRun(q: (SparkSession, String) => DataFrame): Int = {
    val progress = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.incrementAndGet(): Unit
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.countDown()
    }
    spark.streams.addListener(listener)
    try {
      q(spark, sf).collect()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "no terminated event")
    } finally spark.streams.removeListener(listener)
    progress.get
  }

  test("a complete-mode run skips the no-data micro-batch; an append-mode " +
      "run keeps it") {
    // dedup's watermark moves in its one data batch, which would buy a
    // second, empty batch; windowed has no watermark, so it has none
    assert(batchesPerRun(StreamQueries.streamDedup) == 1)
    assert(batchesPerRun(StreamQueries.streamWindowedCounts) == 1)
    // append mode keeps the no-data batch, so the join's watermark still
    // buys one
    assert(batchesPerRun(StreamQueries.streamIntervalJoin) == 2)
  }

  test("runBounded pins one state partition, no artifact isolation and, in " +
      "complete mode, no no-data batches for the run, and restores all " +
      "three after a run and after a throw") {
    val before = pinned()
    // the session's own values differ from the pinned ones, so a missing
    // restore shows
    assert(before != Seq(Some("1"), Some("false"), Some("false")))
    val counts = StreamQueries.eventsStream(spark, sf)
      .groupBy("event_type").count()
    var during = Seq.empty[Option[String]]
    StreamQueries.runBounded(counts, "complete") { w =>
      during = pinned()
      w.format("memory").queryName("bounded_restore")
    }
    assert(during == Seq(Some("1"), Some("false"), Some("false")))
    assert(pinned() == before)
    assert(spark.table("bounded_restore").count() > 0)

    // the sink step throws
    intercept[IllegalStateException](
      StreamQueries.runBounded(counts, "complete")(_ =>
        throw new IllegalStateException("sink refused")))
    assert(pinned() == before)
    // start() refuses the plan: append mode on a watermark-less aggregate
    intercept[org.apache.spark.sql.AnalysisException](
      StreamQueries.runBounded(counts, "append") { w =>
        during = pinned()
        w.format("memory").queryName("bounded_refused")
      })
    // append mode leaves no-data batches as the session has them
    assert(during == Seq(Some("1"), Some("false"), before(2)))
    assert(pinned() == before)
  }
}
