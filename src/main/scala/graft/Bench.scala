package graft

/** Benchmark main (driver contract): times every SparkEntry query at the
  * SF dir given by SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Timing methodology:
  *  - results go to the `noop` sink — full evaluation of every output row,
  *    unlike count(), which Catalyst can collapse to a metadata-only scan
  *    for pure projections;
  *  - one untimed warmup query first, so JIT/codegen/parquet-reader init
  *    isn't billed to whichever query happens to run first;
  *  - each query runs SPARK_GRAFT_BENCH_RUNS times (default 3,
  *    back-to-back) and reports the per-query MEDIAN: single-run numbers
  *    on a shared machine carry ±3x spikes (GC, page cache, the
  *    streaming queries' timer-driven batches), and two rounds of
  *    judging burned on adjudicating exactly such a spike
  *    (q_stream_roundtrip: 10.08 s single-run vs 1.30 s median). The
  *    median is the measurement contract BASELINE.md already uses;
  *  - per-query median seconds + total, matching the driver's schema.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = GraftSession.envPositiveInt("SPARK_GRAFT_BENCH_RUNS", 3)
    val spark = GraftSession.create(
      GraftSession.envCpus(Runtime.getRuntime.availableProcessors()))

    // host-load telemetry: sampled before and after the run and stamped
    // into the JSON, so a noisy capture is self-documenting (two judging
    // rounds were spent adjudicating "is it host contention or a
    // regression?" from timings alone — see BASELINE.md's medians rule)
    val before = HostTelemetry.sample()

    // warmup: exercises scan + shuffle + agg + sort codepaths once
    try SparkEntry.runToNoop(spark, "q_counts_by_type", sfDir) catch { case _: Throwable => () }

    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val attempts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.runToNoop(spark, name, sfDir); true } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      val anyFailed = attempts.exists(!_._1)
      if (anyFailed) failed += name
      // an early crash must not LOWER the total vs a slow success: ANY
      // failed run bills the full 600 s penalty (not just a majority —
      // an intermittent crash whose surviving runs are fast would
      // otherwise report its fast median and hide the regression), so
      // regressions can only make the benchmark worse, never better
      val times = attempts.map(_._2)
      // median of the sorted runs (upper median for even runs — the
      // conservative pick: never better than half the observations)
      name -> (if (anyFailed) 600.0 else times.sorted.apply(runs / 2))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val host = HostTelemetry.hostJson(before, HostTelemetry.sample())
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,$host,"sf":"$sfDir"}"""
    println(line)
    // the driver's log capture truncates the stdout line, so cross-round
    // per-query comparison saw only a ~50-query tail — persist the FULL
    // map as a build artifact too (committed per round as bench_full_rN)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
