package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Paths
import java.time.Instant

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{HostTelemetry, SparkEntry, Tables}

/** One benchmark run of one workload, in a single JVM with a single client:
  * queries are submitted one at a time, each timed at two public calls —
  * the builder `SparkEntry.queries(name)(spark, dataDir)` and the `noop`
  * sink write.
  *
  *  1. set-up, in the fresh JVM: a session, every table's footer, one pass
  *     over the workload that doubles as the output check (each query's full
  *     output is digested, see [[Digest]], for comparison with the
  *     reference), and then [[WarmupPasses]] untimed passes like the timed
  *     ones, while the JIT still compiles much of a pass's hot code. Its
  *     wall time is the cold warm-up a user of a new session pays;
  *  2. timed passes, each in an order drawn from `--seed`, until
  *     `--seconds` have passed. Listeners are off. With `--trace 1` every
  *     other pass runs with the [[Recorder]] attached instead, and the
  *     difference between the two kinds of pass is the tracing overhead.
  *
  * Everything is written as one JSON document to `--out`.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, queries: Seq[String], out: String, slots: Int)

  private def opts(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("data"), get("queries").split(",").toSeq.filter(_.nonEmpty), get("out"),
      get("slots").toInt)
  }

  /** Pass times fall for two to three passes after a fresh start (the
    * set-up's digest pass is the first) and then hold, while the JIT keeps
    * compiling at a lower rate. */
  val WarmupPasses = 2

  def session(slots: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val o = opts(args)
    val registry = SparkEntry.queries
    val missing = o.queries.filterNot(registry.contains)
    if (o.queries.isEmpty || missing.nonEmpty) {
      System.err.println(s"[perfbench] workload ${o.workload} names queries the registry " +
        s"does not have: ${missing.mkString(", ")}")
      sys.exit(2)
    }
    val build = o.queries.map(q => q -> registry(q)).toMap
    val hostBefore = HostTelemetry.sample()
    // span times are milliseconds since epoch0 on the wall clock Spark stamps
    // its events with; the harness's own nanoTime stamps are placed on it
    // through an anchor taken again before every query, so clock drift
    // between the two stays far below Spark's millisecond resolution
    val epoch0 = System.currentTimeMillis()
    var anchor = (0.0, 0L)
    def reanchor(): Unit = {
      val i = Instant.now()
      anchor = ((i.getEpochSecond * 1000 - epoch0) + i.getNano / 1e6, System.nanoTime())
    }
    def relMs(nano: Long): Double = anchor._1 + (nano - anchor._2) / 1e6
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heap = ManagementFactory.getMemoryMXBean

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // 1. set-up, which is also the output check: every query's full output
    // is materialised and digested, untimed by the passes below
    val tSetup = System.nanoTime()
    val spark = session(o.slots)
    new File(o.data).list().filter(_.endsWith(".parquet")).sorted
      .foreach(f => Tables.table(spark, o.data, f.stripSuffix(".parquet")).schema)
    val check = o.queries.map { q =>
      q -> (try {
        val d = Digest.of(build(q)(spark, o.data))
        Map("rows" -> d.rows, "digest" -> d.digest)
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
        Map("error" -> String.valueOf(e.getMessage).take(500))
      })
    }.toMap
    val sc = spark.sparkContext

    // warm-up passes (p < 0), the end of the set-up, and 2. timed passes
    val recorder = if (o.trace) Some(new Recorder(spark, epoch0)) else None
    val warmup = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var tRun = System.nanoTime()
    val tracedRuns = mutable.ArrayBuffer.empty[Run]
    var p = -WarmupPasses
    def traced(p: Int) = o.trace && p % 2 == 1
    // the medians need four passes; a traced run needs one pass of each kind
    def done = p >= 0 && secs(tRun) >= o.seconds && passes.size >= (if (o.trace) 2 else 4)
    while (!done) {
      if (p == 0) tRun = System.nanoTime()
      val order = new Random(o.seed * 1000003L + p).shuffle(o.queries)
      val rec = recorder.filter(_ => traced(p))
      rec.foreach(_.attach())
      val runs = mutable.ArrayBuffer.empty[(String, Run)]
      val times = mutable.LinkedHashMap.empty[String, Seq[Double]]
      var failed = 0
      val jvm0 = Jvm.now()
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      order.foreach { q =>
        reanchor()
        val jq = Jvm.now()
        // the query span is measured on its own, from here to the clearing
        // of the run's tag, so the trace check sees any part of the loop body
        // the two phases miss; the recorder's per-query reads come after it
        val q0 = System.nanoTime()
        val run = rec.map(_.newRun(s"${o.workload}/${o.seed}/$p/$q"))
        def phase(name: String) = rec.zip(run).foreach { case (r, x) =>
          sc.clearJobTags(); sc.addJobTag(r.tag(x, name))
        }
        val a = System.nanoTime()
        phase("build")
        var b = a
        try {
          val df = build(q)(spark, o.data)
          b = System.nanoTime()
          phase("sink")
          noop(df)
        } catch { case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
        }
        val c = System.nanoTime()
        if (run.isDefined) sc.clearJobTags()
        times(q) = Seq((b - a) / 1e9, (c - b) / 1e9)
        val q1 = System.nanoTime()
        run.foreach { x =>
          val d = Jvm.now() - jq
          x.add("entry.build_ms", (b - a) / 1e6)
          x.add("sink.exec_ms", (c - b) / 1e6)
          x.add("codegen.compile_ms", d.codegenNs / 1e6)
          x.add("codegen.classes", d.classes)
          x.add("jvm.gc_ms", d.gcMs)
          x.add("jvm.gc_count", d.gcCount)
          x.add("jvm.jit_ms", d.jitMs)
          x.add("storage.held_bytes_end",
            sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
          x.span = (relMs(q0), relMs(q1))
          x.window = (relMs(a), relMs(b), relMs(c))
          runs += q -> x
        }
      }
      val passS = secs(t0)
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      val jvm = Jvm.now() - jvm0
      rec.foreach { r => r.detach(); r.settle() }
      System.gc()
      val liveMb = heap.getHeapMemoryUsage.getUsed / 1048576.0
      (if (p < 0) warmup else passes) += Map("pass" -> p, "traced" -> rec.isDefined,
        "pass_s" -> passS, "cpu_s" -> cpuS, "live_heap_mb" -> liveMb, "failed" -> failed,
        "attempted" -> order.size, "gc_ms" -> jvm.gcMs, "jit_ms" -> jvm.jitMs,
        "order" -> order, "times" -> times,
        "runs" -> runs.map { case (q, x) => q -> x.counts }.toMap)
      if (rec.isDefined) tracedRuns ++= runs.map(_._2)
      p += 1
    }
    val traceDoc = recorder.map { r =>
      val spans = tracedRuns.flatMap(_.spans).toSeq
      val self = Trace.selfTimes(spans)
      // the share of the query spans their children (entry.build, sink.exec)
      // cover: gated over all traced queries, since on a shared host a thread
      // can lose a few milliseconds to the scheduler in any gap; per query it
      // is only reported
      val queries = self.filter(_._1.name == "query")
      val coverage = queries.map { case (s, free) => s.id -> (1 - free / s.dur.max(1e-9)) }
      val ids = spans.map(_.id).toSet
      def show(s: Span) = s"${s.name} ${s.id} [${s.start}, ${s.end}]"
      Map("spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
            "start_ms" -> s.start, "end_ms" -> s.end)),
        "self_ms" -> self.groupBy(_._1.name).map { case (k, v) => k -> v.map(_._2).sum },
        "min_self_ms" -> (if (self.isEmpty) 0.0 else self.map(_._2).min),
        "coverage" -> (1 - queries.map(_._2).sum / queries.map(_._1.dur).sum.max(1e-9)),
        "min_query_coverage" -> coverage.sortBy(_._2).headOption.getOrElse("" -> 1.0),
        "overruns" -> Trace.overruns(spans).map { case (k, s) => s"${show(k)} outside ${show(s)}" },
        "orphans" -> spans.filter(s => s.parent.nonEmpty && !ids(s.parent)).map(show),
        "unattributed_events" -> r.unattributed)
    }
    val doc = Map("workload" -> o.workload, "seed" -> o.seed, "slots" -> o.slots,
      "queries" -> o.queries, "setup_s" -> (tRun - tSetup) / 1e9, "check" -> check,
      "warmup" -> warmup, "passes" -> passes,
      "trace" -> traceDoc,
      "host" -> Map("before" -> hostMap(hostBefore), "after" -> hostMap(HostTelemetry.sample())))
    json.writeValue(Paths.get(o.out).toFile, doc)
    spark.stop()
  }

  private def hostMap(s: (String, String)) = Map("loadavg" -> s._1, "steal" -> s._2)
}
