package perfbench

import java.lang.management.ManagementFactory
import java.time.Instant
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** A traced interval; times are milliseconds since the benchmark started. */
final case class Span(id: String, parent: String, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Process-wide counters read around a query run or a pass. */
final case class Jvm(gcMs: Long, gcCount: Long, jitMs: Long, codegenNs: Long, classes: Long) {
  def -(o: Jvm): Jvm = Jvm(gcMs - o.gcMs, gcCount - o.gcCount, jitMs - o.jitMs,
    codegenNs - o.codegenNs, classes - o.classes)
}

object Jvm {
  def now(): Jvm = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Jvm(gcs.map(_.getCollectionTime.max(0L)).sum, gcs.map(_.getCollectionCount.max(0L)).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }
}

/** Everything recorded for one query run (workload/seed/pass/query). */
final class Run(val id: String, val index: Int) {
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]
  val spans = mutable.ArrayBuffer.empty[Span]
  val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
  var span: (Double, Double) = (0, 0)              // the query, measured around its loop body
  var window: (Double, Double, Double) = (0, 0, 0) // build start, build end, sink end
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
}

/** Attributes Spark's listener events to query runs exactly, through job
  * tags the benchmark sets on the submitting thread (`spark.job.tags`, a
  * local property that Spark copies into broadcast, subquery and
  * streaming threads and into SQL execution events). No event is matched
  * by time. */
final class Recorder(spark: SparkSession, val epoch0: Long) {
  private val sc: SparkContext = spark.sparkContext
  private val runs = mutable.ArrayBuffer.empty[Run]
  private final case class Job(run: Run, phase: String, id: Int, start: Long,
                               stages: Set[Int], submitted: mutable.Set[Int])
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageRun = mutable.Map.empty[Int, Run]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val rddRun = mutable.Map.empty[Int, Run]
  private val execRun = mutable.Map.empty[Long, Run]
  private val streamRun = mutable.Map.empty[UUID, Run]
  private val lastProgress = mutable.Map.empty[UUID, (Run, Long, Long)]
  private val plans = mutable.ArrayBuffer.empty[(QueryExecution, Map[String, (Long, Long)])]
  private var settled = 0 // runs before this index belong to passes already settled
  private val qeExec = new java.util.IdentityHashMap[QueryExecution, Long]()
  val unattributed: mutable.Map[String, Long] = mutable.LinkedHashMap.empty[String, Long]
  private def lost(kind: String): Unit = unattributed(kind) = unattributed.getOrElse(kind, 0L) + 1

  private def rel(epochMs: Long): Double = (epochMs - epoch0).toDouble

  def tag(run: Run, phase: String): String = s"perfbench_${run.index}_$phase"
  private def runOf(tags: Iterable[String]): Option[(Run, String)] =
    tags.collectFirst { case t if t.startsWith("perfbench_") =>
      val Array(_, i, phase) = t.split("_", 3)
      synchronized(runs(i.toInt)) -> phase
    }
  private def runOf(props: java.util.Properties): Option[(Run, String)] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(s => runOf(s.split(",").toSeq))

  def newRun(id: String): Run = synchronized {
    val r = new Run(id, runs.size); runs += r; r
  }

  private def onTask(run: Run, e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    run.add("sched.tasks", 1)
    if (i.finishTime > 0) run.tasks += (i.launchTime -> i.finishTime)
    Option(e.taskMetrics).foreach { m =>
      run.add("exec.run_ms", m.executorRunTime)
      run.add("exec.cpu_ms", m.executorCpuTime / 1e6)
      run.add("exec.gc_ms", m.jvmGCTime)
      run.add("exec.deserialize_ms", m.executorDeserializeTime)
      run.add("exec.result_bytes", m.resultSize)
      run.add("scan.bytes", m.inputMetrics.bytesRead)
      run.add("scan.records", m.inputMetrics.recordsRead)
      run.add("sink.bytes_written", m.outputMetrics.bytesWritten)
      run.add("sink.records_written", m.outputMetrics.recordsWritten)
      run.add("exchange.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      run.add("exchange.write_records", m.shuffleWriteMetrics.recordsWritten)
      run.add("exchange.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      run.add("storage.spill_memory_bytes", m.memoryBytesSpilled)
      run.add("storage.spill_disk_bytes", m.diskBytesSpilled)
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      runOf(e.properties) match {
        case Some((run, phase)) =>
          val j = Job(run, phase, e.jobId, e.time, e.stageIds.toSet, mutable.Set.empty)
          jobs(e.jobId) = j
          e.stageIds.foreach(s => stageJob(s) = j)
          run.add("sched.jobs", 1)
          if (phase == "build") run.add("entry.build_jobs", 1)
          Option(e.properties.getProperty("sql.streaming.queryId"))
            .foreach(q => streamRun.getOrElseUpdate(UUID.fromString(q), run))
        case None => lost("job")
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Recorder.this.synchronized {
      runOf(e.properties).foreach { case (run, _) =>
        val s = e.stageInfo
        stageRun(s.stageId) = run
        s.rddInfos.foreach(r => rddRun(r.id) = run)
        jobs.values.filter(_.stages(s.stageId)).foreach(_.submitted += s.stageId)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
      val s = e.stageInfo
      for (run <- stageRun.get(s.stageId); job <- stageJob.get(s.stageId);
           t0 <- s.submissionTime; t1 <- s.completionTime) {
        run.add("sched.stages", 1)
        run.spans += Span(s"${run.id}/stage${s.stageId}.${s.attemptNumber()}",
          s"${run.id}/job${job.id}", "stage", rel(t0), rel(t1))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      stageRun.get(e.stageId).foreach(onTask(_, e))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.remove(e.jobId).foreach { j =>
        j.run.add("sched.stages_skipped", (j.stages -- j.submitted).size)
        j.run.spans += Span(s"${j.run.id}/job${j.id}", s"${j.run.id}/${j.phase}", "job",
          rel(j.start), rel(e.time))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Recorder.this.synchronized {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case RDDBlockId(rdd, _) if b.storageLevel.isValid =>
          rddRun.get(rdd).foreach(_.add("storage.put_bytes", b.memSize + b.diskSize))
        case _ =>
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Recorder.this.synchronized {
        runOf(s.jobTags).foreach { case (run, _) => execRun(s.executionId) = run }
      }
      case s: SparkListenerSQLExecutionEnd => Recorder.this.synchronized {
        Option(PerfbenchAccess.queryExecution(s)).foreach(qe => qeExec.put(qe, s.executionId))
      }
      case _ =>
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Recorder.this.synchronized {
      plans += qe -> qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs -> p.endTimeMs) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runOf(sc.getJobTags()).foreach { case (run, _) =>
        Recorder.this.synchronized(streamRun(e.id) = run)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        streamRun.get(p.id) match {
          case Some(run) =>
            val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.withDefaultValue(0.0)
            run.add("stream.batches", 1)
            run.add("stream.input_rows", p.numInputRows)
            run.add("stream.trigger_ms", d("triggerExecution"))
            run.add("stream.add_batch_ms", d("addBatch"))
            run.add("stream.commit_ms", d("walCommit") + d("commitOffsets"))
            run.add("stream.planning_ms", d("queryPlanning"))
            lastProgress(p.runId) = (run, p.stateOperators.map(_.numRowsTotal).sum,
              p.stateOperators.map(_.memoryUsedBytes).sum)
            val t0 = rel(Instant.parse(p.timestamp).toEpochMilli)
            run.spans += Span(s"${run.id}/stream${p.runId}.${p.batchId}", "", "stream.batch",
              t0, t0 + d("triggerExecution"))
          case None => lost("stream.progress")
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    PerfbenchAccess.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Folds the events that need the whole pass (plans, stream state, task
    * overlap) into their runs and gives each run its phase and child spans.
    * Call after [[detach]]. */
  def settle(): Unit = synchronized {
    plans.foreach { case (qe, phases) =>
      val id = Option(qeExec.get(qe)).getOrElse(-1L)
      execRun.get(id) match {
        case Some(run) =>
          run.add("plan.executions", 1)
          phases.foreach { case (name, (s, e)) =>
            run.add(s"plan.${name}_ms", e - s)
            run.spans += Span(s"${run.id}/plan$id.$name", "", s"plan.$name", rel(s), rel(e))
          }
        case None => lost(s"plan:${qe.logical.nodeName}:$id")
      }
    }
    plans.clear()
    qeExec.clear()
    lastProgress.values.foreach { case (run, rows, bytes) =>
      run.add("stream.state_rows", rows); run.add("stream.state_memory_bytes", bytes)
    }
    lastProgress.clear()
    runs.drop(settled).foreach { run =>
      val (t0, t1, t2) = run.window
      val busy = Trace.union(run.tasks.map { case (a, b) => (rel(a), rel(b)) }.toSeq, t0, t2)
      run.add("sched.driver_only_ms", (t2 - t0) - busy)
      run.add("sched.busy_ms", busy)
      run.add("sched.task_ms", run.tasks.map { case (a, b) => (b - a).toDouble }.sum)
      run.tasks.clear()
      // spans whose parent is known only by time hang under the phase they start in
      run.spans.indices.foreach { i =>
        val s = run.spans(i)
        if (s.parent.isEmpty)
          run.spans(i) = s.copy(parent = s"${run.id}/${if (s.start < t1) "build" else "sink"}")
      }
      run.spans ++= Seq(Span(run.id, "", "query", run.span._1, run.span._2),
        Span(s"${run.id}/build", run.id, "entry.build", t0, t1),
        Span(s"${run.id}/sink", run.id, "sink.exec", t1, t2))
    }
    settled = runs.size
  }

}

object Trace {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var (total, end) = (0.0, lo)
    iv.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - a.max(end); end = b }
      }
    total
  }

  /** Self time per span: its duration minus the union of its children.
    * Children are not clipped to their parent, so one that runs past it
    * makes the self time smaller, down to negative, rather than vanish. */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s -> (s.dur - union(c, Double.NegativeInfinity, Double.PositiveInfinity))
    }
  }

  /** Spark stamps events with the wall clock truncated to the millisecond,
    * so a child may appear to start up to this much before its parent. */
  val ToleranceMs = 1.0

  /** Every (child, parent) pair where the child starts before or ends after
    * its parent by more than [[ToleranceMs]]. */
  def overruns(spans: Seq[Span]): Seq[(Span, Span)] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.flatMap(k => byId.get(k.parent)
      .filter(p => k.start < p.start - ToleranceMs || k.end > p.end + ToleranceMs).map(k -> _))
  }
}
