package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev main over the SparkEntry queries at `sfDir`, under Bench's session
  * config plus SPARK_GRAFT_CONF:
  *
  *  - `plan <sfDir> [query...]`: the formatted physical plan of each named
  *    query, without running it (all but the `eager` ones if none named),
  *    to review scan pruning, pushdown, broadcasts and codegen spans;
  *  - `executed-plan <sfDir> <query>...`: runs each query first, rows
  *    discarded, so AQE's final plan prints, not the isFinalPlan=false one;
  *  - `time <sfDir> <runs> <query>...`: after one untimed warm-up query,
  *    runs the queries round-robin `runs` times to the noop sink, so a
  *    host-contention window hits every query alike, then prints each
  *    query's median (the upper one, as Bench reports). Host stamps
  *    bracket the runs and each streaming micro-batch prints its
  *    progress, to split a streaming regression into engine time and
  *    setup churn.
  *
  * The subcommand and the query names are checked before a session starts.
  */
object Dev {
  private val usage = "usage: Dev plan <sfDir> [query...] | " +
    "Dev executed-plan <sfDir> <query>... | Dev time <sfDir> <runs> <query>..."

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val (cmd, sfDir) = (args(0), args(1))
    val (runs, names) = cmd match {
      case "plan" if args.length == 2 =>
        (0, SparkEntry.registry.filterNot(_.eager).map(_.name).sorted)
      case "plan" | "executed-plan" => (0, args.drop(2).toSeq)
      case "time" =>
        val runs = args.lift(2).flatMap(_.toIntOption).filter(_ > 0)
          .getOrElse(throw new IllegalArgumentException(
            s"time needs a positive run count; $usage"))
        (runs, args.drop(3).toSeq.distinct)
      case _ =>
        throw new IllegalArgumentException(s"unknown subcommand '$cmd'; $usage")
    }
    require(names.nonEmpty, usage)
    SparkEntry.requireKnown(names)

    val conf = GraftSession.envConf()
    conf.foreach { case (k, v) => println(s"[dev] conf $k=$v") }
    val spark = GraftSession.create(
      GraftSession.envCpus(Runtime.getRuntime.availableProcessors()), conf)
    try cmd match {
      case "time" => time(spark, sfDir, runs, names)
      case _ => names.foreach { name =>
        println(s"\n========== $name ==========")
        try SparkEntry.run(spark, name, sfDir) { df =>
          val qe = df.queryExecution
          // a noop write would plan and run its own QueryExecution and
          // leave this one at isFinalPlan=false: run this one instead
          if (cmd == "executed-plan")
            SQLExecution.withNewExecutionId(qe, Some(cmd))(qe.toRdd.foreach(_ => ()))
          println(qe.explainString(FormattedMode))
        } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    } finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, runs: Int,
      names: Seq[String]): Unit = {
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[dev] stream started ${e.name} at ${e.timestamp}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[dev] batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs} state=${p.stateOperators.map(_.json).mkString(";")}")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println("[dev] stream terminated")
    })
    try SparkEntry.runToNoop(spark, "q_counts_by_type", sfDir) catch { case _: Throwable => () }
    println(HostTelemetry.stampLine("dev"))
    val times = (1 to runs).flatMap { i =>
      names.map { name =>
        val t0 = System.nanoTime()
        SparkEntry.runToNoop(spark, name, sfDir)
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[dev] run $i $name: $s%.2f s")
        name -> s
      }
    }.groupMap(_._1)(_._2)
    names.foreach { name =>
      val ts = times(name)
      println(f"[dev] $name%-36s median=${ts.sorted.apply(ts.size / 2)}%.3f " +
        s"(all=${ts.map(t => f"$t%.2f").mkString(",")})")
    }
    println(HostTelemetry.stampLine("dev"))
  }
}
