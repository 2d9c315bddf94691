package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Conversion-funnel analytics over an event stream: for an ordered list
  * of step event types, each user's step-k timestamp is the EARLIEST
  * step-k event strictly after their step-(k-1) timestamp (the classic
  * ordered-funnel definition — re-orderings don't count).
  *
  * Scale shape: one aggregation plus one join per step, all keyed on the
  * user column — co-partitioned shuffles that AQE can reuse, no window
  * over the full event history, no per-user event collection. State per
  * user is exactly `steps.length` timestamps regardless of event volume,
  * which is what survives a 100 TB clickstream.
  */
object Funnel {

  /** The event table's user, type and timestamp columns. */
  private val UserCol = "user_id"
  private val TypeCol = "event_type"
  private val TsCol = "ts"

  /** Per-user funnel frame: one row per user who completed step 0, with
    * nullable timestamps t0..t(k-1) for each completed step.
    */
  def userSteps(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val first = events.filter(col(TypeCol) === steps.head)
      .groupBy(col(UserCol))
      .agg(min(col(TsCol)).as("t0"))
    steps.zipWithIndex.drop(1).foldLeft(first) { case (acc, (step, k)) =>
      val next = events.filter(col(TypeCol) === step)
        .select(col(UserCol), col(TsCol).as("__ts"))
        .join(acc.select(col(UserCol), col(s"t${k - 1}")), UserCol)
        .filter(col("__ts") > col(s"t${k - 1}"))
        .groupBy(col(UserCol))
        .agg(min(col("__ts")).as(s"t$k"))
      acc.join(next, Seq(UserCol), "left")
    }
  }

  /** Funnel summary: (step, event_type, n_users) — how many users reached
    * each step in order.
    */
  def conversionCounts(events: DataFrame, steps: Seq[String]): DataFrame = {
    val perUser = userSteps(events, steps)
    val counts = perUser.agg(
      count(col("t0")).as("n0"),
      steps.indices.drop(1).map(k => count(col(s"t$k")).as(s"n$k")): _*)
    val stepRows = steps.zipWithIndex.map { case (s, k) =>
      struct(lit(k + 1L).as("step"), lit(s).as("event_type"),
        col(s"n$k").as("n_users"))
    }
    counts.select(explode(array(stepRows: _*)).as("r"))
      .select(col("r.step"), col("r.event_type"), col("r.n_users"))
  }
}
