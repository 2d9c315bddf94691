package graft

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of `localCheckpoint` storage. A local checkpoint persists
  * an internal RDD behind a LogicalRDD scan that `Dataset.unpersist` cannot
  * reach, so its blocks stay until the driver garbage-collects the RDD. A
  * checkpoint is known by its RDD id, which a self-join's copy keeps. */
object Checkpoints {

  /** The checkpoints one [[scoped]] block took. */
  final class Scope private[Checkpoints] () {
    private[Checkpoints] val taken = mutable.Map.empty[Int, RDD[_]]

    /** `df.localCheckpoint()`, owned by this scope. */
    def checkpoint[T](df: Dataset[T]): Dataset[T] = {
      val cp = df.localCheckpoint()
      reads(cp).foreach(r => taken(r.id) = r)
      cp
    }

    /** Frees now this scope's checkpoints that `df` reads (a superseded round). */
    def release(df: Dataset[_]): Unit =
      reads(df).foreach(r => taken.remove(r.id).foreach(free))
  }

  /** Runs `body` in a fresh [[Scope]], then frees every checkpoint the
    * scope took that a returned frame does not read: all of them for a
    * driver-side result or a throw. Checkpoints it did not take are left
    * alone. */
  def scoped[A](body: Scope => A): A = {
    val s = new Scope
    var keep = Set.empty[Int]
    try {
      val out = body(s)
      out match { case df: Dataset[_] => keep = reads(df).map(_.id).toSet; case _ => }
      out
    } finally s.taken.foreach { case (id, r) => if (!keep(id)) free(r) }
  }

  /** Frees every checkpoint `df` reads, wherever it sits in the plan. */
  def release(df: Dataset[_]): Unit = reads(df).foreach(free)

  /** Runs `body`, then frees every checkpoint made on `spark` while it ran,
    * read by its result or not: one query of a main, built and written,
    * when nothing else runs on the session and no later query reads it. */
  def sweep[A](spark: SparkSession)(body: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
      if (!before(id) && r.isCheckpointed) free(r)
    }
  }

  private def reads(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.logical.collectWithSubqueries {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd
    }

  private def free(r: RDD[_]): Unit = r.unpersist(blocking = false)
}
