package graft

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of `localCheckpoint` storage. A local checkpoint persists
  * an internal RDD behind a LogicalRDD scan that `Dataset.unpersist` cannot
  * reach, so its blocks stay until the driver garbage-collects the RDD. A
  * checkpoint is known by its RDD id, which a self-join's copy keeps.
  *
  * [[checkpoint]] is the only way to take one. The block belongs to the
  * innermost [[scoped]] block open on the calling thread, or to the caller
  * when none is open. Scopes nest: one that exits hands the checkpoints its
  * returned frame reads to the scope around it and frees the rest. The
  * open scope is a plain `ThreadLocal`, so a thread another one starts
  * (Spark's own included) owns what it takes. */
object Checkpoints {

  /** The checkpoints one [[scoped]] block owns. */
  final class Scope private[Checkpoints] (private[Checkpoints] val outer: Scope) {
    private[Checkpoints] val taken = mutable.Map.empty[Int, RDD[_]]

    /** Frees now this scope's checkpoints that `df` reads (a superseded round). */
    def release(df: Dataset[_]): Unit =
      reads(df).foreach(r => taken.remove(r.id).foreach(free))
  }

  private val open = new ThreadLocal[Scope]

  /** `df.localCheckpoint()`, owned by the innermost open scope on this
    * thread, or by the caller outside any scope. */
  def checkpoint[T](df: Dataset[T]): Dataset[T] = {
    val cp = df.localCheckpoint()
    Option(open.get).foreach(s => reads(cp).foreach(r => s.taken(r.id) = r))
    cp
  }

  /** Runs `body` in a fresh [[Scope]] nested in the open one. On exit the
    * scope hands the checkpoints a returned frame reads to the enclosing
    * scope (to the caller at the outermost) and frees the rest: all of
    * them for a driver-side result or a throw. A scope that took nothing
    * does not walk the result's plan. */
  def scoped[A](body: Scope => A): A = {
    val s = new Scope(open.get)
    open.set(s)
    var keep = Set.empty[Int]
    try {
      val out = body(s)
      out match {
        case df: Dataset[_] if s.taken.nonEmpty => keep = reads(df).map(_.id).toSet
        case _ =>
      }
      out
    } finally {
      open.set(s.outer)
      s.taken.foreach { case (id, r) =>
        if (!keep(id)) free(r) else if (s.outer != null) s.outer.taken(id) = r
      }
    }
  }

  /** Frees every checkpoint `df` reads, wherever it sits in the plan. */
  def release(df: Dataset[_]): Unit = reads(df).foreach(free)

  /** The checkpoints `df`'s plan reads, subqueries included. */
  private[graft] def reads(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.logical.collectWithSubqueries {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd
    }

  private def free(r: RDD[_]): Unit = r.unpersist(blocking = false)
}
