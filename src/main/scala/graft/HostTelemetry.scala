package graft

import scala.io.Source
import scala.util.Using

/** Host-load sampling shared by every timed main (Bench, Verify, Dev's
  * `time`): the three /proc/loadavg averages plus the cumulative
  * hypervisor steal ticks (8th field of /proc/stat's aggregate cpu line).
  *
  * Sampled before AND after a run, the steal delta separates "host
  * contention" from "code regression" without a re-run: two judging rounds
  * were burned adjudicating exactly that from timings alone, and the first
  * stamped bench captures (round 13) immediately attributed a 147.8 s
  * outlier to a 7,089-tick (~71 cpu-second) steal burst — the highest of
  * the session by 2–20×, on its slowest capture (BASELINE.md).
  *
  * Both reads are best-effort: on a host without /proc (or without a
  * steal-reporting hypervisor) they return "" and the stamp degrades to an
  * empty field rather than failing the run.
  */
object HostTelemetry {
  def loadavg(): String =
    try Using.resource(Source.fromFile("/proc/loadavg"))(_.mkString.trim
      .split("\\s+").take(3).mkString(","))
    catch { case _: Throwable => "" }

  /** Cumulative steal ticks since boot; visible only on some hypervisors —
    * empty when unreadable. Deltas, not absolutes, are the signal. */
  def stealTicks(): String =
    try {
      val cpu = Using.resource(Source.fromFile("/proc/stat"))(_.getLines()
        .find(_.startsWith("cpu ")).getOrElse(""))
      cpu.trim.split("\\s+").drop(1).lift(7).getOrElse("")
    } catch { case _: Throwable => "" }

  /** One (loadavg, steal) sample. */
  def sample(): (String, String) = (loadavg(), stealTicks())

  /** Log-style stamp for the println/stderr mains:
    * `[tag] host load=0.12,0.34,0.56 steal=1135506`. */
  def stampLine(tag: String): String =
    s"[$tag] host load=${loadavg()} steal=${stealTicks()}"

  /** The bench JSON fragment (no surrounding braces), matching the field
    * names BASELINE.md's capture notes already read. */
  def hostJson(before: (String, String), after: (String, String)): String =
    s""""host":{"loadavg_before":"${before._1}","loadavg_after":"${after._1}","steal_before":"${before._2}","steal_after":"${after._2}"}"""
}
