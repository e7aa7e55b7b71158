package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** A closed loop with one client: each operation starts only after the
  * previous one has returned. Every attempt is counted; an operation
  * that throws counts as failed and contributes no timing, so a fast
  * failure can never read as a speed-up. Output checks that fail are
  * counted as failures too. */
final class Loop(log: String => Unit = System.err.println) {
  private var attempts = 0L
  private var failures = 0L
  private val samples = ArrayBuffer.empty[(String, Double)]

  def attempted: Long = attempts
  def failed: Long = failures

  /** Every successful timing so far, in the order taken. */
  def timings: Seq[(String, Double)] = samples.toSeq
  def seconds: Seq[Double] = samples.map(_._2).toSeq

  /** Run `op` once and time it; `None` when it threw. */
  def run[A](name: String)(op: => A): Option[A] = {
    attempts += 1
    val t0 = System.nanoTime()
    try {
      val a = op
      samples += name -> (System.nanoTime() - t0) / 1e9
      Some(a)
    } catch {
      case NonFatal(e) =>
        failures += 1
        log(s"[perfbench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Run `op` untimed (warm-up, set-up); a throw counts as failed. */
  def untimed[A](name: String)(op: => A): Option[A] = {
    attempts += 1
    try Some(op)
    catch {
      case NonFatal(e) =>
        failures += 1
        log(s"[perfbench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Record an output check; a false one counts as a failed attempt. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempts += 1
    if (!ok) {
      failures += 1
      log(s"[perfbench] check $name failed${if (detail.isEmpty) "" else ": " + detail}")
    }
    ok
  }
}
