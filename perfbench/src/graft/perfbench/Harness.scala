package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Closed-loop job runner: one client, one job at a time, the next job
  * starts only after the previous one has returned and been checked.
  *
  * A job that throws, or whose result fails its check, is counted as a
  * failure with its message and contributes no time: only checked jobs
  * are ever timed samples. The clock covers the job itself, from the
  * call until its full result is on the driver; the check runs after the
  * clock stops. */
final class Loop(val label: String) {
  val times = ArrayBuffer.empty[Double]
  val failures = ArrayBuffer.empty[String]
  private var tried = 0

  def attempted: Int = tried
  def failed: Int = failures.size

  /** Runs one job and returns its time when it passed its check. */
  def runOne[R](job: () => R, check: R => Option[String]): Option[Double] = {
    tried += 1
    val t0 = System.nanoTime()
    val outcome =
      try Right(job())
      catch { case NonFatal(e) => Left(s"threw ${e.getClass.getName}: ${e.getMessage}") }
    val sec = (System.nanoTime() - t0) / 1e9
    val verdict = outcome match {
      case Left(msg) => Some(msg)
      case Right(r) =>
        try check(r).map("wrong result: " + _)
        catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    verdict match {
      case Some(msg) => failures += msg.take(500); None
      case None => times += sec; Some(sec)
    }
  }

  /** Runs jobs until `seconds` have passed and at least `minJobs` have
    * been attempted, or until `hardSeconds` have passed. */
  def runFor[R](seconds: Double, minJobs: Int, hardSeconds: Double)
               (job: () => R, check: R => Option[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((elapsed < seconds || tried < minJobs) && elapsed < hardSeconds)
      runOne(job, check)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least `beyond` samples
    * above it: (value, percentile). Below `2 * beyond` samples that
    * percentile would not lie above the median, so the slowest sample is
    * the tail then (percentile 100). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    if (s.size < 2 * beyond) (s.last, 100.0)
    else {
      val i = s.size - beyond - 1
      (s(i), 100.0 * (i + 1) / s.size)
    }
  }
}
