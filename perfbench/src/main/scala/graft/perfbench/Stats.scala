package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Order statistics and failure accounting shared by every workload. */
object Stats {

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: `value` is the sample at `percentile`, taken
    * over `samples` samples. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** How many samples must lie beyond a reported tail percentile. */
  val TailBeyond = 10

  /** The highest percentile that still has at least [[TailBeyond]]
    * samples strictly beyond it: with n sorted samples that is the
    * (n - 10)-th smallest, at percentile 100·(n - 10)/n. A percentile
    * any higher would rest on fewer than ten samples. Below 21 samples
    * that percentile is at or under the median and says nothing about
    * the tail, so the maximum is reported instead, at percentile 100;
    * the sample count shows how thin that tail is. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n > 2 * TailBeyond) Tail(s(n - TailBeyond - 1), 100.0 * (n - TailBeyond) / n, n)
    else Tail(s.last, 100.0, n)
  }
}

/** Operations attempted and failed in one run: layer calls,
  * micro-batches, documents left without a route or decision, and
  * output checks. Only what the benchmark itself observes counts;
  * log lines on stderr (for example executor rejections printed while
  * the session stops) are not operations. */
final class Outcomes {
  private var attemptedN = 0L
  private var failedN = 0L
  val problems: ArrayBuffer[String] = ArrayBuffer.empty

  def attempted: Long = attemptedN
  def failed: Long = failedN

  def failedFrac: Double =
    if (attemptedN == 0) 0.0 else failedN.toDouble / attemptedN

  /** Count `n` operations, of which `bad` failed, for `what`. */
  def record(what: String, n: Long, bad: Long): Unit = {
    attemptedN += n
    failedN += bad
    if (bad > 0) problems += s"$what: $bad of $n failed"
  }

  /** Run one operation; a thrown exception counts as its failure. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attemptedN += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        failedN += 1
        problems += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** One output check: fails when it reports any problem. */
  def check(what: String, found: Seq[String]): Unit = {
    attemptedN += 1
    if (found.nonEmpty) {
      failedN += 1
      problems ++= found.take(5).map(p => s"$what: $p")
    }
  }
}
