package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

final case class Ctx(spark: SparkSession, spans: Spans, check: Checker, seed: Long,
                     cores: Int, tmp: String)

/** One workload: `setup` builds everything the timed window needs and
  * `run` makes closed-loop calls (each starts when the previous returns)
  * until the deadline, finishing the pass it is in. */
abstract class Workload(val ctx: Ctx) {
  private var attempted = 0
  private var failed = 0
  private val calls = mutable.ArrayBuffer[Double]()
  def attemptedCalls: Int = attempted
  def failedCalls: Int = failed

  def setup(): Unit
  def run(deadlineNs: Long): Unit
  /** Median seconds of one pass over the workload's fixed call mix. */
  def passSeconds: Double
  /** Latency of every timed call, in milliseconds. */
  def callMs: Seq[Double] = calls.toSeq
  /** Workload-specific end-to-end figures for the human-readable line. */
  def detail: Map[String, Any]
  /** Gauges reported with the per-layer metrics. */
  def gauges: Map[String, Double]

  /** One timed call: `body` runs inside span `span`; the call fails if it
    * throws or if `ok` rejects its output. */
  def call[A](span: String)(body: => A)(ok: A => Boolean): Option[A] = {
    attempted += 1
    val out =
      try Some(ctx.spans(span)(body))
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $span threw: $e")
        ctx.check.failures += s"$span threw: $e"
        None
      }
    if (!out.exists(ok)) failed += 1
    calls += lastMs(span)
    out
  }

  def lastMs(span: String): Double = ctx.spans.costs(span).last.ms

  /** Untimed, unchecked call used to warm caches and JIT during setup. */
  protected def warm[A](body: => A): Unit = { body; () }

  protected def msOf(span: String): Seq[Double] = ctx.spans.costs(span).map(_.ms)
}
