package perfbench

import scala.collection.mutable

/** `analytics`: one pass is a curation pass followed by a graph pass.
  * Both are batch jobs with no resident index, bound by the job floor and
  * planning; the two run in one workload so a benchmark run stays short
  * enough for its repetitions. Their spans stay separate in a traced run. */
final class AnalyticsWorkload(ctx: Ctx) extends Workload(ctx) {
  private val curate = new Curate(this)
  private val graph = new Graph(this)
  private val passes = mutable.ArrayBuffer[Double]()

  def setup(): Unit = { curate.setup(); graph.setup() }

  def run(deadlineNs: Long): Unit =
    while (passes.isEmpty || System.nanoTime() < deadlineNs)
      passes += curate.timedPass() + graph.timedPass()

  def passSeconds: Double = Stats.median(passes.toSeq)
  def detail: Map[String, Any] = curate.detail ++ graph.detail + ("pass_s_all" -> passes.toSeq)
  def gauges: Map[String, Double] = curate.gauges
}
