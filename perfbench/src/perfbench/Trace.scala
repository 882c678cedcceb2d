package perfbench

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** What one call into the program cost. `jobs`, `planMs`, `taskMs` and
  * `shuffleBytes` stay 0 in an untraced run. */
final case class CallCost(ms: Double, jobs: Long, planMs: Double, taskMs: Double,
                          shuffleBytes: Long)

/** Spans around the benchmark's calls into the program. Every run keeps
  * the wall time of each call; a traced run also registers a
  * SparkListener and a QueryExecutionListener and attributes jobs, task
  * run time, shuffle writes and Catalyst phase time to the span that was
  * open when they happened. Spans stay in memory until the run ends. */
final class Spans(spark: SparkSession, val traced: Boolean) {
  private val PropKey = "perfbench.span"
  private val calls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[CallCost]]()

  // counters the listeners add to, keyed by span name; only the listener
  // bus thread writes them and the client thread reads them after a drain
  private final class Acc { var jobs = 0L; var planMs = 0.0; var taskMs = 0.0; var shuffle = 0L }
  private val acc = mutable.HashMap[String, Acc]()
  private val stageSpan = mutable.HashMap[Int, String]()
  @volatile private var open: String = null

  private def accOf(span: String): Acc = acc.synchronized(acc.getOrElseUpdate(span, new Acc))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).map(_.getProperty(PropKey)).orNull
      if (span != null) {
        val a = accOf(span)
        a.synchronized(a.jobs += 1)
        stageSpan.synchronized(e.stageIds.foreach(stageSpan(_) = span))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.synchronized(stageSpan.get(e.stageId))
      val m = e.taskMetrics
      if (span.isDefined && m != null) {
        val a = accOf(span.get)
        a.synchronized {
          a.taskMs += m.executorRunTime
          a.shuffle += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val span = open
      if (span != null) {
        val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
        val a = accOf(span)
        a.synchronized(a.planMs += ms)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  if (traced) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  /** Runs `body` as one call of `span` and records its cost. */
  def apply[A](span: String)(body: => A): A = {
    val sc = spark.sparkContext
    var before: (Long, Double, Double, Long) = null
    if (traced) {
      ListenerDrain(sc)
      val a = accOf(span)
      before = a.synchronized((a.jobs, a.planMs, a.taskMs, a.shuffle))
      sc.setLocalProperty(PropKey, span)
      open = span
    }
    val t0 = System.nanoTime()
    try body
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      val cost =
        if (!traced) CallCost(ms, 0, 0, 0, 0)
        else {
          ListenerDrain(sc)
          open = null
          sc.setLocalProperty(PropKey, null)
          val a = accOf(span)
          a.synchronized(CallCost(ms, a.jobs - before._1, a.planMs - before._2,
            a.taskMs - before._3, a.shuffle - before._4))
        }
      calls.getOrElseUpdate(span, mutable.ArrayBuffer()) += cost
    }
  }

  def costs(span: String): Seq[CallCost] = calls.get(span).map(_.toSeq).getOrElse(Nil)

  def close(): Unit = if (traced) {
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(jobListener)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, samples). With ten or fewer samples no such
    * percentile exists and the maximum is reported at percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}
