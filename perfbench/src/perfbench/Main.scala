package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import java.lang.management.ManagementFactory
import scala.collection.immutable.ListMap

/** Benchmark entry point: one workload, one seed, one timed window, in a fresh
  * JVM. Prints a detail line and then the result line (see README.md). */
object Main {
  private implicit val formats: Formats = DefaultFormats
  private val Usage =
    "usage: Main --workload collection|analytics --seed N --seconds S --trace 0|1 " +
      "--cores C --tmp DIR [--selftest]"

  /** Spans reported with the per-layer metrics. Timed spans report
    * ms, jobs, plan_ms, task_ms and shuffle_mb; unfiltered packed-tier
    * queries are partition-local scans merged on the driver and write no
    * shuffle, so they report no shuffle_mb; setup spans report ms and jobs. */
  val PackedQuerySpans: Seq[String] = Seq("packed_flat.query",
    "packed_ivf.query", "packed_sq.query", "packed_pq.query", "packed_graph.query",
    "packed_flat.rw_query", "packed_ivf.rw_query")
  val TimedSpans: Seq[String] = Seq("packed_flat.query_filtered", "knn.query", "bm25.hybrid_query",
    "client.add", "client.upsert", "client.delete",
    "pipeline.prepare", "dedup.minhash_lsh", "dedup.dup_spans", "bm25.build_index",
    "graph.pagerank", "graph.hits", "graph.label_propagation", "graph.connected_components",
    "graph.ppr")
  val SetupSpans: Seq[String] = Seq("client.ingest", "ann.build_vector_index", "quant.build_sq",
    "quant.build_pq", "packed_flat.build", "packed_ivf.build", "packed_sq.build",
    "packed_pq.build", "packed_graph.build", "bm25.build_keyword_index")

  /** Every per-layer metric name with its unit, in report order. */
  def perLayerCatalog: Seq[(String, String)] =
    PackedQuerySpans.flatMap(s => Seq(s"$s.ms" -> "ms", s"$s.jobs" -> "count",
      s"$s.plan_ms" -> "ms", s"$s.task_ms" -> "ms")) ++
    TimedSpans.flatMap(s => Seq(s"$s.ms" -> "ms", s"$s.jobs" -> "count",
      s"$s.plan_ms" -> "ms", s"$s.task_ms" -> "ms", s"$s.shuffle_mb" -> "MB")) ++
    SetupSpans.flatMap(s => Seq(s"$s.ms" -> "ms", s"$s.jobs" -> "count")) ++
    Seq("spark.floor_ms" -> "ms", "dedup.hot_buckets" -> "count",
      "client.warm_start_rebuilds" -> "count")

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workload = opts.getOrElse("workload", fail("missing --workload"))
    val seed = opts.getOrElse("seed", fail("missing --seed")).toLong
    val seconds = opts.getOrElse("seconds", fail("missing --seconds")).toDouble
    val traced = opts.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case t => fail(s"--trace must be 0 or 1, got $t")
    }
    val cores = opts.getOrElse("cores", fail("missing --cores")).toInt
    val tmp = opts.getOrElse("tmp", fail("missing --tmp"))
    val selftest = opts.contains("selftest")
    // the launcher may be killed outright; the JVM must not outlive it
    ProcessHandle.current().parent().ifPresent(p => p.onExit().thenRun(() => Runtime.getRuntime.halt(3)))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val spans = new Spans(spark, traced)
      val checker = new Checker(selftest)
      val ctx = Ctx(spark, spans, checker, seed, cores, tmp)
      val w: Workload = workload match {
        case "collection" => new CollectionWorkload(ctx)
        case "analytics" => new AnalyticsWorkload(ctx)
        case other => fail(s"unknown workload '$other'")
      }
      val floorBefore = floorMs(spark, cores)
      val loadBefore = load1
      w.setup()
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
      val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
      w.run(System.nanoTime() + (seconds * 1e9).toLong)
      val residentMb = residentBytes(spark) / 1e6
      val floorAfter = floorMs(spark, cores)
      val loadAfter = load1
      spans.close()

      val endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", w.passSeconds, "s"),
        ("call_gmean_ms", Stats.geomean(w.callMs), "ms"))
      // each span's per-field medians, for the detail line and the per-layer metrics
      val spanMedians: Map[String, Map[String, Double]] =
        (PackedQuerySpans ++ TimedSpans ++ SetupSpans).map(s => s -> spans.costs(s))
          .filter(_._2.nonEmpty).toMap.map { case (s, cs) =>
            def med(f: CallCost => Double) = Stats.median(cs.map(f))
            s -> Map("ms" -> med(_.ms), "jobs" -> med(_.jobs.toDouble), "plan_ms" -> med(_.planMs),
              "task_ms" -> med(_.taskMs), "shuffle_mb" -> med(_.shuffleBytes / 1e6))
          }
      val correct = checker.failures.isEmpty && w.failedCalls == 0
      val detail = Map[String, Any](
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "cores" -> cores,
        "end_to_end" -> endToEnd.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
        "workload_metrics" -> w.detail,
        "resident_mb" -> residentMb,
        "failed_frac" -> w.failedCalls.toDouble / w.attemptedCalls,
        "noise" -> Map("floor_ms_before" -> floorBefore, "floor_ms_after" -> floorAfter,
          "load1_before" -> loadBefore, "load1_after" -> loadAfter),
        "calls" -> spanMedians.map { case (s, m) =>
          val cs = spans.costs(s)
          s -> (m ++ Map("n" -> cs.length, "jobs_all" -> cs.map(_.jobs),
            "busy" -> (if (traced) m("task_ms") / (m("ms") * cores) else 0.0)))
        },
        "failures" -> checker.failures.take(10).toSeq,
        "selftest" -> checker.corruptionTrials.map { case ((c, k), rejected) =>
          Map("check" -> c, "corruption" -> k, "rejected" -> rejected) }.toSeq,
        "checks_passed" -> checker.passedChecks.toMap)
      println(Serialization.write(detail))

      val metrics: Seq[(String, Double, String)] =
        if (!traced) endToEnd
        else {
          val gauges = w.gauges + ("spark.floor_ms" -> floorBefore)
          perLayerCatalog.map { case (name, unit) =>
            val dot = name.lastIndexOf('.')
            // a span or gauge the workload does not have reports 0
            val v = gauges.getOrElse(name,
              spanMedians.get(name.substring(0, dot)).fold(0.0)(_(name.substring(dot + 1))))
            (name, v, unit)
          }
        }
      println(Serialization.write(Map(
        "correct" -> correct, "attempted" -> w.attemptedCalls, "failed" -> w.failedCalls,
        "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
          .to(ListMap))))
    } finally spark.stop()
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--")) fail(s"unexpected argument '$a'")
      if (a == "--selftest") { out += "selftest" -> "1"; i += 1 }
      else if (i + 1 < args.length) { out += a.drop(2) -> args(i + 1); i += 2 }
      else fail(s"$a needs a value")
    }
    out.result()
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg\n$Usage")
    sys.exit(2)
  }

  /** Median wall time of an empty job over every core: the per-job
    * scheduling floor, a noise gauge for the window the run saw. */
  private def floorMs(spark: SparkSession, cores: Int): Double = {
    val sc = spark.sparkContext
    Stats.median((1 to 7).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(Seq.empty[Int], cores).count()
      (System.nanoTime() - t0) / 1e6
    })
  }

  private def load1: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Memory plus disk held by cached and checkpointed blocks. */
  private def residentBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble
}
