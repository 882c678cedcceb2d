package perfbench

import graft.operators.PropertyGraph
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import java.util.SplittableRandom
import scala.collection.mutable

/** The graph half of `analytics`: a directed graph with planted
  * components (Sweep's synthetic construction: 16 blocks, a (v, v+1)
  * backbone inside each block and power-law-skewed random in-block edges),
  * run through five iterative algorithms once per pass; calls are made and
  * counted through `w`. Bound by the job floor and planning. */
final class Graph(w: Workload) {
  import Graph._

  private val ctx = w.ctx
  private val spark = ctx.spark
  private val passes = mutable.ArrayBuffer[Double]()
  private var edges: DataFrame = _
  private var edgeList: Array[(Long, Long)] = _
  private var refPageRank: Map[Long, Double] = _
  private var refHits: Map[Long, (Double, Double)] = _
  private var refPpr: Map[Long, Double] = _

  private def block(v: Long): Long = v / BlockSize

  /** Edges of a planted-component graph with `blockSize` nodes per block. */
  private def generate(rng: SplittableRandom, blockSize: Int, edgeCount: Int): Array[(Long, Long)] = {
    val set = mutable.LinkedHashSet[(Long, Long)]()
    for (b <- 0 until Components; i <- 0 until blockSize - 1) {
      val v = b.toLong * blockSize + i
      set += ((v, v + 1))
    }
    while (set.size < edgeCount) {
      val b = rng.nextInt(Components).toLong * blockSize
      val src = b + math.floor(math.pow(rng.nextDouble(), 3) * blockSize).toLong
      val dst = b + rng.nextInt(blockSize)
      if (src != dst) set += ((src, dst))
    }
    set.toArray
  }

  private def frame(es: Array[(Long, Long)]): DataFrame = {
    val schema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      es.toSeq.map { case (s, d) => Row(s, d) }, ctx.cores), schema).persist()
    df.count()
    df
  }

  /** No warm-up pass: a graph job runs as its own Spark application, so
    * its users pay codegen and JIT on every run. */
  def setup(): Unit = {
    val rng = new SplittableRandom(ctx.seed)
    edgeList = generate(rng, BlockSize, Edges)
    edges = frame(edgeList)
    refPageRank = Reference.pageRank(edgeList, Nodes, Iterations)
    refHits = Reference.hits(edgeList, Nodes, Iterations)
    refPpr = Reference.personalizedPageRank(edgeList, Nodes, Sources.toSet, Iterations)
  }

  private def scores(df: DataFrame, value: String): Map[Long, Double] =
    df.select("id", value).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** One timed pass; returns its seconds. */
  def timedPass(): Double = {
    val spans = Seq("graph.pagerank", "graph.hits", "graph.label_propagation",
      "graph.connected_components", "graph.ppr")
    val nudge = (m: Map[Long, Double]) => m.updated(m.head._1, m.head._2 + 1e-6)

    w.call("graph.pagerank")(scores(PropertyGraph.pageRank(edges, iterations = Iterations), "rank")) {
      got => ctx.check("graph.pagerank ranks", got, close(refPageRank, "rank"),
        Seq("a rank off by 1e-6" -> nudge))
    }
    w.call("graph.hits") {
      PropertyGraph.hits(edges, iterations = Iterations).select("id", "authority", "hub").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    } { got =>
      ctx.check("graph.hits scores", got, hitsContract,
        Seq("a hub score off by 1e-6" -> ((m: Map[Long, (Double, Double)]) =>
          m.updated(m.head._1, (m.head._2._1, m.head._2._2 + 1e-6)))))
    }
    w.call("graph.label_propagation") {
      PropertyGraph.labelPropagation(edges, iterations = Iterations).select("id", "label").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    } { got =>
      ctx.check("graph.label_propagation labels", got, lpContract,
        Seq("label from another component" -> ((m: Map[Long, Long]) => m.updated(0L, BlockSize + 1L))))
    }
    w.call("graph.connected_components") {
      PropertyGraph.connectedComponents(edges).select("node_id", "component_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    } { got =>
      ctx.check("graph.connected_components", got, ccContract,
        Seq("two components merged" -> ((m: Map[Long, Long]) => {
          val c0 = m(0L)
          m.map { case (v, c) => v -> (if (block(v) == 1) c0 else c) }
        })))
    }
    w.call("graph.ppr") {
      scores(PropertyGraph.personalizedPageRank(edges, Sources.map(_.toString),
        iterations = Iterations), "rank")
    } { got =>
      ctx.check("graph.ppr ranks", got, close(refPpr, "ppr rank"), Seq("a rank off by 1e-6" -> nudge))
    }
    passes += spans.map(w.lastMs).sum / 1e3
    passes.last
  }

  /** Sums depend on addend grouping, so scores match the reference power
    * iteration within an absolute tolerance, over exactly the same nodes. */
  private def close(ref: Map[Long, Double], what: String)(got: Map[Long, Double]): Option[String] =
    if (got.size != ref.size) Some(s"${got.size} nodes scored, expected ${ref.size}")
    else ref.collectFirst {
      case (v, r) if !got.get(v).exists(g => math.abs(g - r) <= Tolerance) =>
        s"node $v: $what ${got.get(v)} vs reference $r"
    }

  private def hitsContract(got: Map[Long, (Double, Double)]): Option[String] =
    close(refHits.map { case (v, s) => v -> s._1 }, "authority")(got.map { case (v, s) => v -> s._1 })
      .orElse(close(refHits.map { case (v, s) => v -> s._2 }, "hub")(got.map { case (v, s) => v -> s._2 }))

  /** Every node is labelled, and every label is a node of the labelled
    * node's own component. */
  private def lpContract(got: Map[Long, Long]): Option[String] =
    if (got.size != Nodes) Some(s"${got.size} nodes labelled, expected $Nodes")
    else got.collectFirst {
      case (v, l) if l < 0 || l >= Nodes || block(l) != block(v) =>
        s"node $v labelled $l from another component"
    }

  /** Exactly the planted components: one id per block, distinct blocks
    * never share an id. */
  private def ccContract(got: Map[Long, Long]): Option[String] = {
    val byComp = got.groupBy(_._2).values.map(_.keys.map(block).toSet)
    if (got.size != Nodes) Some(s"${got.size} nodes, expected $Nodes")
    else if (byComp.size != Components) Some(s"${byComp.size} components, planted $Components")
    else byComp.find(_.size != 1).map(bs => s"one component spans blocks ${bs.mkString(",")}")
  }

  def detail: Map[String, Any] = Map(
    "graph_pass_s" -> Stats.median(passes.toSeq), "graph_passes" -> passes.length,
    "edges" -> edgeList.length, "nodes" -> Nodes, "graph_pass_s_all" -> passes.toSeq)
}

object Graph {
  val Components = 16
  val BlockSize = 125
  val Nodes: Int = Components * BlockSize
  val Edges = 20000
  val Iterations = 5
  val Tolerance = 1e-9
  /** Personalized PageRank teleports to these nodes (blocks 0 and 5). */
  val Sources = Seq(0L, BlockSize * 5L + 7)
}

/** Driver-side power iterations in the operators' documented formulations. */
object Reference {
  private def outDegree(edges: Array[(Long, Long)], n: Int): Array[Int] = {
    val d = new Array[Int](n)
    edges.foreach { case (s, _) => d(s.toInt) += 1 }
    d
  }

  /** rank = (1-d)/N + d * sum_in rank_src/outdeg_src from 1/N; dangling
    * mass is not redistributed. */
  def pageRank(edges: Array[(Long, Long)], n: Int, iterations: Int,
               damping: Double = 0.85): Map[Long, Double] = {
    val deg = outDegree(edges, n)
    var rank = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iterations) {
      val in = new Array[Double](n)
      edges.foreach { case (s, d) => in(d.toInt) += rank(s.toInt) / deg(s.toInt) }
      rank = in.map(x => (1.0 - damping) / n + damping * x)
    }
    rank.indices.map(i => i.toLong -> rank(i)).toMap
  }

  /** Teleport to the source set: (1-d)*1[v in S]/|S| + d * inflow. */
  def personalizedPageRank(edges: Array[(Long, Long)], n: Int, sources: Set[Long],
                           iterations: Int, damping: Double = 0.85): Map[Long, Double] = {
    val deg = outDegree(edges, n)
    val s = sources.size.toDouble
    var rank = Array.tabulate(n)(v => if (sources(v.toLong)) 1.0 / s else 0.0)
    for (_ <- 1 to iterations) {
      val in = new Array[Double](n)
      edges.foreach { case (a, b) => in(b.toInt) += rank(a.toInt) / deg(a.toInt) }
      rank = Array.tabulate(n)(v => (if (sources(v.toLong)) (1.0 - damping) / s else 0.0) + damping * in(v))
    }
    rank.indices.map(i => i.toLong -> rank(i)).toMap
  }

  /** Sum-normalized HITS from hubs 1/N: auth = A^T hub / sum, then
    * hub = A auth / sum. Returns (authority, hub). */
  def hits(edges: Array[(Long, Long)], n: Int, iterations: Int): Map[Long, (Double, Double)] = {
    var hub = Array.fill(n)(1.0 / n)
    var auth = new Array[Double](n)
    for (_ <- 1 to iterations) {
      val a = new Array[Double](n)
      edges.foreach { case (s, d) => a(d.toInt) += hub(s.toInt) }
      val sa = a.sum
      auth = a.map(_ / sa)
      val h = new Array[Double](n)
      edges.foreach { case (s, d) => h(s.toInt) += auth(d.toInt) }
      val sh = h.sum
      hub = h.map(_ / sh)
    }
    (0 until n).map(i => i.toLong -> (auth(i), hub(i))).toMap
  }
}
