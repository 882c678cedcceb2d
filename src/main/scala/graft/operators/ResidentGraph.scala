package graft.operators

import org.apache.spark.{HashPartitioner, RangePartitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import java.util.{Arrays, Comparator}
import scala.collection.mutable.ArrayBuffer

/** The resident-graph kernel behind the iterative graph operators
  * (PageRank, personalized PageRank, HITS, label propagation, connected
  * components). The PackedKnn pattern applied to a graph: pack once into
  * per-partition primitive arrays, then run every round over them with
  * no Catalyst plan and no codegen in the loop.
  *
  *  1. Node ids are dictionary-encoded to dense ints `0 until n`, sorted
  *     in Spark's ordering of the id type (UTF-8 byte order for strings),
  *     so int order is id order: "smallest label" and "min id" compare
  *     ints. A [[RangePartitioner]] over the ids (one sampling job) cuts
  *     them into ranges; range `p` holds the ints
  *     `offsets(p) until offsets(p + 1)`. The offsets themselves travel
  *     through a P×P exchange of counts, so no driver action is needed.
  *  2. Each range packs its nodes' out-edges (and in-edges when an
  *     algorithm gathers both ways) into [[Route]]s, CSR-like arrays
  *     grouped by the range that owns the other endpoint. Edges keep their
  *     multiplicity. The dictionary and the routes are persisted for the
  *     call, co-partitioned.
  *  3. A round is one `zipPartitions` over the routes and the score or
  *     label arrays, plus one exchange of pre-summed message blocks keyed
  *     by target range. Receivers fold blocks in source-range order, so
  *     sums are deterministic. Rounds chain as RDD lineage: a
  *     fixed-iteration run is a single job.
  *  4. Only the result is decoded back to ids, into a locally
  *     checkpointed DataFrame.
  *
  * Every RDD a call persists is held in its [[Scope]] and released in
  * `finally`, also when the call throws. Edges with a null endpoint are
  * ignored. */
private[graft] object ResidentGraph extends Serializable {

  /** One range of the dictionary: the sorted distinct ids (Catalyst
    * values) of the nodes `offsets(index) until offsets(index + 1)`. */
  final class Nodes(val index: Int, val offsets: Array[Int], val keys: Array[Any])
      extends Serializable {
    def offset: Int = offsets(index)
    def size: Int = keys.length
    def total: Int = offsets(offsets.length - 1)
  }

  /** Edges from one range's nodes into one target range: edge `i` leaves
    * local node `src(i)` and enters target-local node `dst(slot(i))`;
    * `dst` holds each target once, so a block pre-sums per target. */
  final class Route(val src: Array[Int], val slot: Array[Int], val dst: Array[Int])
      extends Serializable

  /** One range's resident adjacency. `out(t)`/`in(t)` route this range's
    * out-/in-edges to target range `t`; `in` is empty unless built. */
  final class Part(val nodes: Nodes, val outDeg: Array[Int], val out: Array[Route],
                   val in: Array[Route]) extends Serializable {
    def index: Int = nodes.index
    def size: Int = nodes.size
  }

  /** The RDDs one call persisted; [[run]] releases them all. */
  final class Scope {
    private val held = ArrayBuffer[RDD[_]]()
    def hold[R <: RDD[_]](r: R): R = {
      r.persist(StorageLevel.MEMORY_AND_DISK); held += r; r
    }
    def drop(r: RDD[_]): Unit = { r.unpersist(blocking = false); held -= r }
    private[ResidentGraph] def release(): Unit = {
      held.foreach(_.unpersist(blocking = false)); held.clear()
    }
  }

  def run[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope) finally scope.release()
  }

  /** Dictionary-encoded edges: `nodes` per range and, co-partitioned,
    * every edge packed as `src << 32 | dst` (global ints), at the range of
    * its src, sorted. */
  final class Encoded(val spark: SparkSession, val nodes: RDD[Nodes],
                      val edges: RDD[Array[Long]], val idType: DataType, val numParts: Int)

  /** A resident graph: [[Encoded]] plus the packed routes. */
  final class Graph(val enc: Encoded, val parts: RDD[Part]) {
    def numParts: Int = enc.numParts
  }

  /** Dictionary build scratch: a range's sorted ids, and the edges whose
    * dst it owns as (dst's local index, src id). */
  private final class Dict(val index: Int, val keys: Array[Any], val dstLocal: Array[Int],
                           val srcKeys: Array[Any]) extends Serializable

  /** Encode `edges(srcCol, dstCol)`. Ids take the type a union of the two
    * columns would; one sampling job runs here, the rest is lazy. */
  def encode(scope: Scope, edges: DataFrame, srcCol: String, dstCol: String): Encoded = {
    val spark = edges.sparkSession
    val e = edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
    val idType = e.select(col("s")).unionByName(e.select(col("d").as("s"))).schema.head.dataType
    val typed = e.select(col("s").cast(idType), col("d").cast(idType))
      .where(col("s").isNotNull && col("d").isNotNull)
    implicit val ord: Ordering[Any] = Bridge.ordering(idType)
    val pairs = typed.queryExecution.toRdd.map(r =>
      (InternalRow.copyValue(r.get(0, idType)), InternalRow.copyValue(r.get(1, idType))))
    val requested = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranges = new RangePartitioner(requested,
      pairs.flatMap { case (s, d) => Iterator((s, ()), (d, ())) })
    val p = ranges.numPartitions
    // one shuffle carries both the dictionary's ids and every edge to the
    // range of its dst; a null value marks an id-only record
    val dict = scope.hold(pairs.flatMap { case (s, d) => Iterator((d, s), (s, null)) }
      .partitionBy(ranges)
      .mapPartitionsWithIndex({ (q, it) =>
        val all = ArrayBuffer[Any](); val dsts = ArrayBuffer[Any](); val srcs = ArrayBuffer[Any]()
        it.foreach { case (k, v) =>
          all += k
          if (v != null) { dsts += k; srcs += v }
        }
        val keys = sortedDistinct(all.toArray, ord)
        Iterator(new Dict(q, keys, dsts.iterator.map(search(keys, _, ord)).toArray, srcs.toArray))
      }, preservesPartitioning = true))
    val offsets = dict.mapPartitions { it =>
      val d = it.next(); Iterator.tabulate(p)(t => (t, (d.index, d.keys.length)))
    }.partitionBy(new HashPartitioner(p)).mapPartitions { it =>
      val counts = new Array[Long](p)
      it.foreach { case (_, (q, n)) => counts(q) = n }
      val total = counts.sum
      require(total < Int.MaxValue, s"resident graph: $total nodes exceed the int id space")
      Iterator(counts.scanLeft(0L)(_ + _).map(_.toInt))
    }
    val nodes = dict.zipPartitions(offsets) { (di, oi) =>
      val d = di.next(); Iterator(new Nodes(d.index, oi.next(), d.keys))
    }
    val bySrc = dict.zipPartitions(offsets) { (di, oi) =>
      val d = di.next(); val base = oi.next()(d.index)
      Iterator.tabulate(d.srcKeys.length)(i => (d.srcKeys(i), base + d.dstLocal(i)))
    }.partitionBy(ranges)
    val packed = nodes.zipPartitions(bySrc) { (ni, ei) =>
      val nd = ni.next()
      val es = ei.map { case (s, d) =>
        (nd.offset + search(nd.keys, s, ord)).toLong << 32 | d }.toArray
      Arrays.sort(es)
      Iterator(es)
    }
    new Encoded(spark, nodes, packed, idType, p)
  }

  /** Encode and pack; `withIn` also packs in-edges (for gathers that run
    * against edge direction). Nothing runs until the first action beyond
    * [[encode]]'s sampling job. */
  def build(scope: Scope, edges: DataFrame, srcCol: String, dstCol: String,
            withIn: Boolean): Graph = {
    val enc = encode(scope, edges, srcCol, dstCol)
    val out = enc.nodes.zipPartitions(enc.edges) { (ni, ei) =>
      val nd = ni.next(); val es = ei.next()
      val deg = new Array[Int](nd.size)
      es.foreach(e => deg(hi(e) - nd.offset) += 1)
      Iterator(new Part(nd, deg, routes(nd, es), Array.empty))
    }
    new Graph(enc, scope.hold(if (!withIn) out else
      out.zipPartitions(byFirst(enc, enc.edges.map(_.map(swap)), distinct = false)) { (pi, ei) =>
        val pt = pi.next()
        Iterator(new Part(pt.nodes, pt.outDeg, pt.out, routes(pt.nodes, ei.next())))
      }))
  }

  /** Message blocks of one [[exchange]]: `from`'s pre-summed values for
    * target-local nodes `dst`, plus `from`'s scalar. */
  private final class Sums(val from: Int, val dst: Array[Int], val vals: Array[Double],
                           val scalar: Double) extends Serializable

  /** One round's message exchange. Each range sends `x(u)` along every
    * out-edge (in-edge when `reverse`) and its scalar to every range;
    * each range returns its nodes' summed inflow and the sum of all
    * ranges' scalars (a global sum with no driver action). */
  def exchange(g: Graph, x: RDD[(Array[Double], Double)],
               reverse: Boolean): RDD[(Array[Double], Double)] = {
    val p = g.numParts
    val sent = g.parts.zipPartitions(x) { (pi, xi) =>
      val pt = pi.next(); val (v, scalar) = xi.next()
      val rs = if (reverse) pt.in else pt.out
      Iterator.tabulate(p) { t =>
        val r = rs(t)
        val vals = new Array[Double](r.dst.length)
        var i = 0
        while (i < r.src.length) { vals(r.slot(i)) += v(r.src(i)); i += 1 }
        (t, new Sums(pt.index, r.dst, vals, scalar))
      }
    }.partitionBy(new HashPartitioner(p))
    g.parts.zipPartitions(sent) { (pi, bi) =>
      val acc = new Array[Double](pi.next().size)
      var scalar = 0.0
      for (b <- bi.map(_._2).toArray.sortBy(_.from)) {
        var i = 0
        while (i < b.dst.length) { acc(b.dst(i)) += b.vals(i); i += 1 }
        scalar += b.scalar
      }
      Iterator((acc, scalar))
    }
  }

  /** Votes of one [[vote]] round, packed `target-local << 32 | label`;
    * a range's block to itself also carries its current labels. */
  private final class Votes(val votes: Array[Long], val own: Array[Int]) extends Serializable

  /** One synchronous label-propagation round over the undirected
    * multigraph: every edge is one vote each way (a self-loop votes
    * twice), each node takes its most voted label, the smallest on ties,
    * and keeps its own when it got no vote. Needs in-edges. */
  def vote(g: Graph, labels: RDD[Array[Int]]): RDD[Array[Int]] = {
    val p = g.numParts
    val sent = g.parts.zipPartitions(labels) { (pi, li) =>
      val pt = pi.next(); val l = li.next()
      Iterator.tabulate(p) { t =>
        val o = pt.out(t); val in = pt.in(t)
        val vs = new Array[Long](o.src.length + in.src.length)
        var i = 0
        while (i < o.src.length) { vs(i) = o.dst(o.slot(i)).toLong << 32 | l(o.src(i)); i += 1 }
        var j = 0
        while (j < in.src.length) {
          vs(i + j) = in.dst(in.slot(j)).toLong << 32 | l(in.src(j)); j += 1
        }
        (t, new Votes(vs, if (t == pt.index) l else null))
      }
    }.partitionBy(new HashPartitioner(p))
    g.parts.zipPartitions(sent) { (_, bi) =>
      val blocks = bi.map(_._2).toArray
      val next = blocks.find(_.own != null).get.own.clone()
      val vs = blocks.flatMap(_.votes)
      Arrays.sort(vs)
      var i = 0
      while (i < vs.length) {
        val target = hi(vs(i))
        var best = -1; var bestCount = 0
        while (i < vs.length && hi(vs(i)) == target) {
          val v = vs(i); var c = 0
          while (i < vs.length && vs(i) == v) { c += 1; i += 1 }
          if (c > bestCount) { best = v.toInt; bestCount = c }
        }
        next(target) = best
      }
      Iterator(next)
    }
  }

  /** Connected components by alternating large-star/small-star (Kiveris
    * et al., SoCC'14) over the undirected view, O(log n) rounds. Returns
    * each range's component label (the min int of the component) and the
    * rounds run. One job per round: the round is compared with its input
    * range by range (both sorted, same ranges), so the fixpoint test is
    * exact. Throws once `maxIters` rounds have not converged. */
  def components(scope: Scope, enc: Encoded, maxIters: Int): (RDD[Array[Int]], Int) = {
    def byU(pairs: RDD[Array[Long]]) = byFirst(enc, pairs, distinct = true)
    // runs of equal u in a sorted packed array: f(u, from, until)
    def runs(a: Array[Long])(f: (Int, Int, Int) => Unit): Unit = {
      var i = 0
      while (i < a.length) {
        val u = hi(a(i)); var j = i
        while (j < a.length && hi(a(j)) == u) j += 1
        f(u, i, j); i = j
      }
    }
    def round(edges: RDD[Array[Long]]): RDD[Array[Long]] = {
      val nbrs = byU(edges.map(a => a ++ a.map(swap)))
      // large-star: each neighbor v > u re-points to m = min(N(u) ∪ {u})
      val large = byU(nbrs.map { a =>
        val out = ArrayBuffer[Long]()
        runs(a) { (u, from, until) =>
          val m = math.min(u, a(from).toInt)
          for (k <- from until until if a(k).toInt > u) out += a(k).toInt.toLong << 32 | m
        }
        out.toArray
      })
      // small-star: u's neighbors (all below u) and u re-point to their min
      byU(large.map { a =>
        val out = ArrayBuffer[Long]()
        runs(a) { (u, from, until) =>
          val m = a(from).toInt
          for (k <- from + 1 until until) out += a(k).toInt.toLong << 32 | m
          out += u.toLong << 32 | m
        }
        out.toArray
      })
    }
    var edges = scope.hold(byU(enc.edges.map(_.flatMap { e =>
      val (s, d) = (hi(e), e.toInt)
      if (s == d) None else Some(math.max(s, d).toLong << 32 | math.min(s, d))
    })))
    var changed = true
    var rounds = 0
    while (changed && rounds < maxIters) {
      val next = scope.hold(round(edges))
      val diff = next.zipPartitions(edges) { (a, b) =>
        val (x, y) = (a.next(), b.next()); Iterator((!Arrays.equals(x, y), y.nonEmpty))
      }.collect()
      scope.drop(edges)
      edges = next
      changed = diff.exists(_._1)
      // an empty pair relation is its own fixpoint: zero rounds
      if (rounds > 0 || diff.exists(_._2)) rounds += 1
    }
    if (changed) throw new IllegalStateException(
      s"duplicateClusters did not converge in $maxIters rounds — " +
        "output would carry partially-contracted cluster labels")
    // at the star fixpoint every non-root node has one edge, to its root
    (enc.nodes.zipPartitions(edges) { (ni, ei) =>
      val nd = ni.next()
      val label = Array.tabulate(nd.size)(nd.offset + _)
      ei.next().foreach(e => label(hi(e) - nd.offset) = e.toInt)
      Iterator(label)
    }, rounds)
  }

  /** Per-node rows `(id, values...)`, locally checkpointed. */
  def scoreFrame(enc: Encoded, names: Seq[String], values: RDD[Array[Array[Double]]]): DataFrame = {
    val rows = enc.nodes.zipPartitions(values) { (ni, vi) =>
      val nd = ni.next(); val vs = vi.next()
      Iterator.tabulate(nd.size)(i => InternalRow.fromSeq(nd.keys(i) +: vs.map(_(i)).toSeq))
    }
    materialize(enc, StructType(StructField(names.head, enc.idType, nullable = false) +:
      names.tail.map(StructField(_, DoubleType, nullable = false))), rows)
  }

  /** Rows `(id, label id)` from int labels, locally checkpointed: one
    * node-sized exchange to the range that owns each label. */
  def labelFrame(enc: Encoded, idName: String, labelName: String,
                 labels: RDD[Array[Int]]): DataFrame = {
    val asked = enc.nodes.zipPartitions(labels) { (ni, li) =>
      val nd = ni.next(); val l = li.next()
      Iterator.tabulate(nd.size) { i =>
        val t = owner(nd.offsets, l(i)); (t, (l(i) - nd.offsets(t), nd.keys(i)))
      }
    }.partitionBy(new HashPartitioner(enc.numParts))
    val rows = enc.nodes.zipPartitions(asked) { (ni, ai) =>
      val nd = ni.next()
      ai.map { case (_, (local, key)) => InternalRow(key, nd.keys(local)) }
    }
    materialize(enc, StructType(Seq(StructField(idName, enc.idType, nullable = false),
      StructField(labelName, enc.idType, nullable = false))), rows)
  }

  /** The dictionary ranges' local flags for `ids` (strings cast to the id
    * type, as `isin` compares them; uncastable ones match nothing). */
  def flags(enc: Encoded, ids: Seq[String]): RDD[Array[Boolean]] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    val tz = Some(enc.spark.conf.get("spark.sql.session.timeZone"))
    val ord = Bridge.ordering(enc.idType)
    val keys = ids.flatMap(s => Option(Cast(Literal(s), enc.idType, tz, EvalMode.TRY).eval()))
    enc.nodes.map { nd =>
      val f = new Array[Boolean](nd.size)
      keys.foreach { k => val i = search(nd.keys, k, ord); if (i >= 0) f(i) = true }
      f
    }
  }

  private def materialize(enc: Encoded, schema: StructType, rows: RDD[InternalRow]): DataFrame =
    Bridge.internalFrame(enc.spark, rows, schema).localCheckpoint(eager = true)

  /** Packed pairs re-keyed to the range of their first int; each range's
    * pairs come out sorted (and deduplicated when `distinct`). */
  private def byFirst(enc: Encoded, pairs: RDD[Array[Long]], distinct: Boolean): RDD[Array[Long]] = {
    val p = enc.numParts
    enc.nodes.zipPartitions(pairs) { (ni, ei) =>
      val off = ni.next().offsets
      val buckets = Array.fill(p)(Array.newBuilder[Long])
      ei.next().foreach(e => buckets(owner(off, hi(e))) += e)
      Iterator.tabulate(p)(t => (t, buckets(t).result()))
    }.partitionBy(new HashPartitioner(p)).mapPartitions({ it =>
      val all = it.flatMap(_._2).toArray
      Arrays.sort(all)
      Iterator(if (distinct) all.distinct else all)
    }, preservesPartitioning = true)
  }

  /** Group a range's packed `src << 32 | dst` edges (global ints, src
    * in this range, sorted) into one [[Route]] per target range. */
  private def routes(nd: Nodes, packed: Array[Long]): Array[Route] = {
    val p = nd.offsets.length - 1
    val src = Array.fill(p)(Array.newBuilder[Int])
    val dst = Array.fill(p)(Array.newBuilder[Int])
    packed.foreach { e =>
      val d = e.toInt; val t = owner(nd.offsets, d)
      src(t) += hi(e) - nd.offset; dst(t) += d - nd.offsets(t)
    }
    Array.tabulate(p) { t =>
      val ds = dst(t).result(); val distinct = ds.distinct.sorted
      new Route(src(t).result(), ds.map(Arrays.binarySearch(distinct, _)), distinct)
    }
  }

  /** The range owning global int `id`: the first `t` with
    * `offsets(t + 1) > id` (empty ranges repeat an offset). */
  private def owner(offsets: Array[Int], id: Int): Int = {
    var lo = 0; var hiT = offsets.length - 2
    while (lo < hiT) {
      val mid = (lo + hiT) >>> 1
      if (offsets(mid + 1) > id) hiT = mid else lo = mid + 1
    }
    lo
  }

  private def hi(e: Long): Int = (e >>> 32).toInt

  private def swap(e: Long): Long = e.toInt.toLong << 32 | hi(e)

  private def sortedDistinct(a: Array[Any], ord: Ordering[Any]): Array[Any] = {
    Arrays.sort(a.asInstanceOf[Array[AnyRef]], ord.asInstanceOf[Comparator[AnyRef]])
    val out = ArrayBuffer[Any]()
    a.foreach(k => if (out.isEmpty || ord.compare(out.last, k) != 0) out += k)
    out.toArray
  }

  private def search(keys: Array[Any], k: Any, ord: Ordering[Any]): Int =
    Arrays.binarySearch(keys.asInstanceOf[Array[AnyRef]], k.asInstanceOf[AnyRef],
      ord.asInstanceOf[Comparator[AnyRef]])
}
