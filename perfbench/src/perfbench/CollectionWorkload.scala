package perfbench

import graft.{GraftClient, GraftCollection}
import graft.operators.Filter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import perfbench.Checks._

import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `collection`: one GraftCollection of clustered 128-d vectors with short
  * documents and every resident tier built. The read phase cycles 20-query
  * k=10 batches through every tier plus an exact and a hybrid query; the
  * write phase cycles add -> upsert -> delete, each followed by a
  * read-after-write batch on the flat and IVF tiers. */
final class CollectionWorkload(ctx: Ctx) extends Workload(ctx) {
  import CollectionWorkload._

  private val spark = ctx.spark
  private val rng = new SplittableRandom(ctx.seed)
  // 16 latent clusters of 16 sub-clusters each, over 64 IVF cells. The
  // sub-clusters give each cluster inner structure that the PQ tier's
  // codes can resolve, so its ranking is far better than chance; point
  // noise wider than the sub-cluster spread keeps sub-clusters
  // overlapping, so SQ and PQ recall stays below 1.0
  private val subCenters = Array.fill(Clusters)(Array.fill(Dim)(rng.nextDouble() * 2 - 1))
    .flatMap(c => Array.fill(SubClusters)(c.map(_ + (rng.nextDouble() * 2 - 1) * SubSpread)))
  private val mirror = new Mirror(Dim)
  private val deleted = mutable.HashSet[String]()
  private var coll: GraftCollection = _
  private var batches: Array[(DataFrame, Truth)] = _
  private var batchVectors: Array[Seq[Array[Float]]] = _
  private var texts: Array[String] = _
  private val recalls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val readCycles = mutable.ArrayBuffer[Double]()
  private val writeCycles = mutable.ArrayBuffer[Double]()
  private var tierQueries = 0L
  private var tierSeconds = 0.0

  private def vector(): Array[Float] = {
    val c = subCenters(rng.nextInt(subCenters.length))
    Array.tabulate(Dim)(j => (c(j) + (rng.nextDouble() * 2 - 1) * Noise).toFloat)
  }
  private def document(): String =
    Seq.fill(DocWords)(s"w${rng.nextInt(Vocab)}").mkString(" ")

  private val rowSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("document", StringType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("bucket", IntegerType)))

  private def rows(ids: Seq[String], vecs: Seq[Array[Float]]): DataFrame = {
    val rs = ids.zip(vecs).map { case (id, v) =>
      Row(id, document(), v.toSeq, math.floorMod(id.hashCode, 100)) }
    spark.createDataFrame(spark.sparkContext.parallelize(rs, ctx.cores), rowSchema)
  }

  private val querySchema = StructType(Seq(
    StructField("query_id", LongType), StructField("query_vec", ArrayType(FloatType))))

  private def queries(vecs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }.asJava,
      querySchema)

  private def ranked(df: DataFrame, nq: Int): Ranked = rankedDistances(df, nq).map(_.map(_._1))

  private def rankedDistances(df: DataFrame, nq: Int): Array[Array[(String, Double)]] = {
    val out = Array.fill(nq)(mutable.ArrayBuffer[(Int, String, Double)]())
    df.select(col("query_id").cast("long"), col("rank").cast("int"), col("id"), col("distance"))
      .collect()
      .foreach(r => out(r.getLong(0).toInt) += ((r.getInt(1), r.getString(2), r.getDouble(3))))
    out.map(_.sortBy(_._1).map(x => (x._2, x._3)).toArray)
  }

  def setup(): Unit = {
    val ids = (0 until Rows).map(i => f"d$i%06d")
    val vecs = ids.map(_ => vector())
    ids.zip(vecs).foreach { case (id, v) => mirror.put(id, v) }
    val client = new GraftClient(spark, s"${ctx.tmp}/collections")
    val s = ctx.spans
    s("client.ingest") {
      coll = client.createCollection("bench", "cosine", Dim)
      coll.add(rows(ids, vecs))
    }
    s("ann.build_vector_index")(coll.buildVectorIndex())
    s("quant.build_sq")(coll.buildScalarQuantModel())
    s("quant.build_pq")(coll.buildQuantModel())
    s("packed_flat.build")(coll.buildPackedIndex())
    s("packed_ivf.build")(coll.buildPackedAnnIndex())
    s("packed_sq.build")(coll.buildPackedSqIndex())
    s("packed_pq.build")(coll.buildPackedPqIndex())
    s("packed_graph.build")(coll.buildPackedGraphIndex())
    s("bm25.build_keyword_index")(coll.buildKeywordIndex())
    batchVectors = Array.fill(Batches)(Seq.fill(BatchSize)(vector()))
    batches = batchVectors.map(qv => (queries(qv), qv.map(mirror.nearest(_, K + 20)).toArray))
    texts = Array.fill(Batches)(s"w${rng.nextInt(Vocab)} w${rng.nextInt(Vocab)} w${rng.nextInt(Vocab)}")
    // one untimed call per read path: codegen, JIT and first-use caches
    val q = batches(0)._1
    warm(coll.packedQuery(q, K).collect())
    warm(coll.packedQuery(q, K, where = Some(Permissive)).collect())
    warm(coll.packedAnnQuery(q, K).collect())
    warm(coll.packedSqQuery(q, K).collect())
    warm(coll.packedPqQuery(q, K).collect())
    warm(coll.packedGraphQuery(q, K).collect())
    warm(coll.query(q, K).collect())
    warm(coll.hybridQuery(texts(0), K).collect())
  }

  def run(deadlineNs: Long): Unit = {
    val t0 = System.nanoTime()
    val readDeadline = t0 + ((deadlineNs - t0) * ReadShare).toLong
    var c = 0
    while (c < MinReadCycles || System.nanoTime() < readDeadline) { readCycle(c); c += 1 }
    var w = 0
    while (w == 0 || System.nanoTime() < deadlineNs) { writeCycle(w); w += 1 }
  }

  /** One read cycle: the six packed-tier batches over every query batch,
    * then one exact and one hybrid batch. The tier batches repeat because
    * each takes a few hundred ms and varies most from call to call. */
  private def readCycle(c: Int): Unit = {
    var cycle = 0.0
    def timed(span: String): Unit = cycle += lastMs(span)
    def tierTimed(span: String): Unit = {
      timed(span); tierQueries += BatchSize; tierSeconds += lastMs(span) / 1e3
    }
    for (b <- batches.indices) {
      val (q, truth) = batches(b)
      val corruptExact = Seq[(String, Ranked => Ranked)](
        "dropped neighbour" -> dropNeighbour(truth(0).last._1))
      def exactTier(span: String, result: => DataFrame): Unit =
        call(span)(ranked(result, BatchSize))(got =>
          ctx.check(s"$span ids", got, exactSets(K, truth), corruptExact))
      def tier(span: String, result: => DataFrame, floor: Double): Unit =
        call(span)(ranked(result, BatchSize)) { got =>
          recalls.getOrElseUpdate(span, mutable.ArrayBuffer()) += recallAt(K, truth, got)
          ctx.check(s"$span recall", got, recallFloor(K, truth, floor),
            Seq("neighbours of another query" -> (shiftQueries _)))
        }
      exactTier("packed_flat.query", coll.packedQuery(q, K))
      tierTimed("packed_flat.query")
      exactTier("packed_flat.query_filtered", coll.packedQuery(q, K, where = Some(Permissive)))
      tierTimed("packed_flat.query_filtered")
      tier("packed_ivf.query", coll.packedAnnQuery(q, K), IvfFloor)
      tierTimed("packed_ivf.query")
      tier("packed_sq.query", coll.packedSqQuery(q, K), SqFloor)
      tierTimed("packed_sq.query")
      // the PQ tier reranks its fetchK candidates with the exact double
      // kernel, so each returned distance is the true distance of its id
      call("packed_pq.query")(rankedDistances(coll.packedPqQuery(q, K), BatchSize)) { got =>
        val ids = got.map(_.map(_._1))
        recalls.getOrElseUpdate("packed_pq.query", mutable.ArrayBuffer()) += recallAt(K, truth, ids)
        val reranked = ctx.check("packed_pq.query reranked", got, exactRerank(batchVectors(b)),
          Seq("distance off by 1e-6" -> ((g: Array[Array[(String, Double)]]) =>
            g.map(r => r.map { case (id, d) => (id, d + 1e-6) }))))
        ctx.check("packed_pq.query recall", ids, recallFloor(K, truth, PqFloor),
          Seq("neighbours of another query" -> (shiftQueries _),
            "candidates at chance level" -> (chanceLevel(K, truth) _))) && reranked
      }
      tierTimed("packed_pq.query")
      tier("packed_graph.query", coll.packedGraphQuery(q, K), GraphFloor)
      tierTimed("packed_graph.query")
      if (b == c % batches.length) {
        exactTier("knn.query", coll.query(q, K))
        timed("knn.query")
      }
    }
    val live = mirror.contains _
    call("bm25.hybrid_query") {
      coll.hybridQuery(texts(c % texts.length), K).select("id", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1)))
    } { got =>
      ctx.check("bm25.hybrid_query contract", got, hybridContract(live),
        Seq("unsorted scores" -> ((g: Array[(String, Double)]) => g.sortBy(_._2)),
          "unknown id" -> ((g: Array[(String, Double)]) => ("x-none", 0.0) +: g.tail)))
    }
    timed("bm25.hybrid_query")
    readCycles += cycle / 1e3
  }

  /** Per query: k distinct ids in ascending distance, each distance the
    * exact cosine distance of its id. */
  private def exactRerank(vecs: Seq[Array[Float]])(got: Array[Array[(String, Double)]]): Option[String] =
    got.indices.iterator.map { q =>
      val g = got(q)
      if (g.length != K || g.map(_._1).distinct.length != K) Some(s"query $q: ${g.length} rows, expected $K distinct")
      else if (g.sliding(2).exists(p => p(0)._2 > p(1)._2)) Some(s"query $q: distances not ascending")
      else g.collectFirst {
        case (id, d) if !mirror.contains(id) || math.abs(mirror.distance(vecs(q), id) - d) > RerankEps =>
          s"query $q: $id at distance $d, exact ${if (mirror.contains(id)) mirror.distance(vecs(q), id) else "none"}"
      }
    }.collectFirst { case Some(m) => m }

  /** hybridQuery's contract: k distinct live ids, scores non-increasing. */
  private def hybridContract(live: String => Boolean)(got: Array[(String, Double)]): Option[String] =
    if (got.length != K) Some(s"${got.length} rows, expected $K")
    else if (got.map(_._1).distinct.length != K) Some("duplicate ids")
    else if (got.exists(r => !live(r._1))) Some(s"id ${got.find(r => !live(r._1)).get._1} not in the collection")
    else if (got.sliding(2).exists(p => p(0)._2 < p(1)._2)) Some("scores not in descending order")
    else None

  /** One read-after-write batch on the flat and IVF tiers: the first
    * `own.length` queries are just-written vectors that must find their
    * own id first; the flat tier must also equal brute force. */
  private def readAfterWrite(qv: Seq[Array[Float]], own: Array[String]): Double = {
    val q = queries(qv)
    val truth = qv.map(mirror.nearest(_, K + 20)).toArray
    val gone = deleted.toSet
    val someDeleted = deleted.headOption
    def corruptions = Seq[(String, Ranked => Ranked)]("own id not first" -> (swapFirstTwo _)) ++
      someDeleted.map(id => "deleted id resurrected" -> resurrect(id) _)
    call("packed_flat.rw_query")(ranked(coll.packedQuery(q, K), qv.length)) { got =>
      ctx.check("packed_flat.rw_query", got,
        allOf[Ranked](ownIdFirst(own), noneDeleted(gone), exactSets(K, truth)), corruptions)
    }
    call("packed_ivf.rw_query")(ranked(coll.packedAnnQuery(q, K), qv.length)) { got =>
      ctx.check("packed_ivf.rw_query", got,
        allOf[Ranked](ownIdFirst(own), noneDeleted(gone)), corruptions)
    }
    lastMs("packed_flat.rw_query") + lastMs("packed_ivf.rw_query")
  }

  private def writeCycle(w: Int): Unit = {
    var cycle = 0.0
    val fresh = () => Seq.fill(BatchSize - OwnQueries)(vector())

    val addIds = (0 until AddRows).map(i => f"a$w%04d_$i%04d")
    val addVecs = addIds.map(_ => vector())
    val addDf = rows(addIds, addVecs)
    call("client.add")(coll.add(addDf))(_ => true)
    cycle += lastMs("client.add")
    addIds.zip(addVecs).foreach { case (id, v) => mirror.put(id, v) }
    cycle += readAfterWrite(addVecs.take(OwnQueries) ++ fresh(), addIds.take(OwnQueries).toArray)

    val upIds = pickLive(UpsertRows)
    val upVecs = upIds.map(_ => vector())
    val upDf = rows(upIds, upVecs)
    call("client.upsert")(coll.upsert(upDf))(_ => true)
    cycle += lastMs("client.upsert")
    upIds.zip(upVecs).foreach { case (id, v) => mirror.put(id, v) }
    cycle += readAfterWrite(upVecs.take(OwnQueries) ++ fresh(), upIds.take(OwnQueries).toArray)

    val delIds = pickLive(DeleteRows)
    val delVecs = delIds.take(OwnQueries).map(mirror.vector)
    call("client.delete")(coll.delete(ids = delIds))(_ => true)
    cycle += lastMs("client.delete")
    delIds.foreach { id => mirror.remove(id); deleted += id }
    // queries at the deleted vectors: the nearest row is gone, so a stale
    // tier would return the deleted id first
    cycle += readAfterWrite(delVecs ++ fresh(), Array.empty)
    writeCycles += cycle / 1e3
  }

  private def pickLive(n: Int): Seq[String] = {
    val picked = mutable.LinkedHashSet[String]()
    val ids = mirror.ids
    while (picked.size < n) {
      val id = ids(rng.nextInt(ids.length))
      if (mirror.contains(id)) picked += id
    }
    picked.toSeq
  }

  def passSeconds: Double = Stats.median(readCycles.toSeq) + Stats.median(writeCycles.toSeq)

  def detail: Map[String, Any] = {
    val tierSpans = Seq("packed_flat.query", "packed_flat.query_filtered", "packed_ivf.query",
      "packed_sq.query", "packed_pq.query", "packed_graph.query")
    val knn = tierSpans.flatMap(msOf)
    val writes = Seq("client.add", "client.upsert", "client.delete").flatMap(msOf)
    val rw = Seq("packed_flat.rw_query", "packed_ivf.rw_query").flatMap(msOf)
    val (kt, kp, kn) = Stats.tail(knn)
    val (wt, wp, wn) = Stats.tail(writes)
    Map(
      "knn_qps" -> tierQueries / tierSeconds,
      "knn_p50_ms" -> Stats.median(knn), "knn_samples" -> kn,
      "knn_tail_ms" -> kt, "knn_tail_pct" -> kp,
      "exact_p50_ms" -> Stats.median(msOf("knn.query")),
      "hybrid_p50_ms" -> Stats.median(msOf("bm25.hybrid_query")),
      "recall_at_10" -> recalls.values.flatten.sum / recalls.values.map(_.length).sum,
      "recall_min_batch" -> recalls.map { case (t, rs) => t -> rs.min }.toMap,
      "write_p50_ms" -> Stats.median(writes), "write_samples" -> wn,
      "write_tail_ms" -> wt, "write_tail_pct" -> wp,
      "rw_knn_p50_ms" -> Stats.median(rw),
      "read_cycles" -> readCycles.length, "write_cycles" -> writeCycles.length,
      "rows" -> Rows, "live_rows_at_end" -> mirror.liveCount)
  }

  def gauges: Map[String, Double] = Map(
    "client.warm_start_rebuilds" -> coll.warmStartRebuilds.toDouble)
}

object CollectionWorkload {
  val Rows = 10000
  val Dim = 128
  val Clusters = 16
  val SubClusters = 16
  /** Half-widths of the uniform offsets of a sub-cluster centre from its
    * cluster centre and of a point from its sub-cluster centre, per dimension. */
  val SubSpread = 0.25
  val Noise = 0.4
  val K = 10
  val BatchSize = 20
  val Batches = 3
  val Vocab = 500
  val DocWords = 12
  val AddRows = 1000
  val UpsertRows = 500
  val DeleteRows = 500
  val OwnQueries = 10
  /** Share of the timed window spent in the read phase. */
  val ReadShare = 0.5
  /** Read cycles a run makes even when the window is shorter: the first
    * cycle still runs on a steep JIT warm-up slope, and a fixed count keeps
    * the call mix the same from run to run. */
  val MinReadCycles = 2
  /** Passes every row: exercises the filter path without changing truth. */
  val Permissive: Filter = Filter.Gte("bucket", 0)
  // recall@10 floors per 20-query batch, set under the lowest batches
  // measured (IVF 0.995, SQ 0.955, PQ 0.57, graph 0.995). The PQ query
  // probes 4 of 64 cells, about 625 rows, and reranks fetchK = 50 of them,
  // so candidates picked at random would give recall about 0.08
  val IvfFloor = 0.85
  val SqFloor = 0.85
  val PqFloor = 0.4
  val GraphFloor = 0.85
  /** Exact-kernel distances agree with the benchmark's to summation order. */
  val RerankEps = 1e-9
}
