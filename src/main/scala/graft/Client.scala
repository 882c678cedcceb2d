package graft

import graft.functions.Embedder
import graft.GraftCollection.Delta
import graft.operators.{Ann, Bm25, Dedup, Filter, Knn, ModelStore, PackedGraph, PackedKnn, PackedPq, PackedSq, Quantization}
import graft.sources.Collections
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ChromaDB-style client facade (reference fastpyvectordb/client.py) in
  * set-oriented form: every call takes/returns DataFrames, so "add 10M
  * docs" and "run 10K queries" are single distributed jobs instead of
  * client-side loops.
  *
  * Collection layout on disk = Collections (parquet + config.json).
  * Document schema: (id: string, document: string, embedding: array<float>,
  * plus arbitrary typed metadata columns).
  *
  * @param embedders provider registry by config name (reference
  *                  embeddings.py:157-371 exposes OpenAI/Cohere/Mock behind
  *                  one interface); collections record their provider name
  *                  and resolve it here on open, so add and query always
  *                  embed with the same provider
  */
final class GraftClient(val spark: SparkSession, root: String,
                        embedDim: Int = 64,
                        embedders: Map[String, Int => Embedder] = Embedder.builtin) {

  def createCollection(name: String, metric: String = "cosine",
                       dimensions: Int = 0,
                       embedder: String = "mock"): GraftCollection = {
    val dim = if (dimensions > 0) dimensions else embedDim
    require(embedders.contains(embedder),
      s"unknown embedder '$embedder'; registered: ${embedders.keys.mkString(", ")}")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      GraftCollection.baseSchema)
    Collections.save(empty, s"$root/$name",
      Collections.Config(name, dim, metric, embedder))
    getCollection(name)
  }

  def getCollection(name: String): GraftCollection = {
    val cfg = Collections.loadConfig(s"$root/$name")
    val mk = embedders.getOrElse(cfg.embedder, throw new IllegalArgumentException(
      s"collection '$name' uses embedder '${cfg.embedder}' which is not registered"))
    new GraftCollection(spark, s"$root/$name", cfg, mk(cfg.dimensions))
  }

  def getOrCreateCollection(name: String, metric: String = "cosine"): GraftCollection =
    if (listCollections.contains(name)) getCollection(name)
    else createCollection(name, metric)

  def listCollections: Seq[String] = Collections.list(root)

  def deleteCollection(name: String): Boolean = Collections.delete(root, name)
}

object GraftCollection {
  import org.apache.spark.sql.types._
  val baseSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("document", StringType, nullable = true),
    StructField("embedding", ArrayType(FloatType), nullable = true)))

  /** One write's delta, evaluated once: the appended generation (read
    * back from its own files, so the keyword delta and every tier hook
    * scan the batch, not the collection), the live ids it tombstones, the
    * (docs, summed doc length) those ids take out of the keyword index,
    * and whether it truncates. */
  private final case class Delta(rows: Option[DataFrame], dead: Seq[String],
                                 removed: (Long, Long) = (0L, 0L),
                                 truncate: Boolean = false)

  /** Is a sidecar warm-start failure a LOAD/FORMAT problem (recoverable:
    * warn + cold rebuild) or a genuine bug that must propagate? Load
    * problems surface as IO errors, Spark read/analysis errors (missing
    * files, schema drift), or the slab format's own `require` checks —
    * anything else (NPE, MatchError, ...) is a bug in the load path, and
    * swallowing it would silently pay a full cold pack on every open at
    * WARN level, forever (r12 verdict). */
  private[graft] def sidecarLoadRecoverable(e: Throwable): Boolean = e match {
    case _: java.io.IOException => true
    case _: org.apache.spark.sql.AnalysisException => true
    case _: IllegalArgumentException => true // slab-format require()s
    case _: IllegalStateException => true // corrupt slab invariants
    case se: org.apache.spark.SparkException =>
      // executor-side failures wrap the real cause — classify on it. On a
      // real cluster the cause may not survive deserialization back to
      // the driver (only its class name remains in the message string);
      // fall back to scanning the message for the recoverable marker
      // classes so a cluster-side load failure still triggers the cold
      // rebuild that local-mode testing exercises. NPE/MatchError names
      // in the message still propagate — they never match the list.
      if (se.getCause != null) sidecarLoadRecoverable(se.getCause)
      else {
        val msg = Option(se.getMessage).getOrElse("")
        Seq("java.io.IOException", "java.io.EOFException",
          "java.io.FileNotFoundException",
          "java.lang.IllegalArgumentException",
          "java.lang.IllegalStateException").exists(msg.contains)
      }
    case _ => false
  }
}

/** One named collection. Writes are merge-on-read: each add, upsert,
  * update or delete appends its batch as a new generation of data files
  * under `data/` and records replaced or deleted ids as tombstones
  * `(id, generation)`; no write rewrites the stored rows or the keyword
  * sidecar, so a write costs O(batch), not O(collection). A small
  * manifest (`_manifest`) is the commit point: files no manifest lists
  * are invisible. Reads are one parquet scan over the base and the
  * committed generations with the tombstones applied as an id filter, so
  * Catalyst still prunes and pushes down into them. [[optimize]] folds
  * the generations and tombstones back into one base.
  *
  * The documented limits: tombstones are held on the driver (as IN-list
  * literals of the read plan) until the next [[optimize]], and
  * `delete()` with no arguments truncates to an empty base — one
  * truncating generation that hides every earlier one — rather than
  * tombstoning every id. All text embedding — add-time corpus embedding
  * and query-time text embedding — flows through the collection's
  * configured [[Embedder]]. */
final class GraftCollection(spark: SparkSession, dir: String,
                            val config: Collections.Config,
                            val embedder: Embedder) {

  /** The live collection relation, cached per committed manifest: a
    * fresh read per access would pay listing work on EVERY call (visible
    * as a per-query job on the serving paths). Every commit — a write
    * through this handle or a foreign one, or a fold, which bumps the
    * manifest's layout counter — changes the manifest, so staleness
    * semantics are exactly the uncached ones. The manifest carries the
    * schema, so no read infers it. */
  @transient private var dfCache: (Option[String], DataFrame) = null
  def df: DataFrame = {
    val raw = Collections.readManifest(dir)
    if (dfCache == null || dfCache._1 != raw)
      dfCache = (raw, liveRows(raw).drop(Collections.GenCol))
    dfCache._2
  }

  private def dataRoot = s"$dir/data"
  private def tombDir = s"$dir/tombstones"

  /** The committed manifest; a collection written before manifests is a
    * bare base whose schema is read once from its files. */
  private def manifestOf(raw: Option[String]): Collections.Manifest =
    raw.map(Collections.Manifest.parse).getOrElse(Collections.Manifest(0L, 0L,
      { Collections.recoverSwap(dataRoot); spark.read.parquet(dataRoot).schema.json },
      Vector.empty))

  /** Tombstone ids per generation: committed files never change, so each
    * is read once per handle. */
  @transient private lazy val tombCache = scala.collection.mutable.HashMap[Long, Seq[Any]]()

  /** Base + committed generations with the tombstones applied, `_gen`
    * kept (the fold writes it through). No Spark job. */
  private def liveRows(raw: Option[String]): DataFrame = {
    Collections.recoverSwap(dataRoot)
    raw match {
      case None => spark.read.parquet(dataRoot)
      case Some(r) =>
        val m = Collections.Manifest.parse(r)
        val rows = Collections.readGenerations(spark, dataRoot,
          org.apache.spark.sql.types.DataType.fromJson(m.schema)
            .asInstanceOf[org.apache.spark.sql.types.StructType],
          m.gens.collect { case g if g.rows => g.gen })
        Collections.liveRows(rows, "id", m.gens.map(g => g -> (
          if (!g.tombstones) Nil
          else tombCache.getOrElseUpdate(g.gen,
            Collections.readIds(Collections.tombstonePath(tombDir, g.gen))))))
    }
  }

  /** Last committed write generation: the keyword sidecar accepts its
    * generations up to here (later ones belong to a write that crashed
    * before its commit). */
  private def committedGen: Long =
    Collections.readManifest(dir).map(Collections.Manifest.parse(_).committed).getOrElse(0L)

  def count(): Long = df.count()

  /** Embed any rows missing an embedding (client.py:97-159 embeds
    * documents on add), then append; duplicate ids are rejected like the
    * reference's insert. */
  def add(rows: DataFrame): Unit = {
    val (stored, incoming) = aligned(withEmbedding(rows))
    write(stored.schema) { gen =>
      // rows actually inserted = incoming minus existing ids (insert keeps
      // the stored row on conflict) — evaluated once, by the delta write
      Delta(Some(appendGeneration(gen, stored.schema,
        incoming.join(stored.select("id"), Seq("id"), "left_anti"))), Nil)
    }(d => packedAppend(d.rows.get))
  }

  /** add-or-replace by id (client.py:161-182). */
  def upsert(rows: DataFrame): Unit = replace(rows, insertMissing = true)

  /** [[upsert]] and [[update]]: one generation that tombstones the live
    * rows of the batch's ids and appends the batch — all of it, or for an
    * update only the rows whose id is live. */
  private def replace(rows: DataFrame, insertMissing: Boolean): Unit = {
    val (stored, incoming) = aligned(withEmbedding(rows))
    write(stored.schema) { gen =>
      val ids = incoming.select("id").collect().map(_.getString(0)).distinct.toSeq
      val live = liveLengths(stored.where(col("id").isin(ids: _*)))
      val batch = appendGeneration(gen, stored.schema,
        if (insertMissing) incoming
        else incoming.where(col("id").isin(live.map(_._1): _*)))
      Delta(Some(batch), live.map(_._1).distinct, removedTotals(live))
    }(d => packedReplace(d.rows.get))
  }

  /** Metadata columns = everything beyond the base schema; the reference
    * strips `_`-prefixed (internal) keys from results (client.py:253-259). */
  private def metadataCols: Seq[String] =
    df.columns.filterNot(Set("id", "document", "embedding"))
      .filterNot(_.startsWith("_")).toSeq

  /** Batch query (client.py:184-274): queries as a DataFrame of
    * (query_id, query_text | query_vec); texts are embedded with the
    * deterministic embedder. Returns (query_id, rank, id, document,
    * distance) — plus the embedding when includeVectors (client.py's
    * include_vectors, vectordb.py:434-451) and the non-internal metadata
    * columns when includeMetadata.
    *
    * The corpus is keyed by its natural string id throughout (no hash
    * surrogate — two distinct ids can never merge). */
  def query(queries: DataFrame, k: Int = 10,
            where: Option[Filter] = None,
            includeVectors: Boolean = false,
            includeMetadata: Boolean = false): DataFrame = {
    val q =
      if (queries.columns.contains("query_vec")) queries
      else embedder.embed(queries, "query_text", "query_vec")
    val hits = Knn.knnJoinStr(q.select(col("query_id"), col("query_vec")),
      df, k, config.metric, corpusId = "id", corpusVec = "embedding",
      filter = where)
    val extra = (if (includeVectors) Seq("embedding") else Nil) ++
      (if (includeMetadata) metadataCols else Nil)
    val side = df.select((Seq(col("id").as("neighbor_id"), col("document")) ++
      extra.map(col)): _*)
    hits.join(side, "neighbor_id")
      .select((Seq(col("query_id"), col("rank"), col("neighbor_id").as("id"),
        col("document"), col("dist").as("distance")) ++ extra.map(col)): _*)
  }

  // ------------------------------------------------ automatic route choice

  /** Route-size thresholds for [[autoQuery]] (rows). Public so deployments
    * (and specs) can tune them to their executor shapes; the defaults
    * assume the local[32]/128d sweep measurements — an approximate tier
    * only beats the flat resident scan once cells are big enough to
    * amortize probe pruning, and ANY index only beats the exact scan once
    * the corpus dwarfs the per-job scheduling floor. */
  var autoRouteFlatRows: Long = 8192L      // below: exact scan wins on job floor
  var autoRouteIvfRows: Long = 131072L     // above: probe pruning pays
  var autoRoutePqRows: Long = 524288L      // above: code tier beats float slabs
  /** Probe budget the auto router passes to the approximate tiers. */
  var autoRouteNProbe: Int = 4
  /** Resident-bytes budget the router assumes for the float tiers.
    * Long.MaxValue (default) = unbounded: the float tiers always outrank
    * the SQ8 byte tier, which the sweep shows SLOWER at every shape
    * (its 4x-smaller codes are a footprint win, not a latency win). Set
    * a finite budget to let the router pick SQ8 once the float slabs
    * (n * dim * 4 bytes) no longer fit — the route reason says so. */
  var autoRouteMemoryBudgetBytes: Long = Long.MaxValue
  /** The route [[autoQuery]] chose last, for audit/tests: one of
    * exact | packed | packed_graph | packed_ivf | packed_pq | packed_sq. */
  @transient private var lastRoute: Option[String] = None
  def lastAutoRoute: Option[String] = lastRoute

  /** Corpus row count, one job per mutation stamp (the router's inputs
    * must not cost a corpus scan per query call). */
  @transient private var countCache: (Long, Long) = (-1L, -1L)
  private def corpusRows: Long = {
    val stamp = Collections.readMutationCount(spark, dir)
    if (countCache._1 != stamp) countCache = (stamp, df.count())
    countCache._2
  }

  /** Filter pass-count, ONE pushdown job per (filter fingerprint,
    * mutation stamp) — [[corpusRows]]'s caching stance for the router's
    * selectivity input: at 100 TB an uncached per-call count() would pay
    * a corpus scan before the query even routes (the reference's own
    * strategy pick is O(1) on cached sizes, vectordb_optimized.py:650-657).
    * The fingerprint is the Filter ADT's structural toString (case-class
    * trees print canonically); bounded LRU so a pathological stream of
    * distinct filters cannot grow the driver map. */
  @transient private lazy val selectivityCache =
    new java.util.LinkedHashMap[(String, Long), java.lang.Long](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), java.lang.Long]): Boolean =
        size() > 256
    }
  private def filterPassRows(f: Filter, stamp: Long): Long = {
    val key = (f.toString, stamp)
    val cached = selectivityCache.get(key)
    if (cached != null) cached.longValue()
    else {
      val n = df.where(coalesce(f.compile, lit(false))).count()
      selectivityCache.put(key, java.lang.Long.valueOf(n))
      n
    }
  }

  /** [[query]] with AUTOMATIC engine selection — the reference auto-picks
    * its search strategy by corpus size and batch shape
    * (vectordb_optimized.py:650-657 brute-force-vs-index threshold;
    * parallel_search.py:895-947 strategy selection); here the decision
    * weighs corpus size, k, filter selectivity, and which index tiers
    * are actually available to THIS handle (resident, warm-startable
    * sidecar, or persisted model), and is logged + exposed via
    * [[lastAutoRoute]]. Output is always the common
    * (query_id, rank, id, document, distance) shape.
    *
    * Decision order (first match wins):
    *  1. includeVectors/includeMetadata → exact (side columns live there).
    *  2. k×4 ≥ corpus → exact (any index over-fetches the whole corpus).
    *  3. filtered: a pushdown count estimates selectivity — cached per
    *     (filter fingerprint, mutation stamp) via [[filterPassRows]], so
    *     repeated filtered calls never re-scan; a selective filter (pass
    *     fraction < 1/overfetch) routes exact — any over-fetch page would
    *     underfill and fall back per query anyway; a permissive filter
    *     routes to the graph tier when one is built (≥
    *     [[autoRouteIvfRows]]; the reference's own filtered traffic rides
    *     its HNSW index through the same over-fetch pattern,
    *     vectordb.py:519-559, and [[packedGraphQuery]]'s bounded exact
    *     fallback keeps every query k-filled), else to the flat packed
    *     tier, whose filtered contract is exact-membership.
    *  4. unfiltered, by size: PQ codes ≥ [[autoRoutePqRows]]; the SQ8
    *     byte tier when PQ is absent AND either the float slabs exceed
    *     [[autoRouteMemoryBudgetBytes]] (footprint justifies the exact
    *     byte kernel despite its latency) or — checked after the faster
    *     graph/cell tiers — [[sqKernelDomain]] is "int" (the
    *     integer-domain kernel beats the flat scan outright at these
    *     sizes: sweep 1.92 vs 2.47 ms/q at 1M, recall unchanged);
    *     graph walk then cell-probed float ≥ [[autoRouteIvfRows]]
    *     (the graph tier outranks the flat cell scan when already built —
    *     better recall at matched ms/q), flat resident ≥
    *     [[autoRouteFlatRows]], exact below. Each tier is considered only
    *     when available — availability never triggers model TRAINING or
    *     graph CONSTRUCTION (packing an index from an existing model or
    *     sidecar is one corpus pass and allowed; silently fitting
    *     quantizers or inserting a graph inside a query is not). */
  def autoQuery(queries: DataFrame, k: Int = 10,
                where: Option[Filter] = None,
                includeVectors: Boolean = false,
                includeMetadata: Boolean = false): DataFrame = {
    val n = corpusRows
    val ivfAvail = packedIvfIdx.nonEmpty ||
      PackedKnn.ivfSlabsExist(spark, packedIvfDir) || hasVectorIndex
    // mirror sqAvail: the cold pack requires BOTH the quantizer and the
    // coarse model — a PQ model trained without a vector index must fall
    // through to a servable tier, not route here and throw
    val pqAvail = packedPqIdx.nonEmpty ||
      PackedPq.slabsExist(spark, packedPqDir) ||
      (ModelStore.exists(pqModelDir) && hasVectorIndex)
    val sqAvail = packedSqIdx.nonEmpty ||
      (ModelStore.exists(sqModelDir) && hasVectorIndex)
    // the graph tier routes only when already BUILT (resident or warm
    // sidecar): its cold build is a sequential per-cell insertion pass —
    // index construction, not something to pay silently inside a query
    val graphAvail = packedGraphIdx.nonEmpty ||
      PackedGraph.slabsExist(spark, packedGraphDir)
    val (route, reason) =
      if (includeVectors || includeMetadata)
        ("exact", "side columns requested")
      else if (k.toLong * PackedFilterOverFetch >= n)
        ("exact", s"k=$k within overfetch of corpus n=$n")
      else where match {
        case Some(f) =>
          val passing = filterPassRows(f,
            Collections.readMutationCount(spark, dir))
          val sel = passing.toDouble / math.max(n, 1L)
          if (sel * PackedFilterOverFetch < 1.0)
            ("exact", f"selective filter (pass fraction $sel%.3f)")
          // the reference serves filtered traffic through its graph index
          // with the same over-fetch (vectordb.py:519-559); the bounded
          // exact fallback in packedGraphQuery keeps every query k-filled
          else if (n >= autoRouteIvfRows && graphAvail)
            ("packed_graph", f"permissive filter (pass fraction $sel%.3f), graph tier")
          else if (n >= autoRouteFlatRows)
            ("packed", f"permissive filter (pass fraction $sel%.3f), flat tier")
          else ("exact", s"n=$n under autoRouteFlatRows=$autoRouteFlatRows")
        case None =>
          // SQ8 is a FOOTPRINT tier, not a latency tier (the sweep shows
          // the float scan faster at every shape): route to it only when
          // the float slabs exceed the declared resident budget
          val floatBytes = n * config.dimensions.toLong * 4L
          if (n >= autoRoutePqRows && pqAvail) ("packed_pq", s"n=$n, code tier")
          else if (n >= autoRoutePqRows && sqAvail &&
              floatBytes > autoRouteMemoryBudgetBytes)
            ("packed_sq", s"n=$n, byte tier: float slabs ~$floatBytes B " +
              s"exceed memory budget $autoRouteMemoryBudgetBytes B")
          // graph beats the flat cell scan's recall at matched ms/q
          // (RecallFloorSpec), so it outranks packed_ivf when built
          else if (n >= autoRouteIvfRows && graphAvail)
            ("packed_graph", s"n=$n, graph tier")
          else if (n >= autoRouteIvfRows && ivfAvail) ("packed_ivf", s"n=$n, cell-probed tier")
          // the int-domain byte tier EARNS latency (sweep: 1.92 vs the
          // flat scan's 2.47 ms/q at 1M, recall unchanged), so when the
          // deployment opted into the int kernel it outranks the flat
          // scan on corpora big enough for the win — without the memory
          // budget that gates the exact byte kernel above
          else if (n >= autoRoutePqRows && sqAvail && sqKernelDomain == "int")
            ("packed_sq", s"n=$n, byte tier: int kernel beats the flat scan")
          // the flat tier needs no trained model — packedQuery packs on
          // first use, so above the floor it is always routable
          else if (n >= autoRouteFlatRows) ("packed", s"n=$n, flat resident scan")
          else ("exact", s"n=$n under autoRouteFlatRows=$autoRouteFlatRows")
      }
    lastRoute = Some(route)
    org.slf4j.LoggerFactory.getLogger(classOf[GraftCollection]).info(
      s"autoQuery('${config.name}') routed to $route: $reason")
    route match {
      case "packed" => packedQuery(queries, k, where)
      case "packed_graph" => packedGraphQuery(queries, k, autoRouteNProbe,
        where = where)
      case "packed_ivf" => packedAnnQuery(queries, k, autoRouteNProbe)
      case "packed_pq" => packedPqQuery(queries, k, autoRouteNProbe)
      case "packed_sq" => packedSqQuery(queries, k, autoRouteNProbe)
      case _ => query(queries, k, where, includeVectors, includeMetadata)
    }
  }

  /** Hybrid vector+keyword search over the collection (the reference's
    * hybrid_search, hybrid_search.py:360-477): BM25 over the document
    * column fused with vector similarity at fetch_k = 5*k, alpha-weighted
    * after per-set max-normalization. One query text per call (the BM25
    * side is a scalar query); vector side comes from the same text through
    * the collection's embedder.
    *
    * @param where optional metadata filter. Applied BEFORE both candidate
    *              fetches (vector side pre-join, BM25 corpus pre-index) —
    *              stricter than the reference, which post-filters its
    *              unfiltered fetch_k candidates (hybrid_search.py:455-460)
    *              and so can silently return fewer than k rows; the
    *              pre-filter also pushes down to the parquet scan.
    * @param vectorWeight / keywordWeight explicit weights — when both are
    *              set they override alpha as vw/(vw+kw)
    *              (hybrid_search.py:393-396).
    */
  def hybridQuery(queryText: String, k: Int = 10,
                  alpha: Double = 0.5,
                  where: Option[Filter] = None,
                  vectorWeight: Option[Double] = None,
                  keywordWeight: Option[Double] = None,
                  includeVectors: Boolean = false): DataFrame = {
    val fetchK = k * 5
    val effAlpha = (vectorWeight, keywordWeight) match {
      case (Some(vw), Some(kw)) if vw + kw > 0 => vw / (vw + kw)
      case (Some(_), Some(_)) => 0.5
      case _ => alpha
    }
    val (vecCand, kwCand) = hybridCandidates(queryText, fetchK, where)
    val extra = if (includeVectors) Seq("embedding") else Nil
    val side = df.select((Seq(col("id").as("doc_id"), col("document")) ++
      extra.map(col)): _*)
    Bm25.hybridFuse(vecCand, kwCand, k, effAlpha)
      .join(side, "doc_id")
      .select((Seq(col("doc_id").as("id"), col("document"), col("score"),
        col("vector_score"), col("keyword_score")) ++ extra.map(col)): _*)
      .orderBy(desc("score"), col("id"))
  }

  /** Rank-based hybrid twin of [[hybridQuery]]: reciprocal-rank fusion
    * over the same candidate lists — no score normalization, immune to
    * scale mismatch between the two evidence channels. */
  def hybridQueryRrf(queryText: String, k: Int = 10, k0: Int = 60,
                     where: Option[Filter] = None): DataFrame = {
    val (vecCand, kwCand) = hybridCandidates(queryText, k * 5, where)
    Bm25.rrfFuse(vecCand, kwCand, k, k0)
      .join(df.select(col("id").as("doc_id"), col("document")), "doc_id")
      .select(col("doc_id").as("id"), col("document"),
        col("rrf_score").as("score"), col("vec_rank"), col("kw_rank"))
      .orderBy(desc("score"), col("id"))
  }

  /** Shared candidate fetch for the hybrid fusion modes: top-fetchK
    * vector candidates + top-fetchK BM25 candidates. The keyword side
    * reads the persisted sidecar when present (no re-tokenization per
    * query; a metadata filter restricts the slim relations by semi-join —
    * identical values to indexing the filtered corpus), else indexes on
    * the fly. */
  private def hybridCandidates(queryText: String, fetchK: Int,
                               where: Option[Filter]): (DataFrame, DataFrame) = {
    val base = where.map(f => df.where(f.compile)).getOrElse(df)
    val qvec = embedder.embed(
        spark.range(1).select(lit(queryText).as("_qtext"), lit(0L).as("query_id")),
        "_qtext", "query_vec")
      .select(col("query_vec"), col("query_id"))
    val vecCand = Knn.knnJoinStr(qvec, base, fetchK, config.metric,
        corpusId = "id", corpusVec = "embedding")
      .select(col("neighbor_id").as("doc_id"), col("dist"))
    val idx =
      if (hasKeywordIndex) {
        val full = keywordIndex
        if (where.isDefined) Bm25.restrict(full, base.select("id")) else full
      } else
        Bm25.buildIndex(base.where(col("document").isNotNull), "id", "document")
    val kwCand0 = Bm25.score(idx, queryText)
      .withColumn("_r", round(col("score"), 6))
      .orderBy(desc("_r"), col("doc_id")).limit(fetchK).drop("_r")
    // An on-the-fly index is released as soon as the (tiny, <= fetchK-row)
    // candidate list has materialized from it — a serving session must
    // not accumulate corpus-sized checkpoint blocks per query (r15,
    // guide §5). Sidecar-backed indexes hold no blocks; their lazy
    // candidate frame is unchanged.
    val kwCand =
      if (idx.materialized) {
        val mat = kwCand0.localCheckpoint(eager = true)
        idx.release()
        mat
      } else kwCand0
    (vecCand, kwCand)
  }

  /** get by ids and/or metadata filter (client.py:276-355). */
  def get(ids: Seq[String] = Nil, where: Option[Filter] = None,
          limit: Int = Int.MaxValue): DataFrame = {
    val base = if (ids.nonEmpty) df.where(col("id").isin(ids: _*)) else df
    where.map(f => base.where(f.compile)).getOrElse(base).limit(limit)
  }

  /** update existing rows by id (client.py:357-394); missing ids ignored. */
  def update(rows: DataFrame): Unit = replace(rows, insertMissing = false)

  /** delete by ids or filter (client.py:396-429). */
  def delete(ids: Seq[String] = Nil, where: Option[Filter] = None): Unit = {
    val hit = (ids, where) match {
      case (Nil, None) => None
      case (is, None) => Some(col("id").isin(is: _*))
      case (Nil, Some(f)) => Some(coalesce(f.compile, lit(false)))
      case (is, Some(f)) => Some(col("id").isin(is: _*) || coalesce(f.compile, lit(false)))
    }
    val stored = df
    write(stored.schema) { _ =>
      hit match {
        case None => Delta(None, Nil, truncate = true)
        case Some(p) =>
          val live = liveLengths(stored.where(p))
          Delta(None, live.map(_._1).distinct, removedTotals(live))
      }
    } { d =>
      import spark.implicits._
      packedRemove(if (d.truncate) stored.select("id") else d.dead.toDF("id"))
    }
  }

  /** peek(limit) (client.py:431-436). */
  def peek(limit: Int = 10): DataFrame = df.orderBy("id").limit(limit)

  /** list_ids(limit, offset) (vectordb.py:583-586), in deterministic id
    * order (the reference pages its insertion-ordered dict; a distributed
    * corpus has no insertion order, so id order is the stable analog —
    * the q6 pagination contract). Driver-sized by construction. */
  def listIds(limit: Int = 100, offset: Int = 0): Seq[String] =
    df.select(col("id")).orderBy("id").offset(offset).limit(limit)
      .collect().map(_.getString(0)).toSeq

  // --------------------------------------------- training-data pipeline ops

  /** Near-duplicate clusters over this collection's documents:
    * (doc_id, cluster_id) via banded MinHash pairs -> connected
    * components. */
  def dedupClusters(threshold: Double = 0.5): DataFrame =
    Dedup.duplicateClusters(
      Dedup.minhashLsh(df.where(col("document").isNotNull),
        "id", "document", threshold = threshold))

  /** Documents of this collection that near-duplicate any doc of
    * `evalDocs` (benchmark contamination): (train_id, eval_id, jaccard). */
  def decontaminate(evalDocs: DataFrame, evalId: String, evalText: String,
                    threshold: Double = 0.5): DataFrame =
    Dedup.decontaminate(
      df.where(col("document").isNotNull).select(col("id"), col("document")),
      evalDocs.select(col(evalId).as("id"), col(evalText).as("document")),
      "id", "document", threshold = threshold)

  /** Deterministic mixture sample of this collection keyed on a metadata
    * column (rates per value, hash-threshold Bernoulli). */
  def sampleMixture(groupCol: String, rates: Map[String, Double],
                    defaultRate: Double = 1.0): DataFrame =
    graft.operators.Sampling.stratifiedSample(df, groupCol, "id", rates, defaultRate)

  /** End-to-end corpus preparation (operators.Pipeline): language gate,
    * quality floor, PII redaction, exact + near dedup, decontamination,
    * mixture sampling, shard assignment — one declarative plan over this
    * collection's documents, with optional observe()-based per-stage
    * survivor counts (one pass, no per-stage jobs). */
  def prepareTrainingData(spec: graft.operators.PipelineSpec,
                          audit: Boolean = false): graft.operators.PipelineResult =
    graft.operators.Pipeline.prepare(df, "id", "document", spec, audit)

  /** [[prepareTrainingData]] + durable export: shards land as one
    * parquet directory per shard, rows in deterministic shuffle order —
    * the layout a training loader streams sequentially, shard-parallel
    * across readers. Returns per-shard row counts. */
  def exportTrainingData(spec: graft.operators.PipelineSpec,
                         outDir: String, format: String = "parquet"): DataFrame = {
    require(spec.numShards > 0, "exportTrainingData needs numShards > 0")
    val prepared = prepareTrainingData(spec)
    try graft.operators.Pipeline.writeShards(prepared.data, outDir, format)
    finally prepared.release()
    (if (format == "json") spark.read.json(outDir)
     else spark.read.parquet(outDir)).groupBy("shard")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_rows"))
      .orderBy("shard")
  }

  /** Top-k TF-IDF keywords per document (search/cluster fingerprints).
    * Reads the persisted sidecar when one exists — no re-tokenization —
    * mirroring [[hybridQuery]]'s index reuse. */
  def keywords(topK: Int = 5): DataFrame = {
    val idx =
      if (hasKeywordIndex) keywordIndex
      else Bm25.buildIndex(df.where(col("document").isNotNull), "id", "document")
    val out = Bm25.tfidfKeywords(idx, topK)
    // release the on-the-fly index once the keyword table has
    // materialized from it (nDocs*topK slim rows — the checkpoint is the
    // action the caller pays anyway)
    if (idx.materialized) {
      val mat = out.localCheckpoint(eager = true)
      idx.release()
      mat
    } else out
  }

  /** Per-document quality signals: the composite heuristic score plus the
    * Gopher-style repetition battery (dup-line/dup-trigram fractions, top
    * bigram coverage). */
  def qualitySignals(): DataFrame = {
    val base = df.where(col("document").isNotNull)
    graft.functions.TextAnalysis.repetitionSignals(base, "id", "document")
      .join(base.select(col("id"),
        graft.functions.TextAnalysis.qualityScore(col("document")).as("quality")),
        Seq("id"))
  }

  /** PII scan + redaction: per-doc email/IPv4/phone counts and the
    * redacted document text. */
  def piiScan(): DataFrame = {
    import graft.functions.TextAnalysis._
    df.where(col("document").isNotNull)
      .select(col("id"),
        emailCount(col("document")).as("n_emails"),
        ipv4Count(col("document")).as("n_ips"),
        phoneCount(col("document")).as("n_phones"),
        redactPii(col("document")).as("redacted"))
  }

  /** Fraction of each eval document's n-gram shingles present anywhere in
    * this collection (training-set membership / contamination check). */
  def contamination(evalDocs: DataFrame, evalId: String, evalText: String,
                    shingleN: Int = 3): DataFrame =
    Dedup.contaminationOverlap(
      df.where(col("document").isNotNull).select(col("id"), col("document")),
      evalDocs.select(col(evalId).as("id"), col(evalText).as("document")),
      "id", "document", shingleN)

  /** Deterministic shuffle-shard layout for exporting this collection as
    * training shards (reproducible shard + in-shard position per doc). */
  def exportShards(numShards: Int): DataFrame =
    graft.operators.Sampling.shuffleShards(df, "id", numShards)

  /** Exact heavy-hitter terms across this collection's documents (terms
    * with >= minCount occurrences), Count-Min-prefiltered so the shuffle
    * never carries the vocabulary tail. */
  def heavyTerms(minCount: Long): DataFrame =
    graft.operators.Sampling.heavyHitters(
      df.where(col("document").isNotNull)
        .select(explode(Bm25.tokenize(col("document"))).as("term")),
      "term", minCount)

  /** Distribution drift of each metadata group's token mix against the
    * whole collection: (group, kl) with KL(group || corpus). */
  def sourceDrift(groupCol: String): DataFrame =
    graft.operators.Sampling.klDivergence(
      df.where(col("document").isNotNull)
        .select(col(groupCol), explode(Bm25.tokenize(col("document"))).as("term")),
      groupCol, "term")

  /** Cross-document duplicate n-gram SPANS in this collection: per doc,
    * the merged passages covered by n-grams shared with other docs
    * (ExactSubstr-style localization — cut the span, keep the doc). */
  /** Per-doc duplication fraction (share of distinct n-grams found in
    * other docs — the Lee'22 doc-drop signal; see Dedup.dupNgramFraction). */
  def dupFraction(n: Int = 5): DataFrame =
    Dedup.dupNgramFraction(df.where(col("document").isNotNull),
      "id", "document", n)

  def dupSpans(n: Int = 5): DataFrame =
    Dedup.dupNgramSpans(df.where(col("document").isNotNull), "id", "document", n)

  /** DSIR importance weight of every document against a target corpus
    * (hashed-unigram bucket LM log-ratio; higher = more target-like). */
  def importanceWeights(target: DataFrame, targetText: String,
                        buckets: Int = 1024): DataFrame =
    graft.operators.Sampling.importanceWeights(
      df.where(col("document").isNotNull),
      target.select(col(targetText).as("document"))
        .withColumn("id", monotonically_increasing_id()),
      "id", "document", buckets)

  /** Deterministic stratified train/val/test assignment keyed on a
    * metadata column (per-stratum 80/10/10 by portable hash). */
  def assignSplits(strataCol: String, trainPct: Int = 80,
                   valPct: Int = 10): DataFrame =
    graft.operators.Sampling.assignSplits(df, "id", strataCol, trainPct, valPct)

  /** One-call corpus dashboard: doc/token totals, mean heuristic quality,
    * language mix, exact-duplicate share (operators.CorpusReport). */
  def profile(langCol: String = "lang"): DataFrame =
    graft.operators.CorpusReport.profile(df, "id", "document", langCol)

  /** Rebuild every NON-NULL document with corpus-widely duplicated lines
    * stripped (nav/cookie/footer boilerplate — Dedup.stripBoilerplate);
    * emptied docs come back with empty text for the caller's drop policy.
    * Returns (id, document) only — null-document rows are excluded and
    * metadata columns re-join by id if needed. */
  def stripBoilerplate(minDocs: Int = 2): DataFrame =
    Dedup.stripBoilerplate(
      df.where(col("document").isNotNull).select(col("id"), col("document")),
      "id", "document", minDocs)

  /** Train the learned quality filter from positive/negative seed doc
    * sets (operators.QualityClassifier — FineWeb-Edu/DCLM shape). */
  def trainQualityClassifier(pos: DataFrame, neg: DataFrame,
                             textCol: String = "document",
                             buckets: Int = 1024): graft.operators.QualityClassifier.LrModel =
    graft.operators.QualityClassifier.train(pos, neg, textCol, buckets)

  /** Score every document with a trained quality classifier:
    * (id, n_tokens, score). */
  def scoreQuality(model: graft.operators.QualityClassifier.LrModel): DataFrame =
    graft.operators.QualityClassifier.score(
      df.where(col("document").isNotNull), model, "id", "document")

  private def lmModelDir = s"$dir/model_lm"

  /** Fit and persist the bigram LM for perplexity-based quality scoring
    * (CCNet stance: fit on a trusted slice, score everything). The count
    * tables persist as a parquet sidecar — at 100 TB vocabulary they are
    * relations, not broadcastable models. */
  def trainLmModel(where: Option[Filter] = None, alpha: Double = 0.5): Unit = {
    val slice = where.map(f => df.where(coalesce(f.compile, lit(false)))).getOrElse(df)
    graft.operators.NgramLm.save(
      graft.operators.NgramLm.fit(
        slice.where(col("document").isNotNull), "document", alpha),
      lmModelDir)
  }

  def hasLmModel: Boolean = graft.operators.NgramLm.exists(spark, lmModelDir)

  /** Score every document against the persisted bigram LM:
    * (id, n_bigrams, avg_logp, ppl). Docs with < 2 tokens are absent
    * (no LM evidence). */
  def perplexityScores(): DataFrame = {
    require(hasLmModel,
      s"collection '${config.name}' has no LM model; run trainLmModel() first")
    graft.operators.NgramLm.crossEntropy(
      df.where(col("document").isNotNull),
      graft.operators.NgramLm.load(spark, lmModelDir), "id", "document")
  }

  /** Contrastive hard negatives against this collection: for each anchor
    * row of `anchors` (query_id, query_vec|query_text, query_label), the
    * k nearest docs whose `labelCol` differs from the anchor's label
    * (Knn.hardNegatives; the exclusion is per-anchor). */
  def hardNegatives(anchors: DataFrame, k: Int = 10,
                    labelCol: String = "label"): DataFrame = {
    val q =
      if (anchors.columns.contains("query_vec")) anchors
      else embedder.embed(anchors, "query_text", "query_vec")
    val topk = Knn.hardNegativesStr(
      q.select(col("query_id"), col("query_vec"), col("query_label")),
      df.where(col("embedding").isNotNull), k, config.metric,
      corpusId = "id", corpusVec = "embedding", corpusLabel = labelCol)
    topk.join(df.select(col("id").as("neighbor_id"), col("document")), "neighbor_id")
      .select(col("query_id"), col("rank"), col("neighbor_id").as("id"),
        col("document"), col("dist").as("distance"))
  }

  /** Curriculum export order: easy-first within each group, groups
    * interleaved round-robin (computed position — no global sort). */
  def curriculum(groupCol: String, difficultyCol: String): DataFrame =
    graft.operators.Sampling.curriculumInterleave(df, "id", groupCol, difficultyCol)

  private def withEmbedding(rows: DataFrame): DataFrame = {
    val withDoc =
      if (rows.columns.contains("document")) rows
      else rows.withColumn("document", lit(null).cast("string"))
    val embedded = embedder.embed(withDoc, "document", "_emb")
    (if (withDoc.columns.contains("embedding"))
       // rows that arrive with a vector keep it; only the rest embed
       embedded.withColumn("embedding",
         coalesce(col("embedding").cast("array<float>"),
           col("_emb").cast("array<float>")))
     else
       embedded.withColumn("embedding", col("_emb").cast("array<float>")))
      .drop("_emb")
      // normalize column order (a batched embedder's join may reorder)
      .select(withDoc.columns.filterNot(_ == "embedding").map(col).toSeq
        :+ col("embedding"): _*)
  }

  /** Align both sides to the union of their schemas (new metadata columns
    * appear as nulls on old rows — schemaless-metadata semantics). */
  private def aligned(incoming: DataFrame): (DataFrame, DataFrame) = {
    val stored = df
    val storedPlus = incoming.schema.fields
      .filterNot(f => stored.columns.contains(f.name))
      .foldLeft(stored)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    // a stored column keeps its type: every generation is read with the
    // one committed schema
    val incomingPlus = stored.schema.fields.foldLeft(incoming) { (d, f) =>
      if (!incoming.columns.contains(f.name)) d.withColumn(f.name, lit(null).cast(f.dataType))
      else if (incoming.schema(f.name).dataType != f.dataType)
        d.withColumn(f.name, col(f.name).cast(f.dataType))
      else d
    }
    (storedPlus, incomingPlus)
  }

  /** Write `rows` as data generation `gen`; returns them read back. */
  private def appendGeneration(gen: Long, schema: org.apache.spark.sql.types.StructType,
                               rows: DataFrame): DataFrame = {
    rows.withColumn(Collections.GenCol, lit(gen)).write.mode("overwrite")
      .parquet(Collections.genDir(dataRoot, gen))
    Collections.readGenerations(spark, dataRoot, schema, Seq(gen), withBase = false)
      .drop(Collections.GenCol)
  }

  /** (id, keyword doc length — None for a null document) of live rows,
    * collected in one job; lengths only when a keyword index needs them. */
  private def liveLengths(rows: DataFrame): Seq[(String, Option[Int])] = {
    val len =
      if (hasKeywordIndex)
        when(col("document").isNotNull, size(Bm25.tokenize(col("document"))))
      else lit(null).cast("int")
    rows.select(col("id"), len).collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSeq
  }

  private def removedTotals(live: Seq[(String, Option[Int])]): (Long, Long) =
    (live.count(_._2.isDefined).toLong, live.flatMap(_._2).map(_.toLong).sum)

  /** Commit one merge-on-read write. The steps, and what a fresh handle
    * sees after a crash at each:
    *  1. `stage` writes the generation's rows (`data/_g<gen>`); then the
    *     tombstone file and the keyword-sidecar delta are written. None of
    *     it is visible — the manifest does not list the generation, and
    *     the sidecar accepts generations up to the manifest's `committed`
    *     only. Old state.
    *  2. `maintain` deltas the resident tiers: THIS handle's memory, so a
    *     crash leaves nothing on disk. Old state.
    *  3. The slab sidecars are dropped — a point-in-time snapshot any
    *     mutation makes stale: dropped BEFORE the commit, a crash costs a
    *     cold rebuild (lost warm start, correct results); dropped after,
    *     new data would coexist with a stale sidecar a later session
    *     warm-starts from. Old state. Re-save after bulk CRUD with
    *     saveResidentIndex().
    *  4. The mutation stamp is bumped, also before the commit: a crash
    *     errs toward FALSE-stale (counter moved, data unchanged — a
    *     spurious rebuild), never toward another handle serving stale
    *     resident results undetected. Old state.
    *  5. The manifest is written (tmp + rename): the commit point. New
    *     state.
    * The next write sweeps what a crashed one left; a generation number
    * a crash left unused is simply skipped. Concurrent writers need an
    * external coordinator, as before: the manifest is last-writer-wins. */
  private def write(schema: org.apache.spark.sql.types.StructType)(
      stage: Long => Delta)(maintain: Delta => Unit): Unit = {
    val m = manifestOf(Collections.readManifest(dir))
    Collections.sweepGenerations(dataRoot, tombDir, m.gens.map(_.gen).toSet)
    val gen = (Collections.readMutationCount(spark, dir) +: m.committed +:
      m.gens.map(_.gen)).max + 1
    packedMaintained = false
    graphMaintained = false
    val d = stage(gen)
    if (d.dead.nonEmpty)
      Collections.writeIds(Collections.tombstonePath(tombDir, gen), d.dead)
    if (hasKeywordIndex) keywordDelta(gen, d, m.committed)
    writeStep("delta")
    maintain(d)
    writeStep("tiers")
    dropSlabSidecars()
    writeStep("sidecar_drop")
    val stamp = Collections.bumpMutationCount(spark, dir)
    writeStep("stamp")
    Collections.writeManifest(dir, m.copy(committed = gen, schema = schema.json,
      gens = m.gens :+ Collections.Generation(gen, d.rows.isDefined,
        d.dead.nonEmpty, d.truncate)))
    writeStep("manifest")
    if (!packedMaintained) releasePackedIndex()
    else {
      // THIS handle's resident state was delta-maintained in the same
      // commit, so it is exactly as fresh as the new counter value
      if (packedIdx.isDefined) packedStamp = stamp
      if (packedIvfIdx.isDefined) packedIvfStamp = stamp
      if (packedPqIdx.isDefined) packedPqStamp = stamp
      if (packedSqIdx.isDefined) packedSqStamp = stamp
    }
    // the graph tier delta-maintains all CRUD through this handle
    // (append = native insertion, delete = mark-deleted tombstones,
    // replace = both); anything NOT maintained this commit releases it
    if (graphMaintained) { if (packedGraphIdx.isDefined) packedGraphStamp = stamp }
    else { packedGraphIdx.foreach(_.unpersist()); packedGraphIdx = None }
  }

  /** Called after each step of a write with the step's name (see
    * [[write]]); a spec throws from it to stop a write at that step. */
  @transient private[graft] var writeStep: String => Unit = _ => ()

  @transient private var packedMaintained = false
  @transient private var graphMaintained = false

  /** Append-only packed-index delta for freshly inserted rows (no id can
    * already be resident): the batch packs into its own slabs and unions
    * in; the cell-partitioned twin routes the batch through the SAME
    * coarse quantizer and zips per cell — both standing matrices never
    * move. */
  private def packedAppend(fresh: DataFrame): Unit = {
    val rows = fresh.where(col("embedding").isNotNull)
    packedIdx = packedIdx.map(PackedKnn.appendStr(_, rows, "id", "embedding"))
    packedIvfIdx = packedIvfIdx.map(
      PackedKnn.appendIvfStr(_, rows, "id", "embedding"))
    packedPqIdx = packedPqIdx.map(
      PackedPq.appendIvfPqStr(_, rows, "id", "embedding"))
    packedSqIdx = packedSqIdx.map(
      PackedSq.appendIvfSqStr(_, rows, "id", "embedding"))
    // insertion is the graph's NATIVE maintenance op (unlike replace/
    // delete, which rewire adjacency and invalidate it): new rows walk
    // into the standing per-cell graphs under the same coarse model
    packedGraphIdx = packedGraphIdx.map { old =>
      val add = PackedKnn.packIvfStr(rows, old.model, "id", "embedding")
      PackedGraph.append[String](old, add, config.metric)
    }
    graphMaintained = packedGraphIdx.isDefined
    packedMaintained = true
  }

  /** Replace-by-id packed-index delta: tombstone the changed ids out of
    * their slabs (only hit slabs rebuild), then append the replacements —
    * on both resident layouts. Changed batches are driver-sized (CRUD),
    * so the id set broadcasts. */
  private def packedReplace(changed: DataFrame): Unit = {
    lazy val ids = changed.select("id").collect().map(_.getString(0)).toSet
    val rows = changed.where(col("embedding").isNotNull)
    packedIdx = packedIdx.map { old =>
      val pruned = PackedKnn.remove(old, ids)
      if (!(pruned eq old)) old.unpersist()
      PackedKnn.appendStr(pruned, rows, "id", "embedding")
    }
    packedIvfIdx = packedIvfIdx.map { old =>
      val pruned = PackedKnn.removeIvf(old, ids)
      if (!(pruned eq old)) old.unpersist()
      PackedKnn.appendIvfStr(pruned, rows, "id", "embedding")
    }
    packedPqIdx = packedPqIdx.map { old =>
      val pruned = PackedPq.remove(old, ids)
      if (!(pruned eq old)) old.unpersist()
      PackedPq.appendIvfPqStr(pruned, rows, "id", "embedding")
    }
    packedGraphIdx = packedGraphIdx.map { old =>
      val pruned = PackedGraph.remove(old, ids)
      val add = PackedKnn.packIvfStr(rows, old.model, "id", "embedding")
      PackedGraph.append[String](pruned, add, config.metric)
    }
    graphMaintained = packedGraphIdx.isDefined || graphMaintained
    packedSqIdx = packedSqIdx.map { old =>
      val pruned = PackedSq.remove(old, ids)
      if (!(pruned eq old)) old.unpersist()
      PackedSq.appendIvfSqStr(pruned, rows, "id", "embedding")
    }
    packedMaintained = true
  }

  /** Delete packed-index delta: tombstone removal keeps BOTH resident
    * layouts alive (the cell layout survives — partition i stays cell i,
    * centroids are untouched). */
  private def packedRemove(removedIds: DataFrame): Unit = {
    lazy val ids = removedIds.collect().map(_.getString(0)).toSet
    packedIdx = packedIdx.map { old =>
      val nw = PackedKnn.remove(old, ids)
      if (!(nw eq old)) old.unpersist()
      nw
    }
    packedIvfIdx = packedIvfIdx.map { old =>
      val nw = PackedKnn.removeIvf(old, ids)
      if (!(nw eq old)) old.unpersist()
      nw
    }
    packedPqIdx = packedPqIdx.map { old =>
      val nw = PackedPq.remove(old, ids)
      if (!(nw eq old)) old.unpersist()
      nw
    }
    packedSqIdx = packedSqIdx.map { old =>
      val nw = PackedSq.remove(old, ids)
      if (!(nw eq old)) old.unpersist()
      nw
    }
    // HNSW mark-deleted: tombstoned rows keep routing walks but are
    // never emitted — deletes maintain the graph tier in place
    packedGraphIdx = packedGraphIdx.map(PackedGraph.remove(_, ids))
    graphMaintained = packedGraphIdx.isDefined || graphMaintained
    packedMaintained = true
  }

  // ------------------------------------------- resident packed-matrix index

  @transient private var packedIdx: Option[PackedKnn.PackedCorpus[String]] = None

  /** Mutation-counter values the resident indexes were packed against
    * (see [[Collections.readMutationCount]]); compared against the
    * current counter on every packed query so a mutation through a
    * DIFFERENT handle or process is fail-loud, never silently stale. */
  @transient private var packedStamp: Long = -1L
  @transient private var packedIvfStamp: Long = -1L
  @transient private var packedPqStamp: Long = -1L

  /** When true, a packed query that finds its resident index stale
    * (mutated through another handle/process) rebuilds it transparently
    * instead of throwing — opt-in, because a rebuild is a full corpus
    * job and silently paying it inside a query is its own surprise. */
  var autoRebuildStalePacked: Boolean = false

  /** Fail-loud staleness guard for the resident packed indexes: one
    * driver-side file read per packed query. The single-process
    * reference cannot have this race (vectordb.py:245 takes an RLock
    * around its in-RAM matrix); the distributed engine detects it. */
  private def ensureFreshPacked(ivf: Boolean): Unit = {
    val defined = if (ivf) packedIvfIdx.isDefined else packedIdx.isDefined
    if (!defined) return
    val stamp = if (ivf) packedIvfStamp else packedStamp
    val current = Collections.readMutationCount(spark, dir)
    if (current != stamp) {
      if (autoRebuildStalePacked) {
        if (ivf) { packedIvfIdx.foreach(_.unpersist()); packedIvfIdx = None }
        else { packedIdx.foreach(_.unpersist()); packedIdx = None }
      } else throw new IllegalStateException(
        s"resident packed ${if (ivf) "ANN " else ""}index of collection " +
          s"'${config.name}' is STALE: the collection was mutated " +
          s"${current - stamp} time(s) through another handle or process " +
          s"since this handle packed it (packed at mutation $stamp, " +
          s"collection now at $current). Rebuild via " +
          (if (ivf) "buildPackedAnnIndex()" else "buildPackedIndex()") +
          ", or set autoRebuildStalePacked = true to rebuild on demand.")
    }
  }

  /** Test-visible handles on the resident state (lineage assertions). */
  private[graft] def residentPacked: Option[PackedKnn.PackedCorpus[String]] = packedIdx
  private[graft] def residentPackedIvf: Option[PackedKnn.PackedIvfCorpus[String]] = packedIvfIdx
  private[graft] def residentPackedGraph: Option[PackedGraph.PackedGraphCorpus[String]] = packedGraphIdx

  /** Pack the collection's embeddings into the distributed resident-matrix
    * index (operators.PackedKnn — per-partition float32 slabs scored by
    * BLAS sgemm, the reference's in-RAM matrix contract spread over
    * executors). Lives for THIS GraftCollection handle; CRUD through this
    * handle MAINTAINS it in place (adds append slabs, deletes tombstone
    * hit slabs, upserts do both — the reference's in-RAM add/delete
    * semantics), but a mutation through a DIFFERENT handle of the same
    * collection cannot (the resident state is handle-scoped, like the
    * reference's per-process in-RAM matrix) — such a mutation is
    * DETECTED: every committed write bumps the collection's mutation
    * counter, packed queries compare it against this handle's stamp and
    * throw (or rebuild, with [[autoRebuildStalePacked]]) instead of
    * serving stale results. Call again after bulk loads for the fastest
    * repeated-search path.
    *
    * WARM-START: when a [[saveResidentIndex]] slab sidecar exists, the
    * build reopens it — one task per partition reading one slab file,
    * zero Exchange, zero parquet decode — instead of re-running the
    * pack scan+shuffle (at 100 TB a restart would otherwise repeat a
    * full corpus job). Mutations delete the sidecar (it is a snapshot),
    * so a warm start can never serve stale slabs (and the sidecar's
    * mutation stamp is checked too — a sidecar persisted by a stale
    * handle cold-packs). Note the recompute contract this implies: a
    * warm-started index's lineage reads the slab files, so once a
    * mutation drops them, a lost executor's partitions cannot be
    * recomputed — packed queries catch exactly that failure and
    * cold-rebuild automatically (the reference's process-resident
    * matrix dies with its process the same way; MEMORY_AND_DISK spills
    * rather than evicts, so steady-state memory pressure never hits
    * this path). */
  def buildPackedIndex(): Unit = {
    releasePackedIndex()
    val current = Collections.readMutationCount(spark, dir)
    // warm-start ONLY when the sidecar's stamp matches the collection's
    // current mutation count — a sidecar saved by a handle that had gone
    // stale (or one predating the stamp protocol) cold-packs instead
    packedIdx = Some(
      if (PackedKnn.slabsExist(spark, packedDir) &&
          sidecarStamp(packedDir) == current)
        PackedKnn.loadSlabs[String](spark, packedDir)
      else PackedKnn.packStr(
        df.where(col("embedding").isNotNull), "id", "embedding"))
    packedStamp = current
  }

  private def packedDir = s"$dir/index_packed"
  private def packedIvfDir = s"$dir/index_packed_ivf"

  /** Persist the resident packed indexes (whichever are built) as binary
    * slab sidecars, so the NEXT session's [[buildPackedIndex]] /
    * [[buildPackedAnnIndex]] warm-starts with a per-partition slab read
    * instead of a corpus re-pack — the durable twin of the reference's
    * instant mmap reopen (parallel_search.py:427-516). Call after bulk
    * loads / [[optimize]]; any later mutation invalidates the sidecars
    * (CRUD deltas maintain the RESIDENT state in place, but the sidecar
    * is a point-in-time snapshot). */
  def saveResidentIndex(): Unit = {
    // a STALE handle must never persist its snapshot — the sidecar would
    // poison every later session's warm start with pre-mutation slabs
    ensureFreshPacked(ivf = false)
    ensureFreshPacked(ivf = true)
    ensureFreshPackedPq()
    ensureFreshPackedSq()
    packedIdx.foreach { pc =>
      PackedKnn.saveSlabs(pc, packedDir)
      writeSidecarStamp(packedDir, packedStamp)
    }
    packedIvfIdx.foreach { pi =>
      PackedKnn.saveIvfSlabs(pi, packedIvfDir)
      writeSidecarStamp(packedIvfDir, packedIvfStamp)
    }
    packedPqIdx.foreach { pi =>
      PackedPq.saveSlabs(pi, packedPqDir)
      writeSidecarStamp(packedPqDir, packedPqStamp)
    }
    packedSqIdx.foreach { pi =>
      PackedSq.saveSlabs(pi, packedSqDir)
      writeSidecarStamp(packedSqDir, packedSqStamp)
    }
    ensureFreshPackedGraph() // releases (never throws) when stale
    packedGraphIdx.foreach { pg =>
      PackedGraph.saveSlabs(pg, packedGraphDir)
      writeSidecarStamp(packedGraphDir, packedGraphStamp)
    }
  }

  /** Mutation-count stamp riding inside a slab sidecar dir; -1 when
    * absent (pre-stamp sidecars read as never-fresh → cold pack). */
  private def sidecarStamp(subdir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$subdir/_mutstamp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  private def writeSidecarStamp(subdir: String, stamp: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$subdir/_mutstamp")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(stamp.toString.getBytes("UTF-8")) finally out.close()
  }

  private def dropSlabSidecars(): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(packedDir), true)
    fs.delete(new Path(packedIvfDir), true)
    fs.delete(new Path(packedPqDir), true)
    fs.delete(new Path(packedSqDir), true)
    fs.delete(new Path(packedGraphDir), true)
  }

  def hasPackedIndex: Boolean = packedIdx.isDefined

  def hasPackedAnnIndex: Boolean = packedIvfIdx.isDefined

  def releasePackedIndex(): Unit = {
    packedIdx.foreach(_.unpersist())
    packedIdx = None
    packedIvfIdx.foreach(_.unpersist())
    packedIvfIdx = None
    packedPqIdx.foreach(_.unpersist())
    packedPqIdx = None
    packedSqIdx.foreach(_.unpersist())
    packedSqIdx = None
  }

  /** One operational compaction pass over everything this collection
    * owns: the data's delta generations, tombstones and small base files
    * (folded into one base), the keyword sidecar's generations and hot
    * buckets, the dedup sidecar's hot buckets, and the resident packed
    * indexes' generation chains. Query results are identical before and
    * after — only file and slab layout change. Returns what was rewritten
    * per relation. */
  def optimize(maxFilesPerBucket: Int = 8): Map[String, Int] = {
    val raw = Collections.readManifest(dir)
    val m = manifestOf(raw)
    Collections.recoverSwap(dataRoot)
    Collections.sweepGenerations(dataRoot, tombDir, m.gens.map(_.gen).toSet)
    val baseFiles = {
      val p = new org.apache.hadoop.fs.Path(dataRoot)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    }
    // the fold: generations, tombstones and small base files become one
    // base file. It rewrites the FILES without bumping the mutation stamp
    // (contents identical, so resident indexes stay valid); the manifest's
    // layout counter moves instead, so every handle holding a listing of
    // the deleted files re-lists. Folded rows keep `_gen`: until the
    // manifest reset lands, the old history reads the folded base to the
    // same rows.
    val data = m.gens.nonEmpty || baseFiles > maxFilesPerBucket
    if (data) {
      Collections.swapWrite(liveRows(raw).coalesce(1), dataRoot)
      Collections.writeManifest(dir, m.copy(layout = m.layout + 1, gens = Vector.empty))
      Collections.deleteIfExists(tombDir)
      tombCache.clear()
    }
    dfCache = null
    val kw = if (hasKeywordIndex)
      Bm25.compactIndex(spark, indexDir, maxFilesPerBucket, keep = _ <= m.committed) else 0
    val dd = if (hasDedupIndex)
      Dedup.compactDedupIndex(spark, dedupDir, maxFilesPerBucket) else 0
    compactPackedIndexes()
    Map("data" -> (if (data) 1 else 0), "keyword" -> kw, "dedup" -> dd)
  }

  /** Fold the resident indexes' append/remove generations back into
    * single-slab partitions (the resident twin of the sidecar
    * compactions): a long CRUD history otherwise turns every search into
    * many small tasks over many tiny slabs. Results are identical;
    * only task and sgemm call counts change.
    *
    * Gauged, not unconditional: each tier's `generations` counter (chain
    * length — a free driver-side read) says whether any CRUD history is
    * riding the handle; a freshly packed/compacted tier is skipped, so a
    * periodic optimize() on a quiet collection re-persists nothing. */
  def compactPackedIndexes(numPartitions: Int = 0): Unit = {
    packedIdx = packedIdx.map { old =>
      val target = if (numPartitions > 0) numPartitions
        else math.min(math.max(1, old.blocks.partitions.length),
          spark.sparkContext.defaultParallelism)
      if (old.generations <= 1 && old.blocks.partitions.length <= target) old
      else {
        val nw = PackedKnn.compact(old, target)
        old.unpersist()
        nw
      }
    }
    packedIvfIdx = packedIvfIdx.map { old =>
      if (old.generations <= 1) old
      else {
        val nw = PackedKnn.compactIvf(old)
        old.unpersist()
        nw
      }
    }
    packedPqIdx = packedPqIdx.map { old =>
      if (old.generations <= 1) old
      else {
        val nw = PackedPq.compactIvfPq(old)
        old.unpersist()
        nw
      }
    }
    packedSqIdx = packedSqIdx.map { old =>
      if (old.generations <= 1) old
      else {
        val nw = PackedSq.compactIvfSq(old)
        old.unpersist()
        nw
      }
    }
    // graph "compaction" is two-gauge: past the tombstone threshold a
    // REBUILD has paid for itself (dead rows cost walk visits and
    // resident bytes, never correctness); below it, a CRUD chain still
    // holds every append/remove generation resident, so fold it into one
    // persisted generation (identical blocks, chain memory released)
    packedGraphIdx.foreach { old =>
      if (PackedGraph.deadFraction(old) > graphRebuildDeadFraction) {
        val (deg, efC) = (old.degree, old.efConstruction)
        // the slab sidecar snapshots the TOMBSTONED graph — a warm start
        // from it would just reload the dead rows; cold-pack instead
        val p = new org.apache.hadoop.fs.Path(packedGraphDir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        buildPackedGraphIndex(deg, efC) // unpersists old, re-inserts live rows
      } else if (old.generations > 1) {
        val nw = PackedGraph.compact(old)
        old.unpersist()
        packedGraphIdx = Some(nw)
      }
    }
  }

  /** Tombstone share past which [[compactPackedIndexes]] rebuilds the
    * graph tier instead of carrying the dead rows. */
  var graphRebuildDeadFraction: Double = 0.25

  @transient private var packedIvfIdx: Option[PackedKnn.PackedIvfCorpus[String]] = None

  /** Incremental index maintenance: split every hot cell of the resident
    * IVF index ([[buildPackedAnnIndex]] on first use) until none exceeds
    * `maxRows` rows, then PERSIST the refined coarse model so [[annQuery]]
    * and future packs route through the refined cells. Only the split
    * cells' rows move ([[PackedKnn.splitCell]]'s narrow rebuild); the
    * rest of the resident matrix stays where it is — the at-scale answer
    * to skewed ingest, where a full [[buildVectorIndex]] retrain would
    * re-shuffle the world to fix a few cells.
    *
    * A model change invalidates cell-routed artifacts like a retrain
    * does — the IVF/PQ slab sidecars die, other handles' cell-routed
    * indexes go stale via the mutation counter — but unlike a retrain
    * the refinement only ADDS cells, so THIS handle's index is already
    * laid out for it and stays warm, and a residual product quantizer
    * survives (only the split cells' residual geometry moved; re-encoded
    * codes stay encode/LUT-consistent). Returns the splits performed;
    * 0 leaves everything untouched. */
  def splitHotCells(maxRows: Long, maxSplits: Int = 1024): Int = {
    ensureFreshPacked(ivf = true)
    if (packedIvfIdx.isEmpty) buildPackedAnnIndex()
    val old = packedIvfIdx.get
    val (split, n) = PackedKnn.splitHotCells(old, maxRows, maxSplits = maxSplits)
    if (n == 0) return 0
    val fsI = new org.apache.hadoop.fs.Path(packedIvfDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsI.delete(new org.apache.hadoop.fs.Path(packedIvfDir), true)
    fsI.delete(new org.apache.hadoop.fs.Path(packedPqDir), true)
    fsI.delete(new org.apache.hadoop.fs.Path(packedSqDir), true)
    fsI.delete(new org.apache.hadoop.fs.Path(packedGraphDir), true)
    ModelStore.saveIvf(spark, split.model, ivfDir)
    old.unpersist()
    packedIvfIdx = Some(split)
    packedPqIdx.foreach(_.unpersist())
    packedPqIdx = None
    packedSqIdx.foreach(_.unpersist())
    packedSqIdx = None
    packedGraphIdx.foreach(_.unpersist())
    packedGraphIdx = None
    val stamp = Collections.bumpMutationCount(spark, dir)
    packedIvfStamp = stamp
    if (packedIdx.isDefined) packedStamp = stamp // flat index: model-independent
    n
  }

  /** [[buildPackedIndex]] laid out one IVF cell per partition, so
    * [[packedAnnQuery]] probes launch tasks only on probed partitions.
    * Requires the persisted IVF model ([[buildVectorIndex]]). */
  def buildPackedAnnIndex(): Unit = {
    packedIvfIdx.foreach(_.unpersist())
    val current = Collections.readMutationCount(spark, dir)
    packedIvfStamp = current
    if (PackedKnn.ivfSlabsExist(spark, packedIvfDir) &&
        sidecarStamp(packedIvfDir) == current) {
      // warm start: per-partition slab read, partition i = cell i — the
      // model rides inside the sidecar, so probe routing is identical.
      // Gated on the sidecar's mutation stamp like buildPackedIndex.
      packedIvfIdx = Some(PackedKnn.loadIvfSlabs[String](spark, packedIvfDir))
    } else {
      require(hasVectorIndex,
        s"collection '${config.name}' has no vector index; run buildVectorIndex() first")
      packedIvfIdx = Some(PackedKnn.packIvfStr(
        df.where(col("embedding").isNotNull),
        ModelStore.loadIvf(spark, ivfDir), "id", "embedding"))
    }
  }

  /** [[annQuery]] through the resident cell-partitioned packed index
    * ([[buildPackedAnnIndex]] on first use): each query scores only its
    * nProbe probed cells, and the job touches only those partitions.
    * Same output shape as [[query]]/[[annQuery]]. With `where`, the
    * probed cells return an over-fetched page and survivors of the
    * metadata filter keep their kernel distances (approximate by
    * contract — see the body comment). */
  def packedAnnQuery(queries: DataFrame, k: Int = 10, nProbe: Int = 4,
                     where: Option[Filter] = None): DataFrame = {
    ensureFreshPacked(ivf = true)
    if (packedIvfIdx.isEmpty) buildPackedAnnIndex()
    val (q, qRows, qArr) = collectQueries(queries)
    where match {
      case None =>
        packedResult(q, qRows,
          if (qArr.isEmpty) Array.empty
          else ivfSearchRecovering(qArr, k, nProbe))
      case Some(_) if qArr.isEmpty => packedResult(q, qRows, Array.empty)
      case Some(f) =>
        // filtered ANN = the reference's post-ANN over-fetch
        // (vectordb.py:495-561): the probed cells return a selectivity-
        // sized page ([[filterPage]]), one id-pushdown membership job
        // marks passing candidate ids, survivors keep their kernel
        // distances. No exact fallback HERE — the search is
        // approximate by contract (probed cells only), so the filtered
        // result is exactly filter(page) take k; recall follows the
        // probe recall curve. For exact filtered membership use
        // packedQuery/query with the same filter.
        val over = ivfSearchRecovering(qArr, filterPage(k, f), nProbe)
        val candIds = over.iterator.flatMap(_._2.iterator.map(_._1)).toSet.toSeq
        val pass = filterMembership(candIds, f)
        packedResult(q, qRows, over.map { case (qi, nbrs) =>
          (qi, nbrs.filter(n => pass(n._1)).take(k)) })
    }
  }

  /** Batch query through the resident packed index ([[buildPackedIndex]]
    * on first use): same shape as [[query]] — (query_id, rank, id,
    * document, distance) — with distances from the float32 GEMM kernel
    * (the reference's batch-GEMM precision, vs [[query]]'s bit-exact
    * double path). Query ids of any type are preserved.
    *
    * With `where`, filtered search runs on the fast path via the
    * reference's post-ANN over-fetch (vectordb.py:495-561): the kernel
    * over-fetches a selectivity-sized candidate page per query
    * ([[filterPage]]), ONE id-pushdown membership job marks the candidate
    * ids that pass, and survivors keep their kernel distances.
    * A query left with fewer than k survivors while its candidate page
    * came back full (more corpus rows existed beyond the page) falls
    * back to the EXACT filtered scan for that query only — a bounded
    * fallback instead of the reference's unbounded retry loop, so
    * membership always equals [[query]](..., where). */
  def packedQuery(queries: DataFrame, k: Int = 10,
                  where: Option[Filter] = None): DataFrame = {
    ensureFreshPacked(ivf = false)
    if (packedIdx.isEmpty) buildPackedIndex()
    val (q, qRows, qArr) = collectQueries(queries)
    where match {
      case None =>
        packedResult(q, qRows,
          if (qArr.isEmpty) Array.empty
          else packedSearchRecovering(qArr, k))
      case Some(_) if qArr.isEmpty => packedResult(q, qRows, Array.empty)
      case Some(f) =>
        val page = filterPage(k, f)
        val over = packedSearchRecovering(qArr, page)
        val candIds = over.iterator.flatMap(_._2.iterator.map(_._1)).toSet.toSeq
        val pass = filterMembership(candIds, f)
        val kept = over.map { case (qi, nbrs) =>
          (qi, nbrs.filter(n => pass(n._1)).take(k)) }
        val (served, refetch) = kept.partition { case (qi, survivors) =>
          survivors.length >= k || over(qi.toInt)._2.length < page
        }
        lastFilteredFallbacks = refetch.length
        val fast = packedResult(q, qRows, served)
        if (refetch.isEmpty) fast
        else {
          val ids = refetch.map { case (qi, _) => qRows(qi.toInt).get(0) }
          fast.unionByName(
            query(q.where(col("query_id").isin(ids: _*)), k, where))
        }
    }
  }

  /** Over-fetch factor for [[packedQuery]]'s filtered path (the
    * reference's k*10; 4 suffices because the under-filled remainder
    * falls back exactly instead of retrying wider). */
  private val PackedFilterOverFetch = 4

  /** Cap on the ADAPTIVE filtered over-fetch page ([[filterPage]]): a
    * very selective filter would otherwise ask for a corpus-sized page;
    * past the cap the bounded exact fallback is the cheaper path anyway. */
  var filterOverFetchMaxPage: Int = 4096

  /** How many queries of the LAST filtered packed/graph call fell back to
    * the exact scan (page underfilled) — the adaptive-page feedback
    * gauge, exposed for audit/specs like [[lastAutoRoute]]. */
  @transient private[graft] var lastFilteredFallbacks: Int = 0

  /** Filtered over-fetch page size, sized from the router's CACHED
    * selectivity estimate instead of the fixed k*4: a fixed page
    * underfills whenever the filter passes less than 1/overfetch of the
    * corpus, sending every such query through the exact-scan fallback —
    * the reference's own fetch_k heuristic widens with the filter
    * (vectordb.py:520), here made cost-aware. Page ~ 2k/selectivity
    * (2x slack over the expectation), clamped to
    * [k*overfetch, [[filterOverFetchMaxPage]]] so a hostile estimate can
    * never explode the walk; the bounded exact fallback still guarantees
    * k-filled results whatever the page. Costs one cached pushdown count
    * per (filter fingerprint, mutation stamp) — [[autoQuery]]'s routing
    * already paid it on routed traffic. */
  private def filterPage(k: Int, f: Filter): Int = {
    // Every filtered serving call starts here; zero the fallback gauge
    // so a no-fallback path (ann/sq) cannot leave a previous call's
    // count visible to an audit reading it afterwards.
    lastFilteredFallbacks = 0
    val passing = filterPassRows(f, Collections.readMutationCount(spark, dir))
    val sel = math.max(passing.toDouble / math.max(corpusRows, 1L), 1e-9)
    val want = math.ceil(2.0 * k / sel)
    val floor = k.toLong * PackedFilterOverFetch
    math.min(math.max(want.toLong, floor),
      math.max(filterOverFetchMaxPage.toLong, floor)).toInt
  }

  /** Max isin() literals per membership batch: bounds the In expression
    * the scan pushes down (and the analyzer's tree size) when a wide
    * query batch over-fetches a large page. */
  private val FilterMembershipBatch = 32768

  /** Candidate-membership check shared by the filtered over-fetch paths
    * ([[packedQuery]], [[packedAnnQuery]], [[packedGraphQuery]]): which of
    * the page's `candIds` pass `f`. The ids are PUSHED DOWN into the
    * parquet scan (`col("id").isin` — the [[get]] shape, arriving as
    * PushedFilters) so the job reads only the row groups holding the
    * page's ids; the previous left-semi-join shape scanned the whole
    * filtered corpus per query batch, costing at scale exactly what the
    * over-fetch was meant to avoid. candIds is driver-resident and
    * <= qRows * k * overfetch by construction; batched so a huge page
    * never builds one unbounded In list. */
  private[graft] def filterMembership(candIds: Seq[String], f: Filter): Set[String] =
    if (candIds.isEmpty) Set.empty
    else candIds.grouped(FilterMembershipBatch).flatMap { b =>
      filterMembershipPlan(b, f).collect().iterator.map(_.getString(0))
    }.toSet

  /** One membership batch's plan, exposed for spec-level PushedFilters
    * assertions. */
  private[graft] def filterMembershipPlan(ids: Seq[String], f: Filter): DataFrame =
    df.where(col("id").isin(ids: _*))
      .where(coalesce(f.compile, lit(false)))
      .select("id")

  /** Packed search with WARM-START LOSS RECOVERY: a warm-started index's
    * lineage reads its slab sidecar files, and a later mutation (this
    * handle or another) deletes them — so a lost/evicted partition after
    * that point cannot be recomputed and the job dies on a missing-slab
    * read. Instead of surfacing the raw FileNotFound, rebuild cold (the
    * sidecar is gone, so the rebuild re-packs from parquet — the only
    * correct source at that point) and retry once. The reference's
    * process-resident matrix dies WITH its process the same way; the
    * distributed engine recovers. */
  private def packedSearchRecovering(qArr: Array[(Long, Array[Float])],
                                     k: Int): Array[(Long, Array[(String, Double)])] =
    try PackedKnn.search(packedIdx.get, qArr, k, config.metric)
    catch { case e: Exception if slabReadFailure(e) =>
      org.slf4j.LoggerFactory.getLogger(classOf[GraftCollection]).warn(
        s"resident packed index of '${config.name}' lost a warm-start " +
          "slab partition (sidecar dropped by a mutation); cold-rebuilding", e)
      buildPackedIndex()
      PackedKnn.search(packedIdx.get, qArr, k, config.metric)
    }

  /** [[packedSearchRecovering]] for the cell-partitioned layout. */
  private def ivfSearchRecovering(qArr: Array[(Long, Array[Float])],
                                  k: Int, nProbe: Int): Array[(Long, Array[(String, Double)])] =
    try PackedKnn.searchIvf(packedIvfIdx.get, qArr, k, nProbe, config.metric)
    catch { case e: Exception if slabReadFailure(e) =>
      org.slf4j.LoggerFactory.getLogger(classOf[GraftCollection]).warn(
        s"resident packed ANN index of '${config.name}' lost a warm-start " +
          "slab partition (sidecar dropped by a mutation); cold-rebuilding", e)
      buildPackedAnnIndex()
      PackedKnn.searchIvf(packedIvfIdx.get, qArr, k, nProbe, config.metric)
    }

  // ------------------------------------------- resident PQ-code (ADC) tier

  @transient private var packedPqIdx: Option[PackedPq.PackedPqCorpus[String]] = None

  private def packedPqDir = s"$dir/index_packed_pq"
  private def pqModelDir = s"$dir/index_pq"

  /** Train and persist the product quantizer for this collection — the
    * fit-once/search-many lifecycle of [[buildVectorIndex]], for the
    * memory tier below the float slabs. Same crash-consistency order:
    * train first, drop the (old-model) PQ slab sidecar, then persist —
    * no window where a new model coexists with old-code slabs. Like the
    * coarse quantizer, the model is a statistical sketch: mutations
    * route through it at append time and never invalidate it. */
  def buildQuantModel(numSubspaces: Int = 8, numCentroids: Int = 64,
                      sampleFraction: Double = 1.0, seed: Long = 42L,
                      residual: Boolean = false,
                      opq: Boolean = false): Unit = {
    require(numCentroids <= 256,
      s"numCentroids=$numCentroids exceeds a byte code (PackedPq stores one " +
        "byte per subspace) — use <= 256")
    require(!(residual && opq),
      "residual and opq are alternative encodings — pass one (rotated " +
        "residuals need their own verified batch twin; see PackedPq)")
    val src = df.where(col("embedding").isNotNull)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trained =
      if (residual) {
        // residual codes quantize vec − cellCentroid (FAISS IVFADC) — they
        // are meaningless without the coarse model they were trained against
        require(hasVectorIndex,
          s"collection '${config.name}' has no vector index; residual " +
            "quantization trains against the coarse cells — run " +
            "buildVectorIndex() first")
        Quantization.trainPqResidual(src, "embedding",
          ModelStore.loadIvf(spark, ivfDir),
          numSubspaces, numCentroids, seed, sampleFraction = sampleFraction)
      } else if (opq) {
        // OPQ: learned orthogonal rotation + codebooks fitted in the
        // rotated space (Ge CVPR'13); coarse routing stays raw-space, so
        // unlike residual this needs no standing vector index and
        // survives a coarse retrain
        val om = Quantization.trainOpq(src, "embedding", numSubspaces,
          numCentroids, seed, sampleFraction = sampleFraction)
        ModelStore.saveOpq(spark, om, opqModelDir)
        om.pq
      } else Quantization.trainPq(src, "embedding", numSubspaces,
        numCentroids, seed, sampleFraction = sampleFraction)
    if (!opq) fs.delete(new org.apache.hadoop.fs.Path(opqModelDir), true)
    fs.delete(new org.apache.hadoop.fs.Path(packedPqDir), true)
    ModelStore.savePq(spark, trained, pqModelDir)
    // marker AFTER the model swap: readers pair flag+model atomically
    // enough for the single-writer lifecycle (retrain drops the slabs
    // first, so no sidecar can pair with a mismatched flag)
    if (residual)
      ModelStore.writeString(pqResidualMarker, """{"residual": true}""")
    else ModelStore.deleteIfExists(pqResidualMarker)
    packedPqIdx.foreach(_.unpersist())
    packedPqIdx = None
  }

  def hasQuantModel: Boolean = ModelStore.exists(pqModelDir)

  private def pqResidualMarker = s"$dir/index_pq_residual.json"
  private def opqModelDir = s"$dir/index_pq_opq"

  /** Whether the persisted product quantizer encodes residuals. */
  def quantModelIsResidual: Boolean = ModelStore.pathExists(pqResidualMarker)

  /** Whether the persisted product quantizer carries an OPQ rotation. */
  def quantModelIsOpq: Boolean = ModelStore.exists(opqModelDir)

  /** Pack the collection's embeddings into the resident PQ-CODE index
    * (operators.PackedPq — m bytes per row instead of 4*dim, the tier
    * for corpora whose float matrix no longer fits executor memory).
    * Requires [[buildVectorIndex]] (cell routing) and [[buildQuantModel]]
    * (codes). Same handle-scoped lifecycle as [[buildPackedIndex]]:
    * CRUD through this handle maintains it (appends encode through the
    * standing models, deletes tombstone), foreign mutations are detected
    * by the mutation-counter stamp, and [[saveResidentIndex]] persists
    * slab sidecars for a warm start. */
  def buildPackedPqIndex(): Unit = {
    packedPqIdx.foreach(_.unpersist())
    val current = Collections.readMutationCount(spark, dir)
    packedPqStamp = current
    if (PackedPq.slabsExist(spark, packedPqDir) &&
        sidecarStamp(packedPqDir) == current) {
      val re = PackedPq.loadSlabs[String](spark, packedPqDir)
      require(re.residual == quantModelIsResidual,
        s"PQ slab sidecar of collection '${config.name}' disagrees with the " +
          s"persisted quantizer on residual encoding (sidecar=${re.residual}, " +
          s"model=$quantModelIsResidual) — the sidecar was tampered with or " +
          "half-restored; rerun buildQuantModel() + buildPackedPqIndex()")
      require(re.rotation.isDefined == quantModelIsOpq,
        s"PQ slab sidecar of collection '${config.name}' disagrees with the " +
          s"persisted quantizer on OPQ rotation (sidecar=${re.rotation.isDefined}, " +
          s"model=$quantModelIsOpq) — rerun buildQuantModel() + buildPackedPqIndex()")
      packedPqIdx = Some(re)
    } else {
      require(hasVectorIndex,
        s"collection '${config.name}' has no vector index; run buildVectorIndex() first")
      require(hasQuantModel,
        s"collection '${config.name}' has no product quantizer; run buildQuantModel() first")
      val rotation =
        if (quantModelIsOpq) Some(ModelStore.loadOpq(spark, opqModelDir).rotation)
        else None
      packedPqIdx = Some(PackedPq.packIvfPqStr(
        df.where(col("embedding").isNotNull),
        ModelStore.loadIvf(spark, ivfDir), ModelStore.loadPq(spark, pqModelDir),
        "id", "embedding", residual = quantModelIsResidual,
        rotation = rotation))
    }
  }

  def hasPackedPqIndex: Boolean = packedPqIdx.isDefined

  private[graft] def residentPackedPq: Option[PackedPq.PackedPqCorpus[String]] = packedPqIdx

  /** [[annQuery]] through the resident PQ-code tier
    * ([[buildPackedPqIndex]] on first use): per-query ADC LUTs score only
    * the probed cells' byte codes (m bytes touched per candidate), then
    * the fetchK survivors are EXACTLY reranked — an id-pushdown scan of
    * only the candidates' raw vectors through the same double distance
    * kernel as [[query]]. Same output shape as [[query]]; recall follows
    * the probe curve and fetchK (quantization error itself is repaired by
    * the rerank). Metadata filters belong on [[packedQuery]]/
    * [[packedAnnQuery]] — this tier serves the unfiltered at-scale path. */
  def packedPqQuery(queries: DataFrame, k: Int = 10, nProbe: Int = 4,
                    fetchK: Int = 50): DataFrame = {
    ensureFreshPackedPq()
    if (packedPqIdx.isEmpty) buildPackedPqIndex()
    val (q, qRows, qArr) = collectQueries(queries)
    if (qArr.isEmpty) return packedResult(q, qRows, Array.empty)
    val cand = pqSearchRecovering(qArr, fetchK, nProbe)
    val candIds = cand.iterator.flatMap(_._2.iterator.map(_._1)).toSet.toSeq
    val reranked: Array[(Long, Array[(String, Double)])] =
      if (candIds.isEmpty) Array.empty
      else {
        import spark.implicits._
        val pairs = cand.toSeq
          .flatMap { case (qi, nbrs) => nbrs.map { case (nid, _) => (qi, nid) } }
          .toDF("_qi", "id")
        val qv = qArr.toSeq.toDF("_qi", "_qvec")
        // candidate ids push down into the scan (In filter on the id
        // column) — the rerank reads O(Q*fetchK) rows, not the corpus
        df.where(col("id").isin(candIds: _*))
          .select(col("id"), col("embedding"))
          .join(pairs, "id")
          .join(broadcast(qv), "_qi")
          .select(col("_qi"), col("id"),
            graft.functions.vector.distance(config.metric,
              col("embedding"), col("_qvec")).as("_d"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (qi, rs) =>
            (qi, rs.map(r => (r.getString(1), r.getDouble(2)))
              .sortBy { case (id, d) => (d, id) }.take(k))
          }.toArray.sortBy(_._1)
      }
    packedResult(q, qRows, reranked)
  }

  /** [[ensureFreshPacked]] for the PQ tier. */
  private def ensureFreshPackedPq(): Unit = {
    if (packedPqIdx.isEmpty) return
    val current = Collections.readMutationCount(spark, dir)
    if (current != packedPqStamp) {
      if (autoRebuildStalePacked) {
        packedPqIdx.foreach(_.unpersist()); packedPqIdx = None
      } else throw new IllegalStateException(
        s"resident packed PQ index of collection '${config.name}' is STALE: " +
          s"the collection was mutated ${current - packedPqStamp} time(s) " +
          "through another handle or process since this handle packed it " +
          s"(packed at mutation $packedPqStamp, collection now at $current). " +
          "Rebuild via buildPackedPqIndex(), or set " +
          "autoRebuildStalePacked = true to rebuild on demand.")
    }
  }

  /** ADC search with the same warm-start loss recovery as
    * [[packedSearchRecovering]]. */
  private def pqSearchRecovering(qArr: Array[(Long, Array[Float])],
                                 fetchK: Int, nProbe: Int): Array[(Long, Array[(String, Double)])] =
    try PackedPq.searchAdc[String](packedPqIdx.get, qArr, fetchK, nProbe)
    catch { case e: Exception if slabReadFailure(e) =>
      org.slf4j.LoggerFactory.getLogger(classOf[GraftCollection]).warn(
        s"resident packed PQ index of '${config.name}' lost a warm-start " +
          "slab partition (sidecar dropped by a mutation); cold-rebuilding", e)
      buildPackedPqIndex()
      PackedPq.searchAdc[String](packedPqIdx.get, qArr, fetchK, nProbe)
    }

  // ------------------------------------------- resident SQ8 (byte) tier

  @transient private var packedSqIdx: Option[PackedSq.PackedSqCorpus[String]] = None
  /** Warm-start fallbacks this handle has paid (observability: a value
    * > 1 on a handle that re-opens the same sidecar means the sidecar is
    * PERSISTENTLY unreadable — fix the format, don't keep paying the
    * cold pack). */
  @transient private[graft] var sidecarRebuilds: Int = 0
  @transient private var packedSqStamp: Long = -1L

  private def packedSqDir = s"$dir/index_packed_sq"
  private def sqModelDir = s"$dir/index_sq"

  /** Train and persist the per-dimension scalar quantizer (min/max stats,
    * the reference's ScalarQuantizer fit — quantization.py:85-106) for
    * the SQ8 resident tier. Unlike the coarse/product quantizers the
    * stats are cell-independent, so the model survives coarse retrains
    * and cell splits; only the cell-partitioned SLABS die with those.
    * Same crash order as [[buildQuantModel]]: train, drop the old-model
    * slab sidecar, persist. */
  def buildScalarQuantModel(sampleFraction: Double = 1.0, seed: Long = 42L): Unit = {
    val m = Quantization.trainSq(df.where(col("embedding").isNotNull),
      "embedding", sampleFraction, seed)
    new org.apache.hadoop.fs.Path(packedSqDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(packedSqDir), true)
    ModelStore.saveSq(spark, m, sqModelDir)
    packedSqIdx.foreach(_.unpersist())
    packedSqIdx = None
  }

  def hasScalarQuantModel: Boolean = ModelStore.exists(sqModelDir)

  /** Pack the collection's embeddings into the resident SQ8 index
    * (operators.PackedSq — dim bytes per row, 4× less memory than the
    * float slabs with near-exact decoded-space ranking; the middle rung
    * between [[buildPackedIndex]] and [[buildPackedPqIndex]]). Requires
    * [[buildVectorIndex]] (cell routing) and [[buildScalarQuantModel]].
    * Same handle-scoped lifecycle as the other resident tiers. */
  def buildPackedSqIndex(): Unit = {
    packedSqIdx.foreach(_.unpersist())
    val current = Collections.readMutationCount(spark, dir)
    packedSqStamp = current
    if (PackedSq.slabsExist(spark, packedSqDir) &&
        sidecarStamp(packedSqDir) == current) {
      // a sidecar written by an older block format (or a reshaped
      // layout) fails loud at load — warm start is an optimization, so
      // fall through to the cold pack on LOAD/FORMAT failures only
      // (narrowed per r12 verdict: a blanket catch let any non-fatal bug
      // in there silently pay the full cold pack on EVERY open at WARN
      // level, forever). Genuine bugs (NPE, MatchError, ...) propagate.
      try { packedSqIdx = Some(PackedSq.loadSlabs[String](spark, packedSqDir)); return }
      catch { case e: Exception if GraftCollection.sidecarLoadRecoverable(e) =>
        sidecarRebuilds += 1
        org.slf4j.LoggerFactory.getLogger(classOf[GraftCollection]).warn(
          s"SQ slab sidecar of '${config.name}' unreadable " +
            s"(${e.getClass.getSimpleName}); cold-rebuilding " +
            s"(rebuild #$sidecarRebuilds for this handle — a count > 1 " +
            "means a PERSISTENT format problem, not a one-off upgrade)", e)
      }
    }
    locally {
      require(hasVectorIndex,
        s"collection '${config.name}' has no vector index; run buildVectorIndex() first")
      require(hasScalarQuantModel,
        s"collection '${config.name}' has no scalar quantizer; run " +
          "buildScalarQuantModel() first")
      packedSqIdx = Some(PackedSq.packIvfSqStr(
        df.where(col("embedding").isNotNull),
        ModelStore.loadIvf(spark, ivfDir), ModelStore.loadSq(spark, sqModelDir),
        "id", "embedding"))
    }
  }

  def hasPackedSqIndex: Boolean = packedSqIdx.isDefined

  /** Warm-start sidecar fallbacks this handle has paid (public read of
    * the [[sidecarRebuilds]] gauge): a value > 1 on a handle that
    * re-opens the SAME sidecar means the persisted slab format is
    * persistently unreadable — the engine is silently paying a full cold
    * pack on every open. Operator-visible without log scraping. */
  def warmStartRebuilds: Int = sidecarRebuilds

  private[graft] def residentPackedSq: Option[PackedSq.PackedSqCorpus[String]] = packedSqIdx

  /** [[annQuery]] through the resident SQ8 tier ([[buildPackedSqIndex]]
    * on first use): per-query per-dim byte LUTs score only the probed
    * cells' codes; distances are the decoded-space metric (the
    * reference's SQ search serves these directly, quantization.py:154-174
    * — no rerank needed at 8 bits/dim). nProbe = numCells reproduces
    * [[Quantization.sqSearch]] exactly. Same output shape as [[query]]. */
  def packedSqQuery(queries: DataFrame, k: Int = 10, nProbe: Int = 4,
                    where: Option[Filter] = None): DataFrame = {
    ensureFreshPackedSq()
    if (packedSqIdx.isEmpty) buildPackedSqIndex()
    val (q, qRows, qArr) = collectQueries(queries)
    if (qArr.isEmpty) return packedResult(q, qRows, Array.empty)
    where match {
      case None => packedResult(q, qRows, sqSearchRecovering(qArr, k, nProbe))
      case Some(f) =>
        // the packedAnnQuery filtered contract: probed cells return a
        // selectivity-sized page, one id-pushdown membership job marks
        // passing ids, survivors keep their decoded-space distances —
        // approximate by contract (probed cells only); exact filtered
        // membership lives on query/packedQuery
        val over = sqSearchRecovering(qArr, filterPage(k, f), nProbe)
        val candIds = over.iterator.flatMap(_._2.iterator.map(_._1)).toSet.toSeq
        val pass = filterMembership(candIds, f)
        packedResult(q, qRows, over.map { case (qi, nbrs) =>
          (qi, nbrs.filter(n => pass(n._1)).take(k)) })
    }
  }

  /** [[ensureFreshPacked]] for the SQ tier. */
  private def ensureFreshPackedSq(): Unit = {
    if (packedSqIdx.isEmpty) return
    val current = Collections.readMutationCount(spark, dir)
    if (current != packedSqStamp) {
      if (autoRebuildStalePacked) {
        packedSqIdx.foreach(_.unpersist()); packedSqIdx = None
      } else throw new IllegalStateException(
        s"resident packed SQ index of collection '${config.name}' is STALE: " +
          s"the collection was mutated ${current - packedSqStamp} time(s) " +
          "through another handle or process since this handle packed it " +
          s"(packed at mutation $packedSqStamp, collection now at $current). " +
          "Rebuild via buildPackedSqIndex(), or set " +
          "autoRebuildStalePacked = true to rebuild on demand.")
    }
  }

  /** Kernel the SQ tier serves with: "exact" ([[PackedSq.searchSq]] —
    * bit-identical to Quantization.sqSearch, the oracle contract) or
    * "int" ([[PackedSq.searchSqInt]] — the integer-domain ADC, ~15-bit
    * query-side multiplier quantization, measurably faster at every
    * sweep shape with recall@10 unchanged; rankings can flip on exact
    * near-ties). Deployments routing to the byte tier for footprint
    * typically also want the int kernel; the default stays exact so the
    * tier's decoded-space bit-exactness contract holds out of the box. */
  var sqKernelDomain: String = "exact"

  /** SQ scan with the same warm-start loss recovery as
    * [[packedSearchRecovering]]. */
  private def sqSearchRecovering(qArr: Array[(Long, Array[Float])],
                                 k: Int, nProbe: Int): Array[(Long, Array[(String, Double)])] = {
    require(sqKernelDomain == "exact" || sqKernelDomain == "int",
      s"sqKernelDomain must be 'exact' or 'int': '$sqKernelDomain'")
    def run(): Array[(Long, Array[(String, Double)])] =
      if (sqKernelDomain == "int")
        PackedSq.searchSqInt[String](packedSqIdx.get, qArr, k, nProbe, config.metric)
      else
        PackedSq.searchSq[String](packedSqIdx.get, qArr, k, nProbe, config.metric)
    try run()
    catch { case e: Exception if slabReadFailure(e) =>
      org.slf4j.LoggerFactory.getLogger(classOf[GraftCollection]).warn(
        s"resident packed SQ index of '${config.name}' lost a warm-start " +
          "slab partition (sidecar dropped by a mutation); cold-rebuilding", e)
      buildPackedSqIndex()
      run()
    }
  }

  // ------------------------------------------- resident graph-ANN tier

  @transient private var packedGraphIdx: Option[PackedGraph.PackedGraphCorpus[String]] = None
  @transient private var packedGraphStamp: Long = -1L

  private def packedGraphDir = s"$dir/index_packed_graph"

  /** Build (or warm-start) the resident graph-ANN tier — the reference's
    * headline hnswlib index (vectordb.py:527), as one NSW graph per IVF
    * cell over the resident float slabs ([[operators.PackedGraph]]).
    * CRUD through this handle delta-maintains it: adds INSERT (the
    * graph's native op — [[PackedGraph.append]] walks new rows into the
    * standing per-cell graphs), deletes TOMBSTONE (HNSW mark-deleted:
    * dead rows keep routing walks, are never emitted), upserts compose
    * the two. Foreign mutations trip the mutation-stamp guard and the
    * next graph query rebuilds; a coarse-model change
    * ([[splitHotCells]]/retrain) kills it like every cell-routed tier.
    * Requires the persisted IVF model ([[buildVectorIndex]]) when
    * cold-building. */
  def buildPackedGraphIndex(degree: Int = 16, efConstruction: Int = 64): Unit = {
    packedGraphIdx.foreach(_.unpersist())
    val current = Collections.readMutationCount(spark, dir)
    packedGraphStamp = current
    packedGraphIdx = Some(
      if (PackedGraph.slabsExist(spark, packedGraphDir) &&
          sidecarStamp(packedGraphDir) == current)
        PackedGraph.loadSlabs[String](spark, packedGraphDir)
      else {
        require(hasVectorIndex,
          s"collection '${config.name}' has no vector index; run buildVectorIndex() first")
        val pi = PackedKnn.packIvfStr(
          df.where(col("embedding").isNotNull),
          ModelStore.loadIvf(spark, ivfDir), "id", "embedding")
        try PackedGraph.build[String](pi, degree, efConstruction, config.metric)
        finally pi.unpersist() // the graph tier holds its OWN slabs
      })
  }

  /** [[packedAnnQuery]] through the graph tier: probed cells run an
    * ef-bounded best-first walk instead of a full slab scan — at equal
    * ms/q the walk affords MORE probed cells, so recall beats the flat
    * cell scan (RecallFloorSpec's 1M floor). `ef <= 0` walks
    * exhaustively (the q143 exactness contract). Same output shape as
    * [[query]].
    *
    * With `where`, filtered search rides the walk via the reference's
    * filtered-HNSW over-fetch (vectordb.py:519-559 fetches k*10 from
    * hnswlib and post-filters) with [[packedQuery]]'s bounded-fallback
    * hardening: the walk over-fetches a selectivity-sized page per query
    * ([[filterPage]] — ~2k/selectivity, clamped), ONE id-pushdown
    * membership job marks the candidate ids that pass, survivors keep
    * their exact walk distances, and a query left under-filled while its
    * page came back full falls back to the EXACT filtered scan for that
    * query only
    * — every query returns k rows whenever k filtered rows exist.
    * Membership follows the probe/ef recall curve (probed cells only);
    * at full probe + unbounded ef it equals [[query]](..., where). */
  def packedGraphQuery(queries: DataFrame, k: Int = 10, nProbe: Int = 4,
                       ef: Int = 64, where: Option[Filter] = None): DataFrame = {
    ensureFreshPackedGraph()
    if (packedGraphIdx.isEmpty) buildPackedGraphIndex()
    val (q, qRows, qArr) = collectQueries(queries)
    where match {
      case None =>
        packedResult(q, qRows,
          if (qArr.isEmpty) Array.empty
          else graphSearchRecovering(qArr, k, nProbe, ef))
      case Some(_) if qArr.isEmpty => packedResult(q, qRows, Array.empty)
      case Some(f) =>
        val page = filterPage(k, f)
        // the walk must be allowed to KEEP a full page: ef below the page
        // size would truncate it before the filter ran (ef <= 0 stays
        // unbounded)
        val efPage = if (ef <= 0) ef else math.max(ef, page)
        val over = graphSearchRecovering(qArr, page, nProbe, efPage)
        val candIds = over.iterator.flatMap(_._2.iterator.map(_._1)).toSet.toSeq
        val pass = filterMembership(candIds, f)
        val kept = over.map { case (qi, nbrs) =>
          (qi, nbrs.filter(n => pass(n._1)).take(k)) }
        // an under-filled page proves the corpus exhausted only when
        // EVERY cell was probed — with fewer probes, unprobed cells may
        // still hold filtered rows, so an under-k query falls back
        // either way
        val allCellsProbed = nProbe >= packedGraphIdx.get.model.numCells
        val (served, refetch) = kept.partition { case (qi, survivors) =>
          survivors.length >= k ||
            (allCellsProbed && over(qi.toInt)._2.length < page)
        }
        lastFilteredFallbacks = refetch.length
        val fast = packedResult(q, qRows, served)
        if (refetch.isEmpty) fast
        else {
          val ids = refetch.map { case (qi, _) => qRows(qi.toInt).get(0) }
          fast.unionByName(
            query(q.where(col("query_id").isin(ids: _*)), k, where))
        }
    }
  }

  /** [[ensureFreshPacked]] for the graph tier. */
  private def ensureFreshPackedGraph(): Unit = {
    if (packedGraphIdx.isEmpty) return
    val current = Collections.readMutationCount(spark, dir)
    if (current != packedGraphStamp) {
      // the graph tier is never delta-maintained, so unlike the other
      // tiers a stale handle rebuilds unconditionally (a mutation ALWAYS
      // invalidates the adjacency — there is no maintained-fresh case to
      // protect with a fail-loud guard)
      packedGraphIdx.foreach(_.unpersist()); packedGraphIdx = None
    }
  }

  /** Graph walk with the same warm-start loss recovery as
    * [[packedSearchRecovering]]. */
  private def graphSearchRecovering(qArr: Array[(Long, Array[Float])],
                                    k: Int, nProbe: Int,
                                    ef: Int): Array[(Long, Array[(String, Double)])] =
    try PackedGraph.searchGraph[String](packedGraphIdx.get, qArr, k, nProbe,
      ef, config.metric)
    catch { case e: Exception if slabReadFailure(e) =>
      org.slf4j.LoggerFactory.getLogger(classOf[GraftCollection]).warn(
        s"resident graph index of '${config.name}' lost a warm-start " +
          "slab partition (sidecar dropped by a mutation); cold-rebuilding", e)
      buildPackedGraphIndex()
      PackedGraph.searchGraph[String](packedGraphIdx.get, qArr, k, nProbe,
        ef, config.metric)
    }

  /** True when the failure's cause chain is a missing `.slab` sidecar
    * file — the one unrecoverable-by-lineage read in the packed paths. */
  private def slabReadFailure(e: Throwable): Boolean = {
    var c: Throwable = e
    var depth = 0
    while (c != null && depth < 16) {
      val m = Option(c.getMessage).getOrElse("")
      if (m.contains(".slab") &&
          (c.isInstanceOf[java.io.FileNotFoundException] ||
            m.contains("FileNotFoundException") ||
            m.contains("does not exist")))
        return true
      c = c.getCause
      depth += 1
    }
    false
  }

  /** Shared query extraction for the packed paths: embed-if-needed,
    * collect (the packed operators' "queries are small" contract),
    * fail-loud on null vectors, positional long keys. An empty batch
    * yields an empty result like [[query]], not an exception. */
  private def collectQueries(queries: DataFrame)
      : (DataFrame, Array[org.apache.spark.sql.Row], Array[(Long, Array[Float])]) = {
    val q =
      if (queries.columns.contains("query_vec")) queries
      else embedder.embed(queries, "query_text", "query_vec")
    val qRows = q.select(col("query_id"), col("query_vec").cast("array<float>")).collect()
    val qArr = qRows.zipWithIndex.map { case (r, i) =>
      require(!r.isNullAt(1),
        s"packed query: query_vec is null for query_id=${r.get(0)}")
      (i.toLong, r.getSeq[Float](1).toArray) }
    (q, qRows, qArr)
  }

  /** Shared result assembly for the packed paths: positional query index
    * back to the caller's query_id (any type), join documents. */
  private def packedResult(q: DataFrame, qRows: Array[org.apache.spark.sql.Row],
                           res: Array[(Long, Array[(String, Double)])]): DataFrame = {
    val qidType = q.schema("query_id").dataType
    val outRows: Seq[org.apache.spark.sql.Row] = res.toSeq.flatMap { case (qi, nbrs) =>
      val qid = qRows(qi.toInt).get(0)
      nbrs.zipWithIndex.map { case ((nid, d), pos) =>
        org.apache.spark.sql.Row(qid, pos + 1, nid, d)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", qidType),
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("neighbor_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("distance", org.apache.spark.sql.types.DoubleType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(outRows.asJava, schema)
      .join(df.select(col("id").as("neighbor_id"), col("document")), "neighbor_id")
      .select(col("query_id"), col("rank"), col("neighbor_id").as("id"),
        col("document"), col("distance"))
  }

  // -------------------------------------------- persisted IVF vector index

  private def dedupDir = s"$dir/index_dedup"

  /** True once [[buildDedupIndex]] has run. */
  def hasDedupIndex: Boolean = Dedup.dedupIndexExists(dedupDir)

  /** Persist this collection's dedup sidecar (banded MinHash signatures +
    * hashed shingle sets, bucket-partitioned) so [[dedupIngest]] never
    * re-shingles the standing corpus. */
  def buildDedupIndex(numHashes: Int = 32, bands: Int = 8,
                      shingleN: Int = 3): Unit =
    Dedup.saveDedupIndex(
      df.where(col("document").isNotNull).select(col("id"), col("document")),
      "id", "document", dedupDir, numHashes, bands, shingleN)

  /** Incremental ingest dedup: batch docs with no near-duplicate in this
    * collection (LSH candidates from the persisted index, exact-verified
    * at `threshold`). Pass `accept = true` to also append the survivors'
    * signatures to the index, keeping it current for the next batch. */
  def dedupIngest(batch: DataFrame, batchId: String, batchText: String,
                  threshold: Double = 0.5, accept: Boolean = false): DataFrame = {
    require(hasDedupIndex,
      s"collection '${config.name}' has no dedup index; run buildDedupIndex() first")
    val survivors = Dedup.dedupAgainstIndex(
      batch.select(col(batchId).as("id"), col(batchText).as("document")),
      "id", "document", dedupDir, threshold)
    if (accept) Dedup.appendDedupIndex(dedupDir, survivors, "id", "document")
    survivors
  }

  private def ivfDir = s"$dir/index_ivf"

  /** True once [[buildVectorIndex]] has run. */
  def hasVectorIndex: Boolean = ModelStore.exists(ivfDir)

  /** Train and persist the IVF coarse quantizer for this collection — the
    * reference's fit-once/search-many split (quantization.py:85-106) with
    * the model stored as a ModelStore sidecar next to the data like the
    * BM25 index. The model is a statistical sketch of the vector
    * distribution: mutations do not invalidate it (new vectors are
    * assigned to cells at query time), so there is no per-write
    * maintenance; rebuild after the distribution shifts materially. */
  def buildVectorIndex(numCells: Int = 64, sampleFraction: Double = 1.0,
                       seed: Long = 42L): Unit = {
    // train FIRST (a crash mid-training must leave everything intact),
    // then delete the IVF slab sidecar — its partition-per-cell layout
    // (and the model riding inside it) belong to the OLD quantizer —
    // and only then persist the new model. Every crash window is
    // consistent: before the delete = old model + old sidecar; between
    // the two = old model (or new, below) + no sidecar, a cold re-pack;
    // never "new model, old-model sidecar" (a warm start silently
    // diverging from annQuery).
    val trained = Ann.trainIvf(df.where(col("embedding").isNotNull),
      "embedding", numCells, seed, sampleFraction = sampleFraction)
    val fsI = new org.apache.hadoop.fs.Path(packedIvfDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsI.delete(new org.apache.hadoop.fs.Path(packedIvfDir), true)
    // the PQ- and SQ-code sidecars' CELL layout also belongs to the old
    // coarse quantizer (raw codes and per-dim stats are model-independent,
    // but probe routing is not) — drop them with the IVF sidecar
    fsI.delete(new org.apache.hadoop.fs.Path(packedPqDir), true)
    fsI.delete(new org.apache.hadoop.fs.Path(packedSqDir), true)
    // a RESIDUAL quantizer is trained against the old cells' geometry:
    // re-encoding under new cells with old codebooks stays self-consistent
    // (encode and LUT agree) but quantizes the wrong distribution, so the
    // model dies with the coarse model it belonged to — retrain explicitly
    if (quantModelIsResidual) {
      org.slf4j.LoggerFactory.getLogger(classOf[GraftCollection]).warn(
        s"coarse retrain of '${config.name}' invalidates its RESIDUAL " +
          "product quantizer; dropping it — rerun buildQuantModel(residual = true)")
      fsI.delete(new org.apache.hadoop.fs.Path(pqModelDir), true)
      ModelStore.deleteIfExists(pqResidualMarker)
    }
    ModelStore.saveIvf(spark, trained, ivfDir)
    // the resident cell-partitioned packings were laid out by the OLD
    // model — serving from them would silently diverge from annQuery.
    // The FLAT packed index is model-independent and stays warm.
    packedIvfIdx.foreach(_.unpersist())
    packedIvfIdx = None
    packedPqIdx.foreach(_.unpersist())
    packedPqIdx = None
    packedSqIdx.foreach(_.unpersist())
    packedSqIdx = None
    // a model retrain changes ANN routing without touching the data dir,
    // so it must ALSO bump the mutation counter — otherwise a different
    // handle's resident IVF packing keeps serving the old centroids with
    // no way to notice. This handle's flat index is model-independent
    // and re-stamps as fresh; other handles' flat indexes go false-stale
    // (a spurious rebuild — the safe direction).
    val stamp = Collections.bumpMutationCount(spark, dir)
    if (packedIdx.isDefined) packedStamp = stamp
  }

  /** Approximate batch query through the persisted IVF index: each query
    * scores only its nProbe nearest cells' rows instead of the whole
    * collection (the scale path when [[query]]'s exact scan is too much).
    * Same input/output shape as [[query]]. */
  def annQuery(queries: DataFrame, k: Int = 10, nProbe: Int = 4): DataFrame = {
    require(hasVectorIndex,
      s"collection '${config.name}' has no vector index; run buildVectorIndex() first")
    val model = ModelStore.loadIvf(spark, ivfDir)
    val q =
      if (queries.columns.contains("query_vec")) queries
      else embedder.embed(queries, "query_text", "query_vec")
    Ann.ivfSearchStr(q.select(col("query_id"), col("query_vec")),
        df.where(col("embedding").isNotNull), model, k, nProbe, config.metric,
        corpusId = "id", vecCol = "embedding")
      .join(df.select(col("id").as("neighbor_id"), col("document")), "neighbor_id")
      .select(col("query_id"), col("rank"), col("neighbor_id").as("id"),
        col("document"), col("dist").as("distance"))
  }

  // ------------------------------------------------- persisted BM25 index

  private def indexDir = s"$dir/index_bm25"

  /** True once [[buildKeywordIndex]] has run; mutations then maintain the
    * sidecar incrementally and [[hybridQuery]] reads it instead of
    * re-indexing the corpus per call (reference hybrid_search.py:66-117). */
  def hasKeywordIndex: Boolean = Bm25.indexExists(indexDir)

  /** Build (or rebuild from scratch) the persisted BM25 sidecar. */
  def buildKeywordIndex(): Unit = {
    val idx = Bm25.buildIndex(df.where(col("document").isNotNull), "id", "document")
    try Bm25.saveIndex(idx, indexDir) finally idx.release()
  }

  /** The keyword sidecar's share of a write, committed as sidecar
    * generation `gen`: the appended docs are tokenized once on the
    * executors — the index's own tokenizer — and collected (a
    * driver-sized batch), so postings, doc lengths and the stats change
    * are built on the driver; replaced and deleted docs become sidecar
    * tombstones. Sidecar generations past `committed` belong to a write
    * that crashed before its commit and are dropped first. */
  private def keywordDelta(gen: Long, d: Delta, committed: Long): Unit = {
    import spark.implicits._
    val docs = d.rows.toSeq.flatMap(_.where(col("document").isNotNull)
      .select(col("id"), Bm25.tokenize(col("document"))).collect()
      .map(r => (r.getString(0), r.getSeq[String](1))))
    val appended =
      if (docs.isEmpty) None
      else Some((
        docs.groupBy(_._1).toSeq.flatMap { case (id, ds) =>
          ds.flatMap(_._2).groupBy(identity).map { case (t, ts) => (id, t, ts.size.toLong) }
        }.toDF("doc_id", "term", "tf"),
        docs.map { case (id, toks) => (id, toks.size) }.toDF("doc_id", "doc_len")))
    Bm25.commitDelta(indexDir, gen, appended,
      (docs.length.toLong, docs.map(_._2.size.toLong).sum),
      d.dead, d.removed, d.truncate, keep = _ <= committed)
  }

  /** The persisted keyword index as this collection's readers see it. */
  private[graft] def keywordIndex: Bm25.Index =
    Bm25.loadIndex(spark, indexDir, keywordVisible)

  /** The sidecar generations a reader may see: those the data committed. */
  private def keywordVisible: Long => Boolean = {
    val c = committedGen
    _ <= c
  }
}
