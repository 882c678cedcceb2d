package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** BM25 lexical retrieval as pure DataFrame algebra.
  *
  * Mirrors the reference's BM25Index (hybrid_search.py:40-179):
  *  - tokenizer: lowercase + `\b\w+\b` (hybrid_search.py:71-75)
  *  - idf = ln((N - df + 0.5)/(df + 0.5) + 1)   (hybrid_search.py:119-128)
  *  - score = Σ_terms tf·(k1+1)/(tf + k1·(1 - b + b·len/avglen)) · idf
  *    with k1=1.5, b=0.75                        (hybrid_search.py:130-154)
  *  - a term occurring m times in the QUERY contributes m times
  *    (the reference loops over the raw query token list).
  *
  * Scale shape: the inverted index IS the postings DataFrame — partitioned
  * by term it is exactly the reference's `term -> {doc: tf}` dict
  * (hybrid_search.py:63-65) distributed. Scoring a query = inner join of
  * query terms with postings (only docs sharing >=1 term are touched — the
  * same candidate pruning as hybrid_search.py:163-167) + one partial-final
  * aggregation. No shuffle of the corpus: postings can be bucketed by term.
  */
object Bm25 {
  val K1 = 1.5
  val B = 0.75

  /** Reference tokenizer: lowercase, split on non-word chars
    * (shared with TextAnalysis via Bm25Tokens). */
  def tokenize(c: Column): Column = graft.functions.Bm25Tokens.tokens(c)

  /** Index state: one small stats row + two derived relations.
    * `termBuckets` > 0 marks a persisted index whose postings carry a
    * `_tb` term-hash partition column (see [[saveIndex]]) — [[score]]
    * then prunes the postings scan to the query's buckets.
    * `materialized` marks a [[buildIndex]] product whose relations are
    * checkpoint-backed; [[release]] frees their storage. */
  final case class Index(postings: DataFrame,   // (doc_id, term, tf[, _tb])
                         docLengths: DataFrame, // (doc_id, doc_len)
                         nDocs: Long, avgDocLen: Double,
                         termBuckets: Int = 0,
                         materialized: Boolean = false) {
    /** Free the checkpointed relations of a [[buildIndex]] index (r15,
      * guide §5: operator-internal storage gets an explicit lifecycle —
      * a long-lived session building many ephemeral indexes must not
      * wait for GC/ContextCleaner to drop corpus-sized blocks). The
      * index must not be scored again afterwards: the checkpointed
      * lineage is truncated and cannot recompute. No-op for loaded
      * (sidecar-backed) or restricted indexes. */
    def release(): Unit = if (materialized) {
      Bm25.releaseCheckpoint(postings)
      Bm25.releaseCheckpoint(docLengths)
    }
  }

  /** Free the blocks of the RDD backing an eagerly localCheckpoint-ed
    * frame. `RDD.unpersist` would WARN that the lineage was truncated —
    * on every release, though releasing a checkpoint nobody scores again
    * is the intended lifecycle — so the blocks go through the context
    * directly ([[org.apache.spark.sql.graft.Bridge.releaseBlocks]]). */
  private[operators] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.graft.Bridge.releaseBlocks(lr.rdd)
      case _ => ()
    }

  /** Postings + doc lengths for a batch of documents — the incremental
    * maintenance unit shared by [[buildIndex]] and the persisted-index
    * delta paths. */
  def tokenizeDocs(docs: DataFrame, idCol: String,
                   textCol: String): (DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol).as("doc_id"),
      tokenize(col(textCol)).as("_toks"))
    (toks.select(col("doc_id"), explode(col("_toks")).as("term"))
       .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")),
     toks.select(col("doc_id"), size(col("_toks")).as("doc_len")))
  }

  def buildIndex(docs: DataFrame, idCol: String, textCol: String): Index = {
    val (postings0, docLengths0) = tokenizeDocs(docs, idCol, textCol)
    // r14: an in-memory Index IS an index — materialize the two slim
    // relations (the reference's BM25Index likewise holds them in memory,
    // hybrid_search.py:63-65). Unmaterialized, every consumer re-ran the
    // tokenize+explode pass: the stats row, score()'s df subquery, its
    // postings join and the doc-length join each re-tokenized the corpus
    // (4 passes per q22-shape query). Materialized: one pass per relation.
    // r15: EAGER localCheckpoint, not persist(). A lazy persist()
    // registers the plan in the CacheManager keyed by source PATH
    // (InMemoryFileIndex equality), so an ephemeral index built after the
    // same collection path was rewritten matched a STALE partially-built
    // cache and read deleted files (ClientSpec's mutated-collection
    // oracle, r14's one red test). The checkpoint (a) materializes while
    // the source files provably exist, (b) registers nothing that a later
    // same-path read could collide with, and (c) gives [[Index.release]]
    // a handle to free deterministically. MEMORY_AND_DISK semantics and
    // the one-pass-per-relation shape are unchanged; the persisted-
    // sidecar path (saveIndex/loadIndex) remains the standing-corpus
    // design.
    val postings = postings0.localCheckpoint(eager = true)
    val docLengths = docLengths0.localCheckpoint(eager = true)
    val stats = docLengths.agg(count(lit(1)), avg(col("doc_len"))).head()
    Index(postings, docLengths, stats.getLong(0),
      if (stats.isNullAt(1)) 0.0 else stats.getDouble(1),
      materialized = true)
  }

  /** Top-k TF-IDF keywords per document: (doc_id, rank, term, tfidf).
    *
    * tfidf = tf * ln((N+1)/(df+1)), ranked per doc on the ROUNDED score
    * (6 decimals, term as tie-break) — ranking on the raw double would let
    * a last-ulp ln() difference between engines flip ranks at the k
    * boundary.
    *
    * Scale shape: document frequency is one partially-aggregated shuffle
    * of the postings keyed by term (postings are unique per (doc, term),
    * so df is a plain count); the df join lands on the SAME term
    * partitioning — no broadcast of a full-vocabulary relation (the A4
    * lesson) and no second shuffle of the postings for the join; the
    * per-doc top-k window is the one remaining exchange, keyed by doc. */
  def tfidfKeywords(index: Index, topK: Int = 5): DataFrame = {
    val df = index.postings.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = index.postings.join(df, Seq("term"))
      .withColumn("tfidf",
        round(col("tf") * log(lit(index.nDocs + 1.0) / (col("df") + lit(1.0))), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
  }

  // ------------------------------------------------- persisted index sidecar

  /** The reference maintains its inverted index incrementally on
    * add/remove (hybrid_search.py:66-117) instead of re-indexing per
    * query. The batch analog: postings + doc-length relations persisted
    * NEXT TO the collection (slim parquet sidecars) plus a stats.json —
    * hybridQuery then reads them instead of re-tokenizing the corpus on
    * every call.
    *
    * The postings base is PARTITIONED BY a term-hash bucket `_tb` — the
    * distributed analog of the reference's term-keyed dict
    * (hybrid_search.py:63-65): a query only reads the <= |query terms|
    * buckets its terms hash into, so the scan prunes to a fixed number of
    * directories no matter how large the corpus vocabulary grows.
    *
    * Maintenance is merge-on-read (see the generation layout in
    * [[graft.sources.Collections]]): each delta appends its postings and
    * doc lengths as a new generation and records replaced or deleted docs
    * as tombstones, which [[loadIndex]] applies. No delta rewrites the
    * base. stats.json is the sidecar's commit point: it lists the
    * committed generations, each with its integer change to `n_docs` and
    * `sum_doc_len`, so the two stats follow every delta without a rescan
    * and `avg_doc_len = sum / n` stays bit-identical to `avg()` over the
    * doc lengths (an average of integers sums exactly in double).
    * [[compactIndex]] folds the generations back into the base. */
  def indexExists(dir: String): Boolean =
    ModelStore.pathExists(s"$dir/stats.json")

  /** Deterministic term-hash bucket (the postings partition key). */
  def termBucket(buckets: Int)(term: Column): Column =
    pmod(xxhash64(term), lit(buckets.toLong)).cast("int")

  /** Driver-side twin of [[termBucket]] — evaluates the SAME Catalyst
    * xxhash64 expression (seed 42) against a local string, so [[score]]
    * can turn its (driver-local) query terms into partition values
    * without running a Spark job. */
  private[graft] def termBucketLocal(buckets: Int)(term: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    // seed 42L = the seed functions.xxhash64 plants (hash.scala's default)
    val h = XxHash64(Seq(Literal.create(term, org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    (((h % buckets) + buckets) % buckets).toInt
  }

  /** One committed sidecar generation and its change to the two stats. */
  final case class Delta(gen: graft.sources.Collections.Generation,
                         dDocs: Long, dLen: Long)

  /** The committed sidecar state (stats.json). `nDocs`/`sumDocLen` count
    * every listed generation. */
  final case class Stats(nDocs: Long, sumDocLen: Long, termBuckets: Int,
                         gens: Seq[Delta]) {
    def avgDocLen: Double = if (nDocs == 0) 0.0 else sumDocLen.toDouble / nDocs
    /** The stats as seen by a reader that accepts only some generations
      * (a collection's sidecar accepts the generations its data
      * committed). */
    def view(visible: Long => Boolean): Stats = {
      val (seen, hidden) = gens.partition(d => visible(d.gen.gen))
      Stats(nDocs - hidden.map(_.dDocs).sum, sumDocLen - hidden.map(_.dLen).sum,
        termBuckets, seen)
    }
  }

  def saveIndex(index: Index, dir: String, termBuckets: Int = 64): Unit = {
    // no stats.json = no index: a crash mid-rebuild leaves the sidecar
    // absent (readers index on the fly) rather than new relations under
    // an old history's tombstones
    graft.sources.Collections.deleteIfExists(s"$dir/stats.json")
    graft.sources.Collections.swapWrite(
      index.postings.withColumn("_tb", termBucket(termBuckets)(col("term")))
        // cluster rows by bucket BEFORE the partitioned write: without this
        // every write task emits a file into every bucket directory
        // (tasks × buckets small files); clustered, each directory gets
        // O(1) files — the layout a 100TB postings relation needs
        .repartition(col("_tb")),
      s"$dir/postings", partitionCols = Seq("_tb"))
    graft.sources.Collections.swapWrite(index.docLengths, s"$dir/doclen")
    graft.sources.Collections.deleteIfExists(s"$dir/tombstones")
    // avg = fl(S/n), so fl(avg·n) is within S·2^-52 of S: exact after
    // rounding for any S < 2^51
    writeStats(dir, Stats(index.nDocs, math.round(index.avgDocLen * index.nDocs),
      termBuckets, Nil))
  }

  def writeStats(dir: String, st: Stats): Unit =
    // tmp + rename inside writeString: a crash mid-write never leaves a
    // torn stats.json (same stance as Collections.swapWrite); scheme-aware
    // so the sidecar follows the postings onto s3a/hdfs
    ModelStore.writeString(s"$dir/stats.json",
      s"""{"n_docs": ${st.nDocs}, "sum_doc_len": ${st.sumDocLen}, """ +
        s""""avg_doc_len": ${st.avgDocLen}, "term_buckets": ${st.termBuckets}, """ +
        s""""gens": "${st.gens.map(d => s"${d.gen.gen}:${d.dDocs}:${d.dLen}:${d.gen.flags}").mkString(",")}"}""")

  def readStats(dir: String): Stats = {
    val raw = ModelStore.readString(s"$dir/stats.json")
    def field(k: String): Option[String] =
      (s""""$k"\\s*:\\s*([-0-9.eE]+)""").r.findFirstMatchIn(raw).map(_.group(1))
    def need(k: String) = field(k)
      .getOrElse(throw new IllegalArgumentException(s"missing $k in index stats"))
    val n = need("n_docs").toLong
    Stats(n,
      // stats written before deltas carry only the average
      field("sum_doc_len").map(_.toLong)
        .getOrElse(math.round(need("avg_doc_len").toDouble * n)),
      need("term_buckets").toInt,
      """"gens"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(raw).toSeq
        .flatMap(_.group(1).split(",")).filter(_.nonEmpty).map { e =>
        val f = e.split(":", -1)
        Delta(graft.sources.Collections.Generation.parse(f(0).toLong, f(3)),
          f(1).toLong, f(2).toLong)
      })
  }

  private def tombDir(dir: String) = s"$dir/tombstones"

  /** The sidecar's live postings and doc lengths under a generation
    * history, `_gen` kept (dropped by [[loadIndex]], folded by
    * [[compactIndex]]). With no generations these are today's plain
    * reads of the two bases. */
  private def liveRelations(spark: org.apache.spark.sql.SparkSession, dir: String,
                            gens: Seq[Delta]): (DataFrame, DataFrame) = {
    import graft.sources.Collections
    Collections.recoverSwap(s"$dir/postings")
    Collections.recoverSwap(s"$dir/doclen")
    val postings0 = spark.read.parquet(s"$dir/postings")
    val doclen0 = spark.read.parquet(s"$dir/doclen")
    if (gens.isEmpty) (postings0, doclen0)
    else {
      val history = gens.map(d => d.gen -> (if (d.gen.tombstones)
        Collections.readIds(Collections.tombstonePath(tombDir(dir), d.gen.gen)) else Nil))
      val rowGens = gens.collect { case d if d.gen.rows => d.gen.gen }
      // postings generations are flat (`_tb` is a column there): a
      // partitioned base and partitioned generations cannot share a scan
      val postingsGens = Collections.readGenerations(spark, s"$dir/postings",
        org.apache.spark.sql.types.StructType(postings0.schema
          .filterNot(_.name == Collections.GenCol)),
        rowGens, withBase = false)
      (Collections.liveRows(
         postings0.unionByName(postingsGens, allowMissingColumns = true), "doc_id", history),
       Collections.liveRows(Collections.readGenerations(spark, s"$dir/doclen",
         doclen0.schema, rowGens), "doc_id", history))
    }
  }

  /** Load a persisted index. `visible` selects the generations this
    * reader accepts — all of them by default; a collection passes the
    * generations its data committed, so a delta written by a crashed
    * write is never read. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                visible: Long => Boolean = _ => true): Index = {
    val st = readStats(dir).view(visible)
    val (postings, docLengths) = liveRelations(spark, dir, st.gens)
    Index(postings.drop(graft.sources.Collections.GenCol),
      docLengths.drop(graft.sources.Collections.GenCol),
      st.nDocs, st.avgDocLen, termBuckets = st.termBuckets)
  }

  /** Drop the generations `keep` rejects — the uncommitted deltas of a
    * crashed write — from stats.json and from disk. Returns the kept
    * state. */
  def dropGens(dir: String, keep: Long => Boolean): Stats = {
    val st0 = readStats(dir)
    val st = st0.view(keep)
    if (st.gens.length != st0.gens.length) writeStats(dir, st)
    val listed = st.gens.map(_.gen.gen).toSet
    Seq("postings", "doclen").foreach(r =>
      graft.sources.Collections.sweepGenerations(s"$dir/$r", tombDir(dir), listed))
    st
  }

  /** Commit one delta generation: the appended docs' postings and doc
    * lengths (None for a pure deletion), tombstones for the replaced or
    * deleted doc ids, and the stats change — `added` and `removed` are
    * (docs, summed doc length) of the appended and the tombstoned live
    * docs. `truncate` hides every earlier generation instead. Generations
    * `keep` rejects are dropped first. Touches only the delta: no base
    * file is read or rewritten. */
  def commitDelta(dir: String, gen: Long, appended: Option[(DataFrame, DataFrame)],
                  added: (Long, Long), tombstones: Seq[Any], removed: (Long, Long),
                  truncate: Boolean = false, keep: Long => Boolean = _ => true): Unit = {
    import graft.sources.Collections
    val st = dropGens(dir, keep)
    require(st.gens.forall(_.gen.gen < gen),
      s"sidecar generation $gen is not newer than ${st.gens.map(_.gen.gen).max}")
    appended.foreach { case (postings, docLengths) =>
      // driver-sized deltas: one task, one file per generation
      postings.withColumn("_tb", termBucket(st.termBuckets)(col("term")))
        .withColumn(Collections.GenCol, lit(gen)).coalesce(1)
        .write.mode("overwrite").parquet(Collections.genDir(s"$dir/postings", gen))
      docLengths.withColumn(Collections.GenCol, lit(gen)).coalesce(1)
        .write.mode("overwrite").parquet(Collections.genDir(s"$dir/doclen", gen))
    }
    if (tombstones.nonEmpty)
      Collections.writeIds(Collections.tombstonePath(tombDir(dir), gen), tombstones)
    val (dn, dl) =
      if (truncate) (added._1 - st.nDocs, added._2 - st.sumDocLen)
      else (added._1 - removed._1, added._2 - removed._2)
    writeStats(dir, Stats(st.nDocs + dn, st.sumDocLen + dl, st.termBuckets,
      st.gens :+ Delta(Collections.Generation(gen, appended.isDefined,
        tombstones.nonEmpty, truncate), dn, dl)))
  }

  /** (docs, summed doc length) of a doc-length relation: one job. */
  private def lengthTotals(docLengths: DataFrame): (Long, Long) = {
    val r = docLengths.agg(count(lit(1)), coalesce(sum(col("doc_len")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def nextGen(dir: String): Long =
    (0L +: readStats(dir).gens.map(_.gen.gen)).max + 1

  /** Append-only delta for freshly indexed docs (standalone sidecars; a
    * collection commits through [[commitDelta]] at its own generation). */
  def appendDelta(dir: String, postings: DataFrame, docLengths: DataFrame): Unit =
    commitDelta(dir, nextGen(dir), Some((postings, docLengths)),
      lengthTotals(docLengths), Nil, (0L, 0L))

  /** Replace the postings/lengths of changed ids: tombstone the old docs
    * and append the re-tokenized replacements in one generation —
    * unaffected documents are never re-tokenized or rewritten. Pass empty
    * deltas for pure deletion. */
  def replaceDelta(dir: String, changedIds: DataFrame,
                   postings: DataFrame, docLengths: DataFrame): Unit = {
    val spark = changedIds.sparkSession
    val ids = changedIds.collect().map(_.get(0)).distinct.toSeq
    val removed = lengthTotals(
      loadIndex(spark, dir).docLengths.where(col("doc_id").isin(ids: _*)))
    commitDelta(dir, nextGen(dir), Some((postings, docLengths)),
      lengthTotals(docLengths), ids, removed)
  }

  /** Compaction for a delta-maintained index: fold the generations and
    * tombstones `keep` accepts into one rewrite of each base, then
    * rewrite postings buckets holding more than `maxFilesPerBucket`
    * parquet files (per-bucket atomic swap, cold buckets untouched) and
    * the flat doclen dir past the same threshold. Scores are identical
    * before and after — only the file layout changes. Returns the number
    * of relations rewritten (buckets, plus 1 per folded or compacted
    * flat relation).
    *
    * The fold swaps each base, then resets stats.json. Folded rows keep
    * their `_gen`, so a crash between the steps leaves a state the old
    * history still reads correctly (see [[graft.sources.Collections]]). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                   maxFilesPerBucket: Int = 8, keep: Long => Boolean = _ => true): Int = {
    import graft.sources.Collections
    require(indexExists(dir), s"no BM25 index at $dir")
    val st = dropGens(dir, keep)
    val folded =
      if (st.gens.isEmpty) 0
      else {
        val (postings, docLengths) = liveRelations(spark, dir, st.gens)
        Collections.swapWrite(postings.repartition(col("_tb")), s"$dir/postings",
          partitionCols = Seq("_tb"))
        Collections.swapWrite(docLengths.coalesce(1), s"$dir/doclen")
        writeStats(dir, st.copy(gens = Nil))
        Collections.deleteIfExists(tombDir(dir))
        2
      }
    folded + Collections.compactBuckets(spark, s"$dir/postings", maxFilesPerBucket) +
      (if (Collections.compactDir(spark, s"$dir/doclen", maxFilesPerBucket)) 1 else 0)
  }

  /** Restrict an index to the given doc ids (the pre-filtered hybrid
    * search path): semi-joins the slim relations — no re-tokenization —
    * and recomputes the two scalar stats over the survivors. Values are
    * identical to buildIndex over the filtered corpus. */
  def restrict(index: Index, ids: DataFrame): Index = {
    val keep = ids.select(col(ids.columns.head).as("doc_id"))
    val postings = index.postings.join(keep, Seq("doc_id"), "left_semi")
    val docLengths = index.docLengths.join(keep, Seq("doc_id"), "left_semi")
    val stats = docLengths.agg(count(lit(1)), avg(col("doc_len"))).head()
    Index(postings, docLengths, stats.getLong(0),
      if (stats.isNullAt(1)) 0.0 else stats.getDouble(1),
      termBuckets = index.termBuckets)
  }

  /** Score every matching document for a free-text query.
    * Returns (doc_id, score) — only docs sharing >= 1 query term. */
  def score(index: Index, queryText: String): DataFrame = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    // same character class as the document tokenizer — an ASCII-only split
    // here would shred accented/CJK query terms so they never match postings
    val qTermSeq = graft.functions.Bm25Tokens.tokenize(queryText)
      .groupBy(identity).map { case (t, xs) => (t, xs.size) }.toSeq
    val qTerms = qTermSeq.toDF("term", "q_mult")

    // Persisted (term-bucketed) index: the query's terms hash into a handful
    // of `_tb` partition values, so the postings scan prunes to those
    // directories — vocabulary-size-independent I/O, like the reference's
    // term-keyed dict lookup. The terms are driver-local, so the bucket
    // values are computed driver-side (no Spark job for a handful of ints).
    val postings =
      if (index.termBuckets > 0) {
        val bs = qTermSeq.map(t => termBucketLocal(index.termBuckets)(t._1)).distinct
        index.postings.where(col("_tb").isin(bs: _*))
      } else index.postings

    // Document frequency for the QUERY's terms only: semi-join the postings
    // down to query terms BEFORE aggregating. df is per-term, so dropping
    // other terms cannot change the value — identical results, but the
    // aggregate (and the broadcast below) is |query terms| rows instead of
    // the full corpus vocabulary.
    val df = postings
      .join(broadcast(qTerms.select("term")), "term")
      .groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = index.nDocs
    val idf = log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5))

    postings
      .join(broadcast(qTerms), "term")
      .join(broadcast(df), "term")
      .join(index.docLengths, "doc_id")
      .withColumn("_idf", idf)
      .withColumn("_contrib",
        col("q_mult") * col("_idf") * (col("tf") * (K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("doc_len") / index.avgDocLen)))
      .groupBy("doc_id")
      .agg(sum(col("_contrib")).as("score"))
  }

  /** BM25 top-k: (doc_id, score, rank), rank by (score desc, doc_id). */
  def search(index: Index, queryText: String, k: Int): DataFrame =
    score(index, queryText)
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)

  /** Weighted vector (+) keyword hybrid fusion, reference semantics
    * (hybrid_search.py:355-477):
    *  - both candidate sets fetched at fetch_k = 5*k
    *  - vector distance d -> similarity 1 - d/max(d) over the candidate set
    *  - keyword score s -> s/max(s) over the candidate set
    *  - combined = alpha*v + (1-alpha)*kw over the UNION of candidates
    *    (full outer join, missing side scores 0)
    *
    * @param vectorResults (doc_id, dist) — top fetch_k by vector distance
    * @param keywordResults (doc_id, score) — top fetch_k by BM25
    */
  def hybridFuse(vectorResults: DataFrame, keywordResults: DataFrame,
                 k: Int, alpha: Double = 0.5): DataFrame = {
    // batch-global max: a one-row broadcast join, not a window — the
    // candidate sets are k*5 rows so this stays tiny at any corpus scale
    val vMax = vectorResults.agg(max(col("dist")).as("_vmax"))
    val kMax = keywordResults.agg(max(col("score")).as("_kmax"))
    val v = vectorResults.crossJoin(broadcast(vMax))
      .select(col("doc_id"),
        when(col("_vmax") > 0, lit(1.0) - col("dist") / col("_vmax"))
          .otherwise(lit(1.0)).as("vector_score"))
    val kw = keywordResults.crossJoin(broadcast(kMax))
      .select(col("doc_id"),
        when(col("_kmax") > 0, col("score") / col("_kmax"))
          .otherwise(lit(0.0)).as("keyword_score"))
    v.join(kw, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("vector_score"), lit(0.0)).as("vector_score"),
        coalesce(col("keyword_score"), lit(0.0)).as("keyword_score"))
      .withColumn("score",
        lit(alpha) * col("vector_score") + lit(1 - alpha) * col("keyword_score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher SIGIR'09 —
    * public literature; the reference only ships weighted score fusion):
    * `score(d) = Σ_lists 1/(k0 + rank_d)`. Rank-based, so immune to the
    * score-scale mismatch between BM25 and vector distance that
    * [[hybridFuse]] has to max-normalize away.
    *
    * Ranks use deterministic tie-breaks — (dist asc, doc_id) on the
    * vector side, (round(score,6) desc, doc_id) on the keyword side, the
    * same orderings the candidate fetches use. The single-partition rank
    * windows are fine at any corpus scale because both inputs are already
    * top-fetch_k candidate lists (O(k) rows), not corpora.
    *
    * @param vectorResults (doc_id, dist) — top fetch_k by vector distance
    * @param keywordResults (doc_id, score) — top fetch_k by BM25
    */
  def rrfFuse(vectorResults: DataFrame, keywordResults: DataFrame,
              k: Int, k0: Int = 60): DataFrame = {
    val vWin = org.apache.spark.sql.expressions.Window
      .orderBy(col("dist"), col("doc_id"))
    val kWin = org.apache.spark.sql.expressions.Window
      .orderBy(desc("_r"), col("doc_id"))
    val v = vectorResults
      .withColumn("vec_rank", row_number().over(vWin))
      .select(col("doc_id"), col("vec_rank"))
    val kw = keywordResults
      .withColumn("_r", round(col("score"), 6))
      .withColumn("kw_rank", row_number().over(kWin))
      .select(col("doc_id"), col("kw_rank"))
    v.join(kw, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("vec_rank"), col("kw_rank"),
        (coalesce(lit(1.0) / (lit(k0) + col("vec_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("kw_rank")), lit(0.0))).as("rrf_score"))
      .orderBy(desc("rrf_score"), col("doc_id"))
      .limit(k)
  }
}
