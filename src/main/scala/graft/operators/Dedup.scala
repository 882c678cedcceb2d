package graft.operators

import graft.functions.{TextAnalysis, vector}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Document deduplication for training-data pipelines, at five fidelity /
  * cost points. Beyond the reference's surface (it has no dedup), but built
  * from the same primitives: hashing, shingles, similarity join.
  *
  * Scale design notes (the point of each variant):
  *  - exact: one hash-groupBy; shuffle keyed on the fingerprint, perfectly
  *    balanced unless the corpus is one giant duplicate class.
  *  - minhashLSH: the 100 TB path. Signatures are a per-row map pass;
  *    banding turns the quadratic all-pairs problem into an equi-join on
  *    (band, band-signature) — only colliding docs meet. Verification runs
  *    on the candidate pairs only.
  *  - simhash: per-row 60-bit sketch; near-dup = small Hamming distance.
  *    Pair generation via exact-prefix blocking would be next; here we
  *    emit the sketch (the per-row operator) and verify pairs on demand.
  *  - ngramJaccard: exact set-similarity join via shingle explode —
  *    correct oracle for the approximate variants, quadratic in the worst
  *    case, pruned by requiring a shared shingle.
  *  - embedding cosine: near-dup in embedding space = threshold similarity
  *    join on the kNN machinery.
  */
object Dedup {

  /** One op's cumulative star-mode degradation: band buckets over the
    * cap and the rows inside them (each such bucket contributed only
    * linear hub edges instead of all pairs). */
  final case class HotBucketStats(buckets: Long, rows: Long)

  /** Star-mode degradation registry — the data-side twin of the
    * per-bucket WARN: [[bandedPairCandidates]] records every linearized
    * bucket here (exact counts, keyed by op name), so a curation run
    * brackets its dedup passes with [[resetHotBucketStats]] /
    * [[hotBucketStats]] and ASSERTS zero degradation (or reports the
    * extent) instead of grepping executor logs. Driver-side state (the
    * hot-bucket decision is made on the driver), cumulative until reset;
    * [[Pipeline.prepare]] snapshots the delta across its near-dup stage
    * into the audit result. */
  private val hotBucketRegistry =
    scala.collection.mutable.Map.empty[String, HotBucketStats]

  /** Per-RUN collector: the JVM-global registry is cumulative across
    * every concurrent caller (the streaming ingest twin makes in-JVM
    * concurrency real), so a run diffing the global before/after can
    * read a neighbor run's degradation as its own. A scope installed by
    * [[withHotBucketScope]] captures exactly the degradation recorded on
    * THIS thread between entry and exit — the hot-bucket decision is
    * driven synchronously on the calling driver thread, so thread
    * identity IS run identity here. */
  private val hotBucketScope =
    new ThreadLocal[scala.collection.mutable.Map[String, HotBucketStats]]

  /** Run `body` with a private hot-bucket collector on this thread and
    * return (result, this run's degradation only). Nests: an inner scope
    * shadows the outer for its extent (the outer does NOT see the inner
    * run's counts — each bracket owns what IT drove). The global
    * cumulative registry still receives every event. */
  def withHotBucketScope[A](body: => A): (A, Map[String, HotBucketStats]) = {
    val prev = hotBucketScope.get()
    val mine = scala.collection.mutable.Map.empty[String, HotBucketStats]
    hotBucketScope.set(mine)
    try { val r = body; (r, mine.toMap) }
    finally { if (prev == null) hotBucketScope.remove() else hotBucketScope.set(prev) }
  }

  /** Regime the LAST [[minhashLsh]] call's verification semi-filter took
    * on this JVM: Some("broadcast") (doc list broadcast — the common
    * case) or Some("skipped") (candidate docs exceeded
    * `maxSemiFilterDocs`, filter elided — the all-dup corpus). Spec
    * observability only; both regimes emit identical pairs. */
  @volatile private[graft] var lastSemiFilterRegime: Option[String] = None

  /** Cumulative degradation per op since JVM start / last reset; empty =
    * every banded pass since then was exact all-pairs. For per-run
    * attribution under concurrency use [[withHotBucketScope]]. */
  def hotBucketStats: Map[String, HotBucketStats] =
    hotBucketRegistry.synchronized { hotBucketRegistry.toMap }

  def resetHotBucketStats(): Unit =
    hotBucketRegistry.synchronized { hotBucketRegistry.clear() }

  private def recordHotBuckets(op: String, buckets: Long, rows: Long): Unit = {
    val scoped = hotBucketScope.get()
    if (scoped != null) {
      val cur = scoped.getOrElse(op, HotBucketStats(0L, 0L))
      scoped(op) = HotBucketStats(cur.buckets + buckets, cur.rows + rows)
    }
    hotBucketRegistry.synchronized {
      val cur = hotBucketRegistry.getOrElse(op, HotBucketStats(0L, 0L))
      hotBucketRegistry(op) = HotBucketStats(cur.buckets + buckets, cur.rows + rows)
    }
  }

  /** Exact duplicate classes by normalized-text fingerprint.
    * Returns (fingerprint, n_dups, keeper_id) for classes with >= minSize
    * members; keeper = min doc id (deterministic survivor pick). */
  def exact(docs: DataFrame, idCol: String, textCol: String,
            minSize: Int = 1): DataFrame =
    docs.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keeper_id"))
      .where(col("n_dups") >= minSize)

  /** URL canonicalization for URL-level dedup (the RefinedWeb/CCNet
    * pre-pass: the same page is crawled under scheme, www, fragment,
    * tracking-parameter, and trailing-slash variants — canonicalize
    * BEFORE any content hashing and most "duplicates" never reach the
    * expensive stages). Heuristic, deliberately regex-only so the exact
    * same six rewrites run in any engine (the DuckDB oracle inlines
    * them): lowercase (hosts are case-insensitive; whole-URL lowercase
    * is the common pipeline simplification), strip scheme, strip a
    * leading `www.`, drop the fragment, drop `utm_*`/`fbclid`/`gclid`
    * tracking parameters, strip a trailing `/index.html` and a trailing
    * slash. Pure column algebra — codegen'd, no UDF. */
  def canonicalizeUrl(url: Column): Column = {
    val s1 = lower(url)
    val s2 = regexp_replace(s1, "^https?://", "")
    val s3 = regexp_replace(s2, "^www\\.", "")
    val s4 = regexp_replace(s3, "#.*$", "")
    val s5 = regexp_replace(s4, "[?&](utm_[a-z_]*|fbclid|gclid)=[^&]*", "")
    val s6 = regexp_replace(s5, "/index\\.html$", "")
    regexp_replace(s6, "/$", "")
  }

  /** URL-level dedup: group by [[canonicalizeUrl]], keep the LONGEST
    * document per canonical URL (ties by smallest id) — the survivor
    * convention of URL-dedup passes, where the longest capture is
    * usually the least-truncated crawl. Returns the surviving rows with
    * their `canonical_url` and the class size `n_variants`. One
    * fingerprint-keyed aggregation — the exact-dedup scale shape, no
    * pairs, no shuffle beyond the group-by. */
  def dedupByUrl(docs: DataFrame, urlCol: String, idCol: String,
                 textCol: String): DataFrame = {
    // null-URL rows carry no URL-dedup evidence and are EXCLUDED from
    // the result (grouping them as one null class would silently pick
    // one "survivor" among unrelated docs); callers wanting pass-through
    // union them back, as the Pipeline stage does
    val canon = docs.where(col(urlCol).isNotNull)
      .withColumn("canonical_url", canonicalizeUrl(col(urlCol)))
    // survivor pick as one struct-min aggregation (longest = smallest
    // negated length, ties by smallest id) — no Window sort
    val ranked = canon
      .select(col("canonical_url").as("_curl"),
        struct((-length(col(textCol))).as("_nl"), col(idCol).as("_id")).as("_rk"))
      .groupBy("_curl")
      .agg(min(col("_rk")).as("_win"), count(lit(1)).as("n_variants"))
    canon.join(ranked,
        col("canonical_url") === col("_curl") && col("_win._id") === col(idCol))
      .select(col(idCol), col(urlCol), col("canonical_url"), col("n_variants"))
  }

  // ---------------------------------------------------------------- MinHash

  /** Deterministic universal-hash parameters for the MinHash permutations:
    * h_i(x) = (a_i*x + b_i) mod P. Fixed constants so the DuckDB oracle
    * can inline the identical values. */
  val MinhashP: Long = 2147483647L // 2^31 - 1 (Mersenne prime)
  def minhashA(i: Int): Long = 1L + 2L * i
  def minhashB(i: Int): Long = (7919L * i) % MinhashP

  /** Multiplier of the mod-[[MinhashP]] rolling combine that turns
    * per-token md5-32 hashes into a shingle's signature-domain hash
    * (r14: replaces md5 of the joined shingle STRING — same 31-bit
    * domain, but no n-gram string is ever built and md5 runs over single
    * tokens once each). DuckDB replays it exactly: acc < P ~2^31,
    * acc*A + t < 2^31 * 2^20 + 2^32 << 2^63, so plain BIGINT arithmetic
    * never overflows on either engine. */
  val MinhashTokenA: Long = 1000003L

  /** MinHash signature: (doc_id, sig: array<long>[numHashes]) over token
    * n-gram shingles — ONE per-row kernel call
    * ([[TextAnalysis.minhashSignature]]; the signature domain is the
    * mod-P token-hash fold, replayed verbatim by the q28/q29 oracles).
    * A signature is a pure per-document function, so the old
    * explode-shingles + 32-column groupBy shape paid a corpus-sized
    * relation, its persist, and a hash-agg pass for something the scan
    * can compute in place — this is ZERO-shuffle. Empty-shingle and
    * null-text docs get sig of all P (sentinel). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 32, shingleN: Int = 3): DataFrame = {
    val a = (0 until numHashes).map(minhashA)
    val b = (0 until numHashes).map(minhashB)
    docs.select(col(idCol),
      coalesce(
        TextAnalysis.minhashSignature(col(textCol), shingleN, MinhashTokenA, MinhashP, a, b),
        array((0 until numHashes).map(_ => lit(MinhashP)): _*)).as("sig"))
  }

  /** Candidate (id_a, id_b) pairs from a banded relation, with the one
    * unbounded blowup of banded LSH closed: a single band bucket holding
    * K rows emits K²/2 pairs under the plain self-join, so a boilerplate
    * mega-cluster (millions of near-identical docs landing on one band
    * value) turns a linear stage quadratic at corpus scale. Contract:
    *
    *  - bucket sizes are counted FIRST (one aggregation over the banded
    *    relation — the same shuffle key the join itself uses), so the
    *    guard adds one cheap pass, never a second tokenization;
    *  - `hotBucketMode = "fail"`: any bucket over `maxBucket`
    *    rows aborts with the offending band values and sizes listed —
    *    the stage fails loud BEFORE the quadratic join launches;
    *  - `hotBucketMode = "star"` (default — corpora with legitimate
    *    mega-buckets that completed before the guard existed must keep
    *    completing; the degradation is LOGGED loud, per bucket): oversized
    *    buckets emit only
    *    (bucket-min, member) star edges — linear in K and connectivity-
    *    preserving for [[duplicateClusters]]-style workflows (every
    *    member stays attached to the bucket hub) — while buckets within
    *    the cap keep exact all-pairs candidates. The caller's exact
    *    verify (Jaccard / Hamming) still runs on every emitted edge, so
    *    emitted pairs are never WRONG; star mode trades pair recall
    *    inside mega-buckets for a linear bound — the curation stance
    *    where a 10k-copy cluster needs one surviving hub, not 50M
    *    verified pairs;
    *  - `maxBucket <= 0`: guard off (unbounded self-join).
    *
    * The hot-key list is at most |corpus| / maxBucket rows by
    * construction, so broadcasting it is always safe.
    *
    * Every star-mode degradation is additionally recorded in
    * [[hotBucketStats]] (exact bucket and row counts, per op) so a
    * curation run can ASSERT zero degradation from data instead of
    * grepping logs. */
  private[graft] def bandedPairCandidates(banded0: DataFrame,
                                          keyCols: Seq[String], docCol: String,
                                          maxBucket: Int, hotBucketMode: String,
                                          op: String): DataFrame = {
    require(hotBucketMode == "fail" || hotBucketMode == "star",
      s"hotBucketMode must be 'fail' or 'star': '$hotBucketMode'")
    def fullPairs(df: DataFrame): DataFrame = {
      val a = df.select(keyCols.map(col) :+ col(docCol).as("id_a"): _*)
      val b = df.select(keyCols.map(col) :+ col(docCol).as("id_b"): _*)
      a.join(b, keyCols).where(col("id_a") < col("id_b")).select("id_a", "id_b")
    }
    if (maxBucket <= 0) return fullPairs(banded0).distinct()
    val banded = banded0.persist()
    try {
      val counts = banded.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("_bc"))
      val worst = counts.where(col("_bc") > maxBucket)
        .orderBy(col("_bc").desc).limit(20).collect()
      val cand =
        if (worst.isEmpty) fullPairs(banded).distinct()
        else if (hotBucketMode == "fail")
          throw new IllegalStateException(
            s"$op: ${worst.length}${if (worst.length == 20) "+" else ""} band " +
              s"bucket(s) exceed maxBucket=$maxBucket rows — the candidate " +
              "self-join would go quadratic (K rows -> K^2/2 pairs). Worst: " +
              worst.map(r => keyCols.map(k => s"$k=${r.getAs[Any](k)}")
                  .mkString("(", ", ", ")") + s" size=${r.getAs[Long]("_bc")}")
                .mkString("; ") +
              ". Raise maxBucket deliberately, or pass hotBucketMode=\"star\" " +
              "to emit linear (bucket-min, member) edges inside oversized " +
              "buckets (connectivity-preserving for cluster workflows).")
        else {
          // exact degradation extent (not just the worst-20 listing): one
          // tiny aggregate over the same cached counts relation, recorded
          // in the driver-side registry so the event is visible in DATA,
          // not only in a WARN line a curation run would have to grep
          val ext = counts.where(col("_bc") > maxBucket)
            .agg(count(lit(1)).as("_k"), sum(col("_bc")).as("_r")).collect()(0)
          recordHotBuckets(op, ext.getLong(0), ext.getLong(1))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"$op: ${ext.getLong(0)} band " +
              s"bucket(s) exceed maxBucket=$maxBucket rows (${ext.getLong(1)} " +
              "rows inside them); emitting linear " +
              "(bucket-min, member) star edges inside them instead of all " +
              "pairs — connectivity-preserving for cluster workflows, but " +
              "pair recall inside these buckets is reduced. Worst: " +
              worst.map(r => keyCols.map(k => s"$k=${r.getAs[Any](k)}")
                  .mkString("(", ", ", ")") + s" size=${r.getAs[Long]("_bc")}")
                .mkString("; ") +
              ". Pass hotBucketMode=\"fail\" to abort instead, or raise " +
              "maxBucket to take the quadratic join deliberately.")
          val hotKeys = broadcast(
            counts.where(col("_bc") > maxBucket).select(keyCols.map(col): _*))
          val cold = banded.join(hotKeys, keyCols, "left_anti")
          val hotRows = banded.join(hotKeys, keyCols, "left_semi")
          val hubs = hotRows.groupBy(keyCols.map(col): _*)
            .agg(min(col(docCol)).as("id_a"))
          val star = hotRows.join(broadcast(hubs), keyCols)
            .where(col("id_a") < col(docCol))
            .select(col("id_a"), col(docCol).as("id_b"))
          fullPairs(cold).unionByName(star).distinct()
        }
      // materialize while `banded` is still cached: the caller unpersists
      // its own inputs right after, and candidates are verify-side small
      cand.localCheckpoint(eager = true)
    } finally banded.unpersist()
  }

  /** LSH banding: candidate pairs whose signatures collide in >= 1 band,
    * then verified with exact shingle-set Jaccard. Returns
    * (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    *
    * The shingle relation is computed once and reused for hashing,
    * signatures, sizes, and verification (one persist instead of five
    * re-tokenizations); candidate pairs stay tiny so verification is two
    * candidate-sided joins, never an all-pairs pass. Candidate generation
    * runs under the [[bandedPairCandidates]] hot-bucket guard: a
    * boilerplate mega-cluster fails loud (or degrades to linear star
    * edges) instead of stalling the stage quadratically. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 32, bands: Int = 8, shingleN: Int = 3,
                 threshold: Double = 0.5, maxBucket: Int = 8192,
                 hotBucketMode: String = "star",
                 maxSemiFilterDocs: Long = 250000L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // Pass 1 — signatures, ZERO shuffle: the full signature is a pure
    // per-document function ([[minhashSignatures]]), so no shingle
    // relation is materialized, persisted, or re-aggregated for it (the
    // old explode + 32-column groupBy shape paid a corpus-sized exploded
    // relation and a hash-agg pass; an interleaved matched-floor A/B
    // showed the per-row hash CPU was never the bound — the relation
    // machinery was). Windowless/null-text docs carry a NULL signature
    // and are dropped by the banding generator itself (posexplode of a
    // null array emits nothing) — a post-hoc sentinel Filter would be
    // alias-substituted below the projection by predicate pushdown and
    // run the kernel twice per row; and keeping empty docs would flood
    // one band bucket with spurious all-empty candidates.
    val a = (0 until numHashes).map(minhashA)
    val b = (0 until numHashes).map(minhashB)
    val sigs = docs.select(col(idCol).as("doc"),
      TextAnalysis.minhashSignature(col(textCol), shingleN,
        MinhashTokenA, MinhashP, a, b).as("sig"))
    // band_sig is xxhash64 of the band's joined minima (~8 B key): the
    // banded self-join shuffles this key twice plus the bucket-count pass
    // once. A 64-bit band collision only ADDS a candidate pair, and every
    // candidate is exactly verified below — no output can change.
    val banded = sigs.select(col("doc"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bi => xxhash64(concat_ws(",", slice(col("sig"), bi * rowsPerBand + 1, lit(rowsPerBand))))))
        .as(Seq("band", "band_sig")))
    val candidates = bandedPairCandidates(banded, Seq("band", "band_sig"),
      "doc", maxBucket, hotBucketMode, "minhashLsh")
    // Pass 2 — exact verification, CANDIDATE-sided from the first byte:
    // the corpus is re-scanned (cheaper than persisting an exploded
    // n-gram stream at any real scale — the dupNgramSpans argument), the
    // candidate-doc filter applies BEFORE the explode, and the exploded
    // keys are the 8 B h64 window hashes (distinct per doc via the
    // primitive-array fast path). n_inter is collision-exact to ~1e-15
    // per pair and every emitted jaccard is computed from these exact
    // counts.
    //
    // The filter's regime is EXPLICIT (r13 verdict: relying on AQE meant
    // a heavily-duplicated corpus silently degraded to one extra
    // doc-keyed exchange — here it would be the full corpus EXPLODE).
    // candidates is already checkpointed, so counting its distinct docs
    // is one cheap job:
    //  - count <= maxSemiFilterDocs (the common case — near-dups are a
    //    corpus minority): broadcast() the doc list, which FORCES a
    //    BroadcastHashJoin LeftSemi; only the candidate minority is ever
    //    tokenized again or exploded.
    //  - count > maxSemiFilterDocs (an all-dup corpus): SKIP the filter.
    //    In that regime candDocs ~ the whole corpus, so it removes almost
    //    nothing — whole-corpus verification is the bound, not a
    //    regression.
    // Either way the answer is identical; DedupSpec asserts both regimes
    // emit the same pairs.
    val candDocs = candidates.select(col("id_a").as(idCol))
      .unionByName(candidates.select(col("id_b").as(idCol))).distinct()
    val nCandDocs = candDocs.count()
    lastSemiFilterRegime =
      if (nCandDocs <= maxSemiFilterDocs) Some("broadcast") else Some("skipped")
    val candCorpus =
      if (nCandDocs <= maxSemiFilterDocs)
        docs.join(broadcast(candDocs), Seq(idCol), "left_semi")
      else docs
    val sh = candCorpus.select(col(idCol).as("doc"),
        explode(array_distinct(TextAnalysis.tokenNgramKeys64(
          TextAnalysis.tokens(col(textCol)), shingleN))).as("h64"))
      .persist()
    try {
      val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
      val inter = candidates
        .join(sh.select(col("doc").as("id_a"), col("h64")), Seq("id_a"))
        .join(sh.select(col("doc").as("id_b"), col("h64")), Seq("id_b", "h64"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
      val out = inter
        .join(sizes.select(col("doc").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
        .join(sizes.select(col("doc").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
        .withColumn("jaccard",
          col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
        .where(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      out.localCheckpoint(eager = true)
    } finally sh.unpersist()
  }

  /** Exact n-gram Jaccard similarity join: all pairs sharing >= 1 shingle,
    * kept if jaccard >= threshold. The oracle for minhashLsh.
    *
    * Single-pass shape: the shingle self-join IS the intersection count
    * (group the collisions by pair), so no candidate materialization and
    * no second pass over the shingle sets — one shuffle keyed by shingle,
    * one keyed by pair.
    *
    * r14 (guide §2.3 "shuffle keys, not payloads" + §1.2 per-task work):
    * the join key is the 8-byte [[TextAnalysis.tokenNgramKeys64]] window
    * hash, not the ~25 B shingle STRING — no n-gram string is ever built
    * (the r13 profiles showed the text rungs CPU-bound on exactly that
    * concat+hash) and the self-join shuffles a long instead of a string.
    * Same key domain as [[minhashLsh]]'s verification: a 64-bit collision
    * (~2^-64 per window pair) can only nudge one intersection count; the
    * q31/q71 oracles verify at string level, so agreement is collision-
    * modulo by design, like q29/q94. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = docs.select(col(idCol).as("doc"),
        explode(array_distinct(TextAnalysis.tokenNgramKeys64(
          TextAnalysis.tokens(col(textCol)), shingleN))).as("h64"))
      .persist()
    try {
      val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
      val inter = sh.select(col("doc").as("id_a"), col("h64"))
        .join(sh.select(col("doc").as("id_b"), col("h64")), Seq("h64"))
        .where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
      val out = inter
        .join(sizes.select(col("doc").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
        .join(sizes.select(col("doc").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
        .withColumn("jaccard",
          col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
        .where(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      out.localCheckpoint(eager = true)
    } finally sh.unpersist()
  }

  /** [[ngramJaccard]] with PREFIX FILTERING (Chaudhuri et al., ICDE'06;
    * Xiao et al., WWW'08 "ppjoin"): provably the same output, with the
    * quadratic shingle self-join cut down to each doc's prefix.
    *
    * Order every doc's shingle set by a global total order (ascending
    * document frequency, shingle as tie-break — rare shingles first). If
    * J(A,B) >= t, the first |A| - ceil(t*|A|) + 1 shingles of A and the
    * corresponding prefix of B must share an element — so joining only
    * prefixes loses no qualifying pair, while the corpus's heavy-hitter
    * shingles (the self-join blowup: a shingle shared by k docs yields k^2
    * collision rows) sort to the END of each doc and mostly drop out of
    * the join entirely. Candidates are then verified with the full exact
    * intersection, candidate-sided.
    *
    * Cost shape: + one shuffle for shingle document frequency and one
    * doc-keyed window to rank; - the self-join volume shrinks from
    * sum_s df(s)^2 over ALL shingles to the same sum over prefix
    * occurrences of each shingle. At web scale the first term is the
    * operator-killer (stopword shingles), the second is bounded.
    *
    * Measured crossover: on the low-skew sf0.1 corpus (5k docs, no
    * heavy-hitter shingles) the plain join wins warm (3.8 s vs 8.2 s,
    * `graft.Profile <sfDir> jaccard`) — the extra shuffles cost more than
    * the self-join saves, so q31 stays on [[ngramJaccard]]; reach for
    * this variant when df(s) is Zipfian (real web text), where
    * sum df(s)^2 explodes and the prefix cut is the difference between
    * finishing and not. DedupSpec proves output identity at three
    * thresholds and on planted real-corpus near-dups. */
  def ngramJaccardPrefix(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingleSetsWithSize(docs, idCol, textCol, shingleN, "n_sh").persist()
    try {
      val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("_df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc").orderBy(col("_df").asc, col("shingle").asc)
      val prefix = sh.join(dfreq, Seq("shingle"))
        .withColumn("_rk", row_number().over(w))
        .where(col("_rk") <= col("n_sh") - ceil(lit(threshold) * col("n_sh")) + lit(1))
        .select(col("doc"), col("shingle"))
      val candidates = prefix.select(col("doc").as("id_a"), col("shingle"))
        .join(prefix.select(col("doc").as("id_b"), col("shingle")), Seq("shingle"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val inter = candidates
        .join(sh.select(col("doc").as("id_a"), col("n_sh").as("n_a"), col("shingle")), Seq("id_a"))
        .join(sh.select(col("doc").as("id_b"), col("n_sh").as("n_b"), col("shingle")),
          Seq("id_b", "shingle"))
        .groupBy("id_a", "id_b", "n_a", "n_b").agg(count(lit(1)).as("n_inter"))
      val out = inter
        .withColumn("jaccard",
          col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
        .where(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      out.localCheckpoint(eager = true)
    } finally sh.unpersist()
  }

  /** Duplicate-CLUSTER formation: connected components over a near-dup
    * pair list — the step between pair generation (minhashLsh /
    * ngramJaccard / embedding near-dup) and survivor selection. A chain
    * a~b~c is one duplicate class even when (a,c) itself never collided,
    * so pairwise output alone under-deletes.
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewires
    * every node's larger neighbors (large-star) and then its smaller
    * neighbors (small-star) to the minimum of the local neighborhood.
    * The edge relation contracts toward a star per component centered at
    * the component's MIN node in O(log n) rounds — where min-label
    * propagation needs O(component diameter) rounds, so a chain-shaped
    * component at corpus scale would mean hundreds of blocking jobs.
    *
    * Scale shape: the docs in >= 1 pair (a sliver of the corpus) are
    * dictionary-encoded ONCE to ints in id order ([[ResidentGraph]], one
    * sampling job); each round is three exchanges of packed int pairs
    * with no Catalyst plan, and ONE job: the round's output is compared
    * with its input range by range — both sorted over the same ranges —
    * so the fixpoint test is exact and costs nothing extra. `maxIters`
    * fails loud instead of returning partially-contracted labels.
    *
    * Returns (doc_id, cluster_id) for every doc in >= 1 pair (self-pairs
    * included); cluster_id = min doc id of the component (the
    * deterministic keeper, matching [[exact]]'s keeper_id convention). */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                        maxIters: Int = 50): DataFrame =
    duplicateClustersWithRounds(pairs, idA, idB, maxIters)._1

  /** [[duplicateClusters]] plus the number of large-star/small-star rounds
    * it took to converge, the fixpoint round included (exposed for the
    * O(log n) convergence tests). */
  private[graft] def duplicateClustersWithRounds(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 50): (DataFrame, Int) =
    ResidentGraph.run { scope =>
      val enc = ResidentGraph.encode(scope, pairs, idA, idB)
      val (labels, rounds) = ResidentGraph.components(scope, enc, maxIters)
      (ResidentGraph.labelFrame(enc, "doc_id", "cluster_id", labels), rounds)
    }

  /** Survivor selection: the deduplicated corpus given [[duplicateClusters]]
    * output — keep every doc that is its own cluster's keeper (cluster_id
    * == doc_id) or belongs to no cluster. One left join against the
    * (candidate-sized) cluster relation; the corpus never shuffles when
    * Spark broadcasts the small cluster side. */
  def dropDuplicatesByCluster(docs: DataFrame, clusters: DataFrame,
                              idCol: String): DataFrame = {
    val c = broadcast(clusters.select(col("doc_id").as(idCol), col("cluster_id")))
    docs.join(c, Seq(idCol), "left")
      .where(col("cluster_id").isNull || col("cluster_id") === col(idCol))
      .drop("cluster_id")
  }

  /** Quality-aware survivor selection: keep the highest-`scoreCol` doc of
    * each duplicate cluster ((score desc, id asc) tie-break) instead of
    * [[dropDuplicatesByCluster]]'s lowest-id representative — the policy
    * real curation pipelines want (keep the longest/cleanest copy, drop
    * the rest). Unclustered docs are their own singleton cluster and
    * always survive. One window over the cluster key; the cluster map is
    * duplicate-docs-only and broadcasts. */
  def survivorByScore(docs: DataFrame, clusters: DataFrame,
                      idCol: String, scoreCol: String): DataFrame = {
    val c = broadcast(clusters.select(col("doc_id").as(idCol), col("cluster_id")))
    val tagged = docs.join(c, Seq(idCol), "left")
      .withColumn("_ck", coalesce(col("cluster_id"), col(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_ck")).orderBy(desc(scoreCol), col(idCol))
    tagged.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_ck", "_rn", "cluster_id")
  }

  /** Corpus-level duplicated-paragraph detection — the CCNet/RefinedWeb
    * paragraph-dedup primitive (public papers; no reference-repo
    * counterpart): explode trimmed non-empty lines, hash-group them
    * corpus-wide, keep paragraphs seen in >= `minDocs` distinct documents.
    * One explode + one fingerprint-keyed partial-agg shuffle; boilerplate
    * paragraphs are found without any pairwise document comparison, so the
    * plan survives any corpus size (the group key is the paragraph hash,
    * and AQE handles the one genuinely hot key class — empty-ish
    * boilerplate — via skew-aware post-shuffle coalescing). */
  def duplicatedParagraphs(docs: DataFrame, idCol: String, textCol: String,
                           minDocs: Int = 2): DataFrame =
    docs
      .select(col(idCol).as("_doc"),
        explode(filter(transform(split(col(textCol), "\n"), l => trim(l)),
          l => l =!= lit(""))).as("para"))
      .groupBy(md5(col("para").cast("binary")).as("para_md5"))
      .agg(min(col("para")).as("para"),
        count(lit(1)).as("n_total"),
        countDistinct(col("_doc")).as("n_docs"),
        min(col("_doc")).as("first_doc"))
      .where(col("n_docs") >= minDocs)

  /** Line-level boilerplate REMOVAL — the repair counterpart of
    * [[duplicatedParagraphs]] (detection) and [[dupNgramSpans]]
    * (localization): rebuild each document with lines whose trimmed form
    * appears in >= `minDocs` DISTINCT documents removed (nav bars, cookie
    * banners, license footers — the RefinedWeb/CCNet line-dedup pass),
    * everything else kept in original order. Blank/whitespace lines are
    * never treated as boilerplate (they carry formatting, and blank-line
    * "boilerplate" would shred every document).
    *
    * Scale shape: the boilerplate set comes from ONE fingerprint-keyed
    * aggregation over the exploded line stream (no pairwise work); it
    * joins back by line fingerprint and a doc-keyed sort-agg reassembles
    * the text. Output is (idCol, textCol) for EVERY input doc — a doc
    * whose every line was boilerplate comes back with empty text, so the
    * caller decides drop policy (e.g. a length gate downstream). */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_line")))
      .withColumn("_fp", md5(trim(col("_line")).cast("binary")))
    val boiler = lines.where(trim(col("_line")) =!= "")
      .groupBy(col("_fp"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select(col("_fp"), lit(true).as("_boiler"))
    val rebuilt = lines.join(boiler, Seq("_fp"), "left")
      .where(col("_boiler").isNull)
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_pos"), col("_line")))),
          s => s.getField("_line")), "\n").as(textCol))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** N-gram-overlap contamination score, the PaLM/GPT-4-report style
    * membership check (public papers): for each eval document, the
    * fraction of its DISTINCT n-gram shingles that appear anywhere in the
    * training corpus. Differs from [[decontaminate]] (per-PAIR Jaccard):
    * this is per-eval-doc containment against the train corpus as a set.
    *
    * The train shingle set is deduplicated corpus-wide and hit via one
    * shuffle equi-join on the shingle; the train corpus is scanned once
    * and there is no train-doc-id in the join key, so no pairwise blowup
    * — output cardinality is exactly |eval docs|. */
  def contaminationOverlap(train: DataFrame, evalDocs: DataFrame,
                           idCol: String, textCol: String,
                           shingleN: Int = 3): DataFrame = {
    // r14: 8-byte window-hash keys, no shingle strings (the ngramJaccard
    // key-domain move; the q78 oracle stays at string level, agreement
    // collision-modulo ~2^-64)
    val trainSh = train
      .select(explode(array_distinct(TextAnalysis.tokenNgramKeys64(
        TextAnalysis.tokens(col(textCol)), shingleN))).as("h64"))
      .distinct()
      .withColumn("_hit", lit(1))
    val evalSh = evalDocs
      .select(col(idCol), explode(array_distinct(TextAnalysis.tokenNgramKeys64(
        TextAnalysis.tokens(col(textCol)), shingleN))).as("h64"))
    val agg = evalSh.join(trainSh, Seq("h64"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("_hit"), lit(0))).as("n_matched"))
    evalDocs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        round(when(coalesce(col("n_shingles"), lit(0L)) > 0,
            col("n_matched").cast("double") / col("n_shingles"))
          .otherwise(0.0), 6).as("overlap_frac"))
  }

  /** Cross-document duplicate SPAN detection — the ExactSubstr dedup of
    * Lee et al. '22 ("Deduplicating Training Data Makes Language Models
    * Better") at word-n-gram granularity: find every maximal token span
    * that is covered by n-grams occurring in >= 2 distinct documents, and
    * summarize per document (span count, duplicated-token count/fraction).
    * Unlike document-level Jaccard this localizes WHICH passage is
    * boilerplate, so a pipeline can cut the span and keep the document.
    *
    * Plan shape (no suffix array needed):
    *  1. each pass emits (doc, start, key64) where key64 is xxhash64
    *     over the window's per-token xxhash64 values
    *     ([[TextAnalysis.tokenNgramKeys64]]) — no n-gram STRING is ever
    *     built (r14: the concat_ws+hash build was the 1M rung's CPU
    *     bound; tokens now hash once each and every window key is one
    *     n-arg xxhash64 combine), and the 8-byte key never ships long
    *     strings through the shuffle. Collision odds are unchanged from
    *     hashing the string (~2^-64 per window pair) — at 33M n-grams/1M
    *     docs ~3e-5 for ONE extra span edge, noise next to the n-gram
    *     heuristic itself;
    *  2. cross-doc n-grams = one groupBy on the hash keeping keys with
    *     min(doc) != max(doc) — equivalent to countDistinct(doc) >= 2 but
    *     a PLAIN map-side-combinable aggregate, not the Expand +
    *     double-aggregate plan count-distinct costs; the survivors join
    *     back onto a second n-gram pass (two corpus scans by design:
    *     persisting the exploded n-gram stream would cost ~n x corpus in
    *     memory/disk, strictly worse than re-scanning the source at any
    *     real scale; AQE broadcasts the survivor side when it is small);
    *  3. span merge is gaps-and-islands per document: a window keyed by
    *     doc — embarrassingly parallel across docs, no global sort. The
    *     join output needs NO distinct: one n-gram per (doc, start) and
    *     unique survivor keys mean the join cannot fan out.
    * Within-doc repeats (same n-gram twice in ONE doc) do NOT flag a span;
    * the signal is cross-document duplication.
    *
    * Returns (idCol, n_spans, dup_tokens, total_tokens, dup_frac) for
    * documents containing at least one duplicated span. */
  def dupNgramSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 5): DataFrame = {
    require(n >= 2, s"span n-gram order must be >= 2: $n")
    val w = org.apache.spark.sql.expressions.Window
    val tk = docs.select(col(idCol), Bm25.tokenize(col(textCol)).as("_tk"))
    // 1-based n-gram start positions, rolling-hash-keyed (positions stay
    // with the row). The doc's token count rides along so there is no
    // separate totals scan or join — every output doc has >= 1 n-gram,
    // and for those total_tokens is recoverable from any n-gram row.
    val ng = tk.where(size(col("_tk")) >= n)
      .select(col(idCol), size(col("_tk")).cast("long").as("_len"),
        posexplode(TextAnalysis.tokenNgramKeys64(col("_tk"), n)))
      .select(col(idCol), col("_len"), (col("pos") + 1).as("_start"),
        col("col").as("_key"))
    val dupKeys = ng.groupBy(col("_key"))
      .agg(min(col(idCol)).as("_d0"), max(col(idCol)).as("_d1"))
      .where(col("_d0") =!= col("_d1")).select(col("_key"))
    val hits = ng.join(dupKeys, Seq("_key"))
      .select(col(idCol), col("_len"), col("_start"))
    // gaps-and-islands: a new span starts when this n-gram neither overlaps
    // nor touches the running max end of the preceding hits
    val byDoc = w.partitionBy(col(idCol)).orderBy(col("_start"))
    val prevEnd = max(col("_start") + lit(n - 1))
      .over(byDoc.rowsBetween(w.unboundedPreceding, -1))
    val spans = hits
      .withColumn("_new", when(prevEnd.isNull || col("_start") > prevEnd + 1, 1)
        .otherwise(0))
      .withColumn("_isl", sum(col("_new")).over(byDoc.rowsBetween(w.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("_isl"))
      .agg(min(col("_start")).as("_s"), (max(col("_start")) + lit(n - 1)).as("_e"),
        first(col("_len")).as("_len"))
    spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("_e") - col("_s") + 1).cast("long").as("dup_tokens"),
        first(col("_len")).as("total_tokens"))
      .select(col(idCol), col("n_spans"), col("dup_tokens"), col("total_tokens"),
        round(col("dup_tokens") * lit(1.0) / col("total_tokens"), 6).as("dup_frac"))
  }

  // -------------------------------------------------------- Decontamination

  /** Benchmark decontamination: training documents whose n-gram Jaccard
    * against ANY eval/benchmark document reaches `threshold` — the pairs a
    * training-data pipeline must drop before the eval is meaningful.
    *
    * Exact cross-corpus form (the oracle): shingle equi-join between the
    * two corpora. The eval side is a benchmark — thousands of docs against
    * a billions-of-docs train side — so its shingle relation is BROADCAST:
    * the train corpus is read once, never shuffled, and the join degenerates
    * to a map-side hash probe per train shingle. Returns
    * (train_id, eval_id, jaccard) with jaccard >= threshold. */
  /** Doc-level duplication signal — the DECISION-side complement of
    * [[dupNgramSpans]]'s localization: per doc, the fraction of its
    * DISTINCT n-grams that occur in at least one OTHER document (Lee'22
    * drop rules act on exactly this number: a doc that is mostly
    * duplicated elsewhere goes, one with an incidental shared quote
    * stays). Two shuffles: the gram-keyed count, and the doc-keyed
    * fraction — no pairwise work anywhere. Docs with fewer than n tokens
    * have no n-grams and are absent from the output.
    *
    * r14 key domain (guide §1.2/§2.3, the q94/q29 stance): grams are
    * keyed by the 8-byte [[TextAnalysis.tokenNgramKeys64]] window hash —
    * no n-gram STRING is built and no per-element md5 lambda runs (the
    * md5-32 form was the q107 CPU bound: string build + md5 per gram in
    * an interpreted transform). Set semantics therefore sit at the
    * 64-bit-hash level (collision odds ~2^-64 per gram pair vs the old
    * md5-32's 2^-32, where ~100 real collisions existed corpus-wide at
    * sf0.1); the q107 oracle counts distinct gram STRINGS in lockstep —
    * agreement is collision-modulo by design, and strictly tighter than
    * before. */
  def dupNgramFraction(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 5): DataFrame = {
    val sh = docs.select(col(idCol).as("doc"),
        array_distinct(TextAnalysis.tokenNgramKeys64(
          TextAnalysis.tokens(col(textCol)), n)).as("_hs"))
      .select(col("doc"), size(col("_hs")).cast("long").as("n_sh"),
        explode(col("_hs")).as("h"))
    val counts = sh.groupBy("h").agg(count(lit(1)).as("_nd"))
    sh.join(counts, "h")
      .groupBy(col("doc"), col("n_sh"))
      .agg(sum(when(col("_nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc").as(idCol), col("n_sh").as("n_ngrams"),
        col("n_dup"),
        round(col("n_dup").cast("double") / col("n_sh"), 6).as("dup_frac"))
  }

  def decontaminate(train: DataFrame, evalDocs: DataFrame,
                    idCol: String, textCol: String,
                    shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    // per-doc shingle counts are computed BEFORE exploding (size of the
    // distinct-shingle array, a per-row expression) so neither corpus is
    // ever shuffled to learn its own set size. r14: sets are keyed by the
    // 8-byte tokenNgramKeys64 window hash — the billions-of-docs train
    // side never builds an n-gram string, and the broadcast probe hashes
    // longs (the ngramJaccard key-domain move; q65/q93 oracles verify at
    // string level, agreement collision-modulo ~2^-64)
    val shT = shingleKeySetsWithSize(train, idCol, textCol, shingleN, "n_t")
    val shE = shingleKeySetsWithSize(evalDocs, idCol, textCol, shingleN, "n_e")
    shT
      .join(broadcast(shE.select(col("doc").as("eval_id"), col("n_e"), col("h64"))),
        Seq("h64"))
      .groupBy(col("doc").as("train_id"), col("eval_id"), col("n_t"), col("n_e"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_t") + col("n_e") - col("n_inter")))
      .where(col("jaccard") >= threshold)
      .select(col("train_id"), col("eval_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental ingest dedup: the rows of a NEW `batch` that do NOT
    * near-duplicate (n-gram Jaccard >= threshold) any document already in
    * `corpus` — the "new crawl snapshot" operation, deduplicating an
    * increment against an existing corpus WITHOUT re-clustering the
    * corpus. Same asymmetric shape as [[decontaminate]] (batch shingles
    * broadcast, corpus scanned once and never shuffled), then one
    * anti-join of the batch against the (batch-sized, broadcastable)
    * duplicate-id set. Batch-internal duplicates are out of scope here —
    * run the symmetric dedup on the survivors if needed. */
  def dedupAgainstCorpus(corpus: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val dupIds = decontaminate(corpus, batch, idCol, textCol, shingleN, threshold)
      .select(col("eval_id").as(idCol)).distinct()
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  /** MinHash-banded decontamination for when even one shingle-level pass
    * over the train corpus per eval release is too much: both corpora get
    * the SAME deterministic signature permutations, the eval side's banded
    * signatures are broadcast, and only train docs colliding with an eval
    * doc in >= 1 band are exact-verified. Output ⊆ [[decontaminate]]
    * (every emitted pair is exact-verified); banding recall is the
    * standard 1-(1-s^r)^b curve. */
  def decontaminateLsh(train: DataFrame, evalDocs: DataFrame,
                       idCol: String, textCol: String,
                       numHashes: Int = 32, bands: Int = 8,
                       shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    def hashed(docs: DataFrame, nCol: String) =
      shingleSetsWithSize(docs, idCol, textCol, shingleN, nCol)
        .withColumn("h", TextAnalysis.md5Hash32(col("shingle")))
    def banded(sh: DataFrame) = {
      val minExprs = (0 until numHashes).map { i =>
        min(pmod(lit(minhashA(i)) * col("h") + lit(minhashB(i)), lit(MinhashP))).as(s"m$i")
      }
      sh.groupBy(col("doc"))
        .agg(minExprs.head, minExprs.tail: _*)
        .select(col("doc"), posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => concat_ws(",", slice(
            array((0 until numHashes).map(i => col(s"m$i")): _*),
            b * rowsPerBand + 1, lit(rowsPerBand)))))
          .as(Seq("band", "band_sig")))
    }
    val shT = hashed(train, "n_t").persist()
    val shE = hashed(evalDocs, "n_e").persist()
    try {
      val candidates = banded(shT).select(col("band"), col("band_sig"), col("doc").as("train_id"))
        .join(broadcast(banded(shE).select(col("band"), col("band_sig"), col("doc").as("eval_id"))),
          Seq("band", "band_sig"))
        .select("train_id", "eval_id").distinct()
      // exact verification is candidate-sided: the train shingle relation
      // is semi-joined down to colliding docs before any shuffle
      val inter = candidates
        .join(shT.select(col("doc").as("train_id"), col("n_t"), col("shingle")), Seq("train_id"))
        .join(broadcast(shE.select(col("doc").as("eval_id"), col("n_e"), col("shingle"))),
          Seq("eval_id", "shingle"))
        .groupBy("train_id", "eval_id", "n_t", "n_e").agg(count(lit(1)).as("n_inter"))
      val out = inter
        .withColumn("jaccard",
          col("n_inter").cast("double") / (col("n_t") + col("n_e") - col("n_inter")))
        .where(col("jaccard") >= threshold)
        .select(col("train_id"), col("eval_id"),
          round(col("jaccard"), 6).as("jaccard"))
      out.localCheckpoint(eager = true)
    } finally { shT.unpersist(); shE.unpersist() }
  }

  // ---------------------------------------------- persisted dedup index

  /** Parameters of a persisted dedup sidecar (see [[saveDedupIndex]]). */
  final case class DedupIndexStats(numHashes: Int, bands: Int, shingleN: Int,
                                   bandBuckets: Int, docBuckets: Int,
                                   nDocs: Long)

  def dedupIndexExists(dir: String): Boolean =
    ModelStore.pathExists(s"$dir/stats.json")

  private def bandBucket(buckets: Int)(band: Column, sig: Column): Column =
    pmod(xxhash64(band, sig), lit(buckets.toLong)).cast("int")

  private def docBucket(buckets: Int)(doc: Column): Column =
    pmod(xxhash64(doc), lit(buckets.toLong)).cast("int")

  /** Hashed distinct shingle sets: (doc, n_sh, h) with h = the
    * signature-domain window fold ([[TextAnalysis.tokenFoldKeys]] —
    * `acc * MinhashTokenA + md5_32(token) mod MinhashP` per window) and
    * n_sh = |distinct h| (set semantics at the HASH level, so every
    * engine computing the same fold agrees end to end). r15 (guide
    * §1.2/§4; the q29/q107 migration finishing in the sidecar): the
    * md5-of-joined-shingle-STRING form built a ~25 B string per window
    * and md5-hashed it; the kernel hashes each token once and folds
    * windows arithmetically — same 31-bit domain class, no string ever
    * materializes. Sidecars key on this domain ([[DedupIndexKeyDomain]]);
    * the q98 oracle replays the fold in BIGINT arithmetic. */
  private def hashedShingleSets(docs: DataFrame, idCol: String,
                                textCol: String, shingleN: Int): DataFrame =
    docs.select(col(idCol).as("doc"),
        array_distinct(TextAnalysis.tokenFoldKeys(
          TextAnalysis.tokens(col(textCol)), shingleN,
          MinhashTokenA, MinhashP)).as("_hs"))
      .select(col("doc"), size(col("_hs")).cast("long").as("n_sh"),
        explode(col("_hs")).as("h"))

  /** (doc, band, band_sig) LSH banding of the minhash signature computed
    * from a hashed shingle stream — the persisted-index banding kernel.
    * r15: band_sig is xxhash64 of the band's joined minima (8 B), not the
    * joined STRING (~40 B) — the [[minhashLsh]] r14 stance: a 64-bit band
    * collision only ADDS a candidate pair, and every candidate is exactly
    * verified downstream, so agreement with the string-banded oracle is
    * collision-modulo (~2^-64) by design. On disk the bands sidecar
    * shrinks to a fixed-width long column and the probe join ships 8 B
    * keys. */
  private def bandedSignatures(sh: DataFrame, numHashes: Int,
                               bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val minExprs = (0 until numHashes).map { i =>
      min(pmod(lit(minhashA(i)) * col("h") + lit(minhashB(i)), lit(MinhashP))).as(s"m$i")
    }
    sh.groupBy(col("doc"))
      .agg(minExprs.head, minExprs.tail: _*)
      .select(col("doc"), posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(
          array((0 until numHashes).map(i => col(s"m$i")): _*),
          b * rowsPerBand + 1, lit(rowsPerBand))))))
        .as(Seq("band", "band_sig")))
  }

  /** Persist the corpus's dedup state as a collection sidecar — the BM25
    * sidecar pattern (Bm25.saveIndex) applied to dedup, so incremental
    * ingest does NOT re-minhash the standing corpus per batch (q93's
    * [[dedupAgainstCorpus]] shape re-shingles everything every call;
    * at 100 TB the corpus pass dwarfs any batch).
    *
    * Layout: `dir/bands` = (doc, band, band_sig) partitioned by a
    * 64-bucket hash of (band, band_sig) — a batch's probe keys prune the
    * read to their buckets; `dir/shingles` = (doc, n_sh, h) partitioned
    * by a hash of doc — exact verification reads only the candidate
    * docs' buckets; `stats.json` pins the signature parameters so every
    * later batch hashes identically. */
  def saveDedupIndex(docs: DataFrame, idCol: String, textCol: String,
                     dir: String, numHashes: Int = 32, bands: Int = 8,
                     shingleN: Int = 3, bandBuckets: Int = 64,
                     docBuckets: Int = 64): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = hashedShingleSets(docs, idCol, textCol, shingleN).persist()
    try {
      graft.sources.Collections.swapWrite(
        bandedSignatures(sh, numHashes, bands)
          .withColumn("_bb", bandBucket(bandBuckets)(col("band"), col("band_sig")))
          .repartition(col("_bb")),
        s"$dir/bands", partitionCols = Seq("_bb"))
      graft.sources.Collections.swapWrite(
        sh.withColumn("_db", docBucket(docBuckets)(col("doc")))
          .repartition(col("_db")),
        s"$dir/shingles", partitionCols = Seq("_db"))
      writeDedupStats(dir, DedupIndexStats(numHashes, bands, shingleN,
        bandBuckets, docBuckets, sh.select("doc").distinct().count()))
    } finally sh.unpersist()
  }

  /** Accepted-batch maintenance: append the new docs' bands and shingles
    * into their partition directories (touches only those buckets) and
    * refresh n_docs — the standing corpus is never re-read. */
  def appendDedupIndex(dir: String, newDocs: DataFrame, idCol: String,
                       textCol: String): Unit = {
    val st = readDedupStats(dir)
    val sh = hashedShingleSets(newDocs, idCol, textCol, st.shingleN).persist()
    try {
      bandedSignatures(sh, st.numHashes, st.bands)
        .withColumn("_bb", bandBucket(st.bandBuckets)(col("band"), col("band_sig")))
        .repartition(col("_bb"))
        .write.mode("append").partitionBy("_bb").parquet(s"$dir/bands")
      sh.withColumn("_db", docBucket(st.docBuckets)(col("doc")))
        .repartition(col("_db"))
        .write.mode("append").partitionBy("_db").parquet(s"$dir/shingles")
      writeDedupStats(dir, st.copy(
        nDocs = st.nDocs + sh.select("doc").distinct().count()))
    } finally sh.unpersist()
  }

  /** Bucket compaction for a persisted dedup index. Every
    * [[appendDedupIndex]] call leaves one small parquet file per touched
    * bucket; at batch-per-minute ingest cadence a hot bucket accumulates
    * hundreds of footer-read-dominated files and probe latency degrades.
    * Rewrite ONLY buckets whose parquet file count exceeds
    * `maxFilesPerBucket`, each into a single file via a per-bucket atomic
    * swap — cold buckets are never read, so a compaction pass costs
    * O(hot-bucket bytes), not O(index). Query results are byte-identical
    * before and after (row set per bucket is unchanged). Returns the
    * number of buckets rewritten. */
  def compactDedupIndex(spark: SparkSession, dir: String,
                        maxFilesPerBucket: Int = 8): Int = {
    require(dedupIndexExists(dir), s"no dedup index at $dir")
    graft.sources.Collections.compactBuckets(
      spark, s"$dir/bands", maxFilesPerBucket) +
      graft.sources.Collections.compactBuckets(
        spark, s"$dir/shingles", maxFilesPerBucket)
  }

  /** Incremental ingest dedup against a PERSISTED index: batch docs whose
    * exact hashed-shingle Jaccard against any LSH-candidate corpus doc
    * stays below `threshold`. Candidates come from band collisions (the
    * standard 1-(1-s^r)^b recall curve); every emitted duplicate is
    * exact-verified, so false collisions never drop a clean doc.
    *
    * Scale shape: the batch side is small — its banded signatures and
    * shingle sets BROADCAST; the corpus index is read partition-PRUNED
    * (probe buckets for bands, candidate-doc buckets for shingles), so a
    * batch touches O(batch) index bytes, never the corpus. */
  def dedupAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
                        dir: String, threshold: Double = 0.5,
                        excludeBatchIds: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    val st = readDedupStats(dir)
    val shB = hashedShingleSets(batch, idCol, textCol, st.shingleN).persist()
    val bandsB = bandedSignatures(shB, st.numHashes, st.bands)
      .withColumn("_bb", bandBucket(st.bandBuckets)(col("band"), col("band_sig")))
      .persist()
    try {
      val probeBuckets = bandsB.select("_bb").distinct()
        .collect().map(_.getInt(0)).toSeq
      // DEFAULT (strict): every standing signature is checked and only
      // the literal same-id pair is excluded — a batch that re-delivers
      // an existing id with near-duplicate content is caught against
      // that id's standing signatures, so no caller silently loses the
      // content gate on an id collision.
      // `excludeBatchIds = true` (the at-least-once ingest opt-in, set
      // ONLY by EventStream.commitIngestBatch) excludes index entries
      // whose doc id appears IN THE BATCH entirely: a replay whose
      // signatures already landed (the crash window between the index
      // append and its marker) recomputes the SAME survivors — including
      // when the batch holds mutually-near-duplicate docs with distinct
      // ids, which a mere same-id pair filter would drop against each
      // other's ghost signatures on replay. CONTRACT that opt-in
      // implies: batch ids are FRESH (never ids of previously accepted
      // docs) — an id collision with the standing index is
      // indistinguishable from the batch's own replay, and its standing
      // signatures are skipped. commitIngestBatch's batch-stamped corpus
      // layout guarantees freshness (each batch writes its own subdir
      // under fresh stream-assigned ids); no other caller should opt in.
      // The batch-id relation is batch-sized and broadcasts.
      val batchIds = batch.select(col(idCol).as("_cdoc")).distinct()
      val candAll = spark.read.parquet(s"$dir/bands")
        .where(col("_bb").isin(probeBuckets: _*))
        .join(broadcast(bandsB.select(col("_bb"), col("band"), col("band_sig"),
          col("doc").as("_bdoc"))), Seq("_bb", "band", "band_sig"))
        .select(col("doc").as("_cdoc"), col("_bdoc")).distinct()
      val cand = (if (excludeBatchIds)
          candAll.join(broadcast(batchIds), Seq("_cdoc"), "left_anti")
        else candAll.where(col("_cdoc") =!= col("_bdoc")))
        .persist()
      try {
        val candBuckets = cand
          .select(docBucket(st.docBuckets)(col("_cdoc")).as("_db"))
          .distinct().collect().map(_.getInt(0)).toSeq
        // the shingle relation is logically a SET: an at-least-once index
        // append that crashed before its marker can leave a doc's rows
        // doubled, and duplicated h rows would inflate the intersection
        // count past the union size (wrong Jaccard; denominator can even
        // hit zero). distinct() on the bucket-pruned read restores set
        // semantics at O(probed bytes)
        val corpusSh = spark.read.parquet(s"$dir/shingles")
          .where(col("_db").isin(candBuckets: _*))
          .select(col("doc"), col("n_sh"), col("h")).distinct()
        val dupIds = cand
          .join(corpusSh.select(col("doc").as("_cdoc"),
            col("n_sh").as("_nc"), col("h")), Seq("_cdoc"))
          .join(broadcast(shB.select(col("doc").as("_bdoc"),
            col("n_sh").as("_nb"), col("h"))), Seq("_bdoc", "h"))
          .groupBy(col("_cdoc"), col("_bdoc"), col("_nc"), col("_nb"))
          .agg(count(lit(1)).as("_ni"))
          .where(col("_ni").cast("double") /
            (col("_nc") + col("_nb") - col("_ni")) >= threshold)
          .select(col("_bdoc").as(idCol)).distinct()
        batch.join(dupIds, Seq(idCol), "left_anti")
          .localCheckpoint(eager = true)
      } finally cand.unpersist()
    } finally { shB.unpersist(); bandsB.unpersist() }
  }

  /** Key domain stamped into every dedup-sidecar stats.json: "tokenfold31"
    * = signature-domain window fold h + xxhash64 band_sig (r15). A sidecar
    * written under the legacy md5-of-shingle-string domain has unrelated h
    * values — probing it with fold keys would silently match nothing, so
    * [[readDedupStats]] fails loud on a domain mismatch instead. */
  val DedupIndexKeyDomain = "tokenfold31"

  private def writeDedupStats(dir: String, st: DedupIndexStats): Unit =
    // tmp + rename inside writeString, scheme-aware (s3a/hdfs/file)
    ModelStore.writeString(s"$dir/stats.json",
      s"""{"num_hashes": ${st.numHashes}, "bands": ${st.bands}, """ +
        s""""shingle_n": ${st.shingleN}, "band_buckets": ${st.bandBuckets}, """ +
        s""""doc_buckets": ${st.docBuckets}, "n_docs": ${st.nDocs}, """ +
        s""""key_domain": "$DedupIndexKeyDomain"}""")

  def readDedupStats(dir: String): DedupIndexStats = {
    val raw = ModelStore.readString(s"$dir/stats.json")
    def f(k: String): Long =
      (s""""$k"\\s*:\\s*(\\d+)""").r.findFirstMatchIn(raw).map(_.group(1).toLong)
        .getOrElse(throw new IllegalArgumentException(s"missing $k in dedup stats"))
    val domain = """"key_domain"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(raw).map(_.group(1))
    if (!domain.contains(DedupIndexKeyDomain))
      throw new IllegalArgumentException(
        s"dedup index at $dir was written under key domain " +
          s"${domain.getOrElse("<legacy md5-of-shingle>")}; this engine " +
          s"probes $DedupIndexKeyDomain keys — rebuild the sidecar " +
          "(saveDedupIndex) before probing it")
    DedupIndexStats(f("num_hashes").toInt, f("bands").toInt,
      f("shingle_n").toInt, f("band_buckets").toInt, f("doc_buckets").toInt,
      f("n_docs"))
  }

  /** [[shingleSetsWithSize]]'s 64-bit-key twin: (doc, nCol, h64) with h64
    * the [[TextAnalysis.tokenNgramKeys64]] window hash — no n-gram string
    * is ever built; set semantics at the 64-bit-hash level. */
  private def shingleKeySetsWithSize(docs: DataFrame, idCol: String,
                                     textCol: String, shingleN: Int,
                                     nCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
        array_distinct(TextAnalysis.tokenNgramKeys64(
          TextAnalysis.tokens(col(textCol)), shingleN)).as("_hs"))
      .select(col("doc"), size(col("_hs")).as(nCol), explode(col("_hs")).as("h64"))

  /** Exploded distinct string shingles plus the doc's distinct-shingle
    * count as a per-row column (sized before the explode — no shuffle to
    * learn set sizes). */
  private def shingleSetsWithSize(docs: DataFrame, idCol: String, textCol: String,
                                  shingleN: Int, nCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
        array_distinct(TextAnalysis.shingles(col(textCol), shingleN)).as("shs"))
      .select(col("doc"), size(col("shs")).as(nCol),
        explode(col("shs")).as("shingle"))

  // ---------------------------------------------------------------- SimHash

  /** 60-bit SimHash per document: bit b of the sketch is set iff
    * Σ_tokens tf·(2·bit_b(h60(token)) - 1) > 0. Returns (doc_id, simhash).
    * 60 bits (15 md5 hex chars) keeps the value in a signed int64 for
    * SQL-engine parity. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
      .withColumn("h", TextAnalysis.md5Hash60(col("token")))
    val bitSum = (b: Int) =>
      sum(col("tf") * (shiftright(col("h"), b).bitwiseAND(1) * 2 - 1))
    val sums = toks.groupBy(col(idCol))
      .agg(bitSum(0).as("s0"), (1 until 60).map(b => bitSum(b).as(s"s$b")): _*)
    val sketch = (0 until 60).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col(idCol), sketch.as("simhash"))
  }

  /** Near-duplicate pairs by SimHash Hamming distance <= maxHamming —
    * pigeonhole band blocking (the Manku/Jain/Sarma WWW'07 scheme): split
    * the 60-bit sketch into maxHamming+1 disjoint bands; two sketches
    * within Hamming h must agree EXACTLY on at least one band, so
    * candidates are an equi-join on (band, band_value) and the result is
    * provably identical to the all-pairs scan. One shuffle keyed on the
    * band value instead of an O(N^2) cross join. Candidate generation
    * runs under the [[bandedPairCandidates]] hot-bucket guard (identical
    * sketches collide on EVERY band, so a mega-cluster of exact dups is
    * precisely the quadratic case the guard closes). */
  def simhashPairs(sketches: DataFrame, idCol: String,
                   maxHamming: Int = 8, bits: Int = 60,
                   maxBucket: Int = 8192,
                   hotBucketMode: String = "star"): DataFrame = {
    val bands = maxHamming + 1
    val width = (bits + bands - 1) / bands
    val bandVals = (0 until bands).map { b =>
      shiftrightunsigned(col("simhash"), b * width)
        .bitwiseAND(lit((1L << width) - 1L))
    }
    val banded = sketches.select(col(idCol).as("_doc"),
      posexplode(array(bandVals: _*)).as(Seq("_band", "_bval")))
    val candidates = bandedPairCandidates(banded, Seq("_band", "_bval"),
      "_doc", maxBucket, hotBucketMode, "simhashPairs")
    val sk = sketches.select(col(idCol), col("simhash"))
    candidates
      .join(sk.select(col(idCol).as("id_a"), col("simhash").as("sh_a")), "id_a")
      .join(sk.select(col(idCol).as("id_b"), col("simhash").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** All-pairs SimHash scan — the test oracle for the banded
    * [[simhashPairs]]; never the production path. */
  def simhashPairsExact(sketches: DataFrame, idCol: String,
                        maxHamming: Int = 8): DataFrame = {
    val a = sketches.select(col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val b = sketches.select(col(idCol).as("id_b"), col("simhash").as("sh_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ---------------------------------------- Embedding-space near-duplicates

  /** Pairs of vectors with cosine similarity >= threshold (id_a < id_b).
    * Exact all-pairs — the test oracle for [[embeddingNearDupBlocked]];
    * never the production path (O(N^2) rows). */
  def embeddingNearDup(embs: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    val a = embs.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = embs.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("cosine_sim", lit(1.0) - vector.cosineDistance(col("v_a"), col("v_b")))
      .where(col("cosine_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine_sim"), 6).as("cosine_sim"))
  }

  /** Embedding near-dup via IVF-cell blocking — same output as the exact
    * all-pairs scan, provably, but shuffle-joined on cell ids instead of a
    * cross join.
    *
    * Why it is lossless: cosine_sim(a,b) >= t on nonzero vectors means the
    * L2-normalized points satisfy ||â - b̂|| <= r = sqrt(2 - 2t). With each
    * point assigned to its nearest KMeans centroid and R_i = the max
    * point-to-centroid distance inside cell i, the triangle inequality
    * gives ||c_i - c_j|| <= R_i + R_j + r for any qualifying cross-cell
    * pair — so joining only cell pairs within that bound (a tiny
    * numCells^2 driver-side list) cannot drop a qualifying pair, and the
    * exact cosine verification on the ORIGINAL vectors keeps emitted rows
    * bit-identical to [[embeddingNearDup]]. Zero vectors are excluded up
    * front (their cosine similarity is defined as 0 < threshold).
    *
    * At 100 TB: write the corpus partitioned by cell id; each cell-pair
    * join then prunes to two partitions. Pruning power is data-dependent
    * (clustered corpora prune hard, uniform ones less), correctness never
    * is. */
  /** Fit the blocking model for [[embeddingNearDupBlocked]] once, in the
    * L2-NORMALIZED space the near-dup radius bound lives in — persist via
    * ModelStore and dedup many corpus snapshots against the same cells
    * (blocking is lossless under any centroids; retrain only to restore
    * pruning power after the distribution drifts). */
  def trainNearDupModel(embs: DataFrame, idCol: String, vecCol: String,
                        numCells: Int = 16, seed: Long = 42L,
                        trainFraction: Double = 1.0): Ann.IvfModel =
    Ann.trainIvf(
      embs.select(col(idCol).as("_id"), col(vecCol).as("_v"))
        .where(array_max(transform(col("_v"), x => abs(x))) > 0)
        .withColumn("_u", vector.l2Normalize(col("_v"))),
      "_u", numCells, seed, sampleFraction = trainFraction)

  def embeddingNearDupBlocked(embs: DataFrame, idCol: String, vecCol: String,
                              threshold: Double, numCells: Int = 16,
                              seed: Long = 42L,
                              trainFraction: Double = 1.0,
                              model: Option[Ann.IvfModel] = None): DataFrame = {
    require(threshold > 0.0, "cell blocking requires a positive threshold")
    val spark = embs.sparkSession
    // + slack for float32 normalization rounding in the radius bound
    val r = math.sqrt(math.max(0.0, 2.0 - 2.0 * threshold)) + 1e-4
    val unit = embs
      .select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .where(array_max(transform(col("_v"), x => abs(x))) > 0)
      .withColumn("_u", vector.l2Normalize(col("_v")))
    // centroids only need a sketch of the distribution: the blocking
    // bound is computed from the ACTUAL per-cell radii after assignment,
    // so a sampled training pass cannot affect correctness, only how
    // tight the cells (and thus the pruning) are. A caller-supplied model
    // (see [[trainNearDupModel]]) skips the per-call KMeans entirely —
    // the fit-once/dedup-many path; ANY centroids in the normalized space
    // stay lossless, they only change pruning power.
    val m = model.getOrElse(Ann.trainIvf(unit, "_u", numCells, seed,
      sampleFraction = trainFraction))
    val assigned = unit
      .withColumn("_a", Ann.cellAssign(m)(col("_u")))
      .select(col("_id"), col("_v"), col("_a.cell").as("_cell"), col("_a.dist").as("_cd"))
      .persist()
    try {
      val radii = assigned.groupBy("_cell").agg(max("_cd").as("_r"))
        .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
      val cents = m.centroids
      def cdist(i: Int, j: Int): Double = {
        var s = 0.0; var d = 0
        while (d < cents(i).length) {
          val diff = cents(i)(d) - cents(j)(d); s += diff * diff; d += 1
        }
        math.sqrt(s)
      }
      val cellPairs = for {
        i <- cents.indices
        j <- cents.indices
        ri <- radii.get(i).toSeq
        rj <- radii.get(j).toSeq
        if cdist(i, j) <= ri + rj + r
      } yield (i, j)
      val pairsDf = spark.createDataFrame(cellPairs).toDF("_ci", "_cj")
      val a = assigned.select(col("_cell").as("_ci"),
        col("_id").as("id_a"), col("_v").as("v_a"))
      val b = assigned.select(col("_cell").as("_cj"),
        col("_id").as("id_b"), col("_v").as("v_b"))
      val out = a.join(broadcast(pairsDf), "_ci").join(b, "_cj")
        .where(col("id_a") < col("id_b"))
        .withColumn("cosine_sim", lit(1.0) - vector.cosineDistance(col("v_a"), col("v_b")))
        .where(col("cosine_sim") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("cosine_sim"), 6).as("cosine_sim"))
      out.localCheckpoint(eager = true)
    } finally assigned.unpersist()
  }
}
