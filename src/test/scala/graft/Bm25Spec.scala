package graft

import graft.operators.Bm25
import org.apache.spark.sql.functions._

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  // Hand-checkable corpus (reference formula, hybrid_search.py:119-154)
  private lazy val docs = Seq(
    (1L, "spark makes big data simple"),
    (2L, "spark spark everywhere"),
    (3L, "ducks like data lakes"),
    (4L, "simple data pipelines")).toDF("doc_id", "text")

  test("bm25 matches a hand-computed score") {
    val idx = Bm25.buildIndex(docs, "doc_id", "text")
    assert(idx.nDocs === 4)
    assert(math.abs(idx.avgDocLen - (5 + 3 + 4 + 3) / 4.0) < 1e-12)
    val scores = Bm25.score(idx, "spark data").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // doc 2: only "spark" matches, tf=2, len=3; df(spark)=2
    val idfSpark = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    val avg = 15.0 / 4
    def term(tf: Int, len: Int, idf: Double): Double =
      idf * tf * 2.5 / (tf + 1.5 * (0.25 + 0.75 * len / avg))
    val want2 = term(2, 3, idfSpark)
    assert(math.abs(scores(2L) - want2) < 1e-12)

    // doc 1: spark(tf=1) + data(tf=1, df=3), len=5
    val idfData = math.log(1 + (4 - 3 + 0.5) / (3 + 0.5))
    val want1 = term(1, 5, idfSpark) + term(1, 5, idfData)
    assert(math.abs(scores(1L) - want1) < 1e-12)

    // doc 3 matches only "data"
    assert(scores.contains(3L) && !scores.contains(5L))
  }

  test("buildIndex is checkpoint-backed and release() frees every block") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val idx = Bm25.buildIndex(docs, "doc_id", "text")
    // materialization is eager: the relations hold blocks right away
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.size === 2, s"expected 2 checkpointed relations, got $during")
    // scoring works from the materialized relations, and the same index
    // scores repeatedly (the build is not consumed by the first query)
    assert(Bm25.score(idx, "spark data").count() > 0)
    assert(Bm25.score(idx, "ducks").count() === 1)
    idx.release()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, s"release() left blocks: $after")
    // a sidecar-loaded index holds no blocks and release() is a no-op
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-rel").toString
    val idx2 = Bm25.buildIndex(docs, "doc_id", "text")
    Bm25.saveIndex(idx2, dir); idx2.release()
    val loaded = Bm25.loadIndex(spark, dir)
    assert(Bm25.score(loaded, "spark data").count() > 0)
    loaded.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("tfidf keywords rank the distinctive term first") {
    val idx = Bm25.buildIndex(docs, "doc_id", "text")
    val kw = Bm25.tfidfKeywords(idx, topK = 2).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(r => (r.getString(2), r.getDouble(3))))
      .toMap
    // "ducks"/"lakes"/"like" appear only in doc 3 (df=1); "data" is corpus-wide
    assert(kw(3L).head._2 > kw(3L).last._2 || kw(3L).head._1 < kw(3L).last._1)
    assert(Set("ducks", "lakes", "like").contains(kw(3L).head._1))
    assert(kw.values.forall(_.length <= 2))
    // hand-check doc 2: tf(spark)=2, df(spark)=2, N=4
    val expected = BigDecimal(2.0 * math.log(5.0 / 3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(kw(2L).find(_._1 == "spark").get._2 === expected)
  }

  test("duplicate query terms count twice (reference loops raw tokens)") {
    val idx = Bm25.buildIndex(docs, "doc_id", "text")
    val once = Bm25.score(idx, "spark").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val twice = Bm25.score(idx, "spark spark").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(twice(2L) - 2 * once(2L)) < 1e-12)
  }

  test("non-ASCII query terms tokenize like the indexed documents") {
    val intl = Seq(
      (1L, "le café est ouvert"),
      (2L, "数据 处理 系统"),
      (3L, "plain ascii words only")).toDF("doc_id", "text")
    val idx = Bm25.buildIndex(intl, "doc_id", "text")
    // 'café' must stay one token and hit doc 1's postings
    val cafe = Bm25.score(idx, "Café").collect().map(_.getLong(0)).toSet
    assert(cafe === Set(1L))
    // CJK term must match doc 2
    val cjk = Bm25.score(idx, "数据").collect().map(_.getLong(0)).toSet
    assert(cjk === Set(2L))
  }

  test("chunking: window/stride arithmetic and overlap") {
    import graft.functions.TextAnalysis
    val doc = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" "))).toDF("id", "text")
    val got = doc.select(explode(TextAnalysis.chunks(col("text"), 4, 3)).as("c"))
      .select(col("c.chunk_idx"), col("c.chunk")).collect()
      .map(r => r.getInt(0) -> r.getString(1))
    // 10 tokens, size 4, stride 3 -> 1 + ceil(6/3) = 3 chunks
    assert(got.length === 3)
    assert(got(0)._2 === "w1 w2 w3 w4")
    assert(got(1)._2 === "w4 w5 w6 w7") // 1-token overlap
    assert(got(2)._2 === "w7 w8 w9 w10")
    // short doc -> single partial chunk
    val short = Seq((1L, "a b")).toDF("id", "text")
      .select(explode(TextAnalysis.chunks(col("text"), 4, 3)).as("c")).count()
    assert(short === 1)
  }

  test("persisted index is term-bucketed and score prunes the postings scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case _ => Nil
    }) ++ p.children.flatMap(scans) ++
      p.subqueries.flatMap(scans)

    // the driver-side bucket twin must agree with the Catalyst column it
    // mirrors — a drift here silently empties persisted-path results
    val terms = Seq("spark", "data", "stream", "café", "日本", "x1_y")
    val viaColumn = terms.toDF("term")
      .select(Bm25.termBucket(8)(col("term"))).collect().map(_.getInt(0)).toSeq
    assert(terms.map(Bm25.termBucketLocal(8)) === viaColumn)

    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-idx").toString
    Bm25.saveIndex(Bm25.buildIndex(docs, "doc_id", "text"), dir, termBuckets = 8)
    val loaded = Bm25.loadIndex(spark, dir)
    assert(loaded.termBuckets === 8)
    // identical scores through the persisted path
    val mem = Bm25.score(Bm25.buildIndex(docs, "doc_id", "text"), "spark data")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val persisted = Bm25.score(loaded, "spark data")
    val got = persisted.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === mem.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - mem(k)) < 1e-12) }
    // the postings scan carries a partition filter on the term buckets —
    // I/O is bounded by |query terms|, not vocabulary size
    val postingsScans = scans(persisted.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("postings")))
    assert(postingsScans.nonEmpty, "no postings file scan found in the plan")
    assert(postingsScans.forall(_.partitionFilters.nonEmpty),
      "postings scan must prune by _tb partition filter")

    // incremental append lands in the new doc's buckets; scores track a
    // from-scratch index over the widened corpus
    val more = Seq((5L, "spark lakes")).toDF("doc_id", "text")
    val (p5, l5) = Bm25.tokenizeDocs(more, "doc_id", "text")
    Bm25.appendDelta(dir, p5, l5)
    val all = docs.union(more)
    val memAll = Bm25.score(Bm25.buildIndex(all, "doc_id", "text"), "spark data")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gotAll = Bm25.score(Bm25.loadIndex(spark, dir), "spark data")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotAll.keySet === memAll.keySet)
    gotAll.foreach { case (k, v) => assert(math.abs(v - memAll(k)) < 1e-12) }
    // replace: tombstone doc 3 and append its new text, which now matches
    val ch = Seq((3L, "ducks spark data lakes")).toDF("doc_id", "text")
    val (p3, l3) = Bm25.tokenizeDocs(ch, "doc_id", "text")
    Bm25.replaceDelta(dir, ch.select("doc_id"), p3, l3)
    val all2 = all.where(col("doc_id") =!= 3L).union(ch)
    val memRep = Bm25.score(Bm25.buildIndex(all2, "doc_id", "text"), "spark data")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gotRep = Bm25.score(Bm25.loadIndex(spark, dir), "spark data")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotRep.keySet === memRep.keySet)
    gotRep.foreach { case (k, v) => assert(math.abs(v - memRep(k)) < 1e-12) }

    // steady appends pile small files; compaction rewrites ONLY the hot
    // relations and leaves scores bit-identical
    val extra = (0 until 4).map(i => (10L + i, s"spark extra doc $i"))
      .toDF("doc_id", "text")
    (0 until 4).foreach { i =>
      val one = extra.where(col("doc_id") === 10L + i)
      val (pi, li) = Bm25.tokenizeDocs(one, "doc_id", "text")
      Bm25.appendDelta(dir, pi, li)
    }
    def parquetFiles(d: String): Int = {
      val f = new java.io.File(d)
      if (!f.isDirectory) 0
      else f.listFiles().map { c =>
        if (c.isDirectory) c.listFiles().count(_.getName.endsWith(".parquet"))
        else if (c.getName.endsWith(".parquet")) 1 else 0
      }.sum
    }
    assert(parquetFiles(s"$dir/doclen") > 2)
    val preCompact = Bm25.score(Bm25.loadIndex(spark, dir), "spark data")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(Bm25.compactIndex(spark, dir, maxFilesPerBucket = 2) > 0)
    assert(parquetFiles(s"$dir/doclen") === 1)
    val postCompact = Bm25.score(Bm25.loadIndex(spark, dir), "spark data")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(postCompact === preCompact)
    // idempotent: nothing left over threshold
    assert(Bm25.compactIndex(spark, dir, maxFilesPerBucket = 2) === 0)
  }

  test("hybrid fusion: vector-only and keyword-only candidates both surface") {
    val vec = Seq((1L, 0.1), (2L, 0.4)).toDF("doc_id", "dist")
    val kw = Seq((2L, 3.0), (3L, 1.5)).toDF("doc_id", "score")
    val fused = Bm25.hybridFuse(vec, kw, k = 10, alpha = 0.5).collect()
      .map(r => r.getLong(0) -> (r.getAs[Double]("vector_score"),
        r.getAs[Double]("keyword_score"), r.getAs[Double]("score"))).toMap
    // doc1: v = 1 - 0.1/0.4 = 0.75, kw = 0
    assert(math.abs(fused(1L)._1 - 0.75) < 1e-12)
    assert(fused(1L)._2 === 0.0)
    // doc3: kw = 1.5/3 = 0.5, v = 0
    assert(fused(3L)._1 === 0.0)
    assert(math.abs(fused(3L)._2 - 0.5) < 1e-12)
    // doc2: v = 0, kw = 1 -> combined 0.5
    assert(math.abs(fused(2L)._3 - 0.5) < 1e-12)
  }
}
