package perfbench

import graft.operators.{Bm25, Dedup, Pipeline, PipelineSpec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import java.util.SplittableRandom
import scala.collection.mutable

/** The curation half of `analytics`: a generated corpus with planted
  * structure, run through the training-data pipeline and the standalone
  * text kernels once per pass; calls are made and counted through `w`.
  * Every id%10==9 is a near-duplicate of its predecessor (one appended
  * token), every id%3==0 carries a shared boilerplate line, and every
  * id%50==25 is punctuation junk under the quality floor. */
final class Curate(w: Workload) {
  import Curate._

  private val ctx = w.ctx
  private val spark = ctx.spark
  private val passes = mutable.ArrayBuffer[Double]()
  private var docs: DataFrame = _
  private var hotBuckets = 0L

  private def planted(id: Long): Boolean = id % 10 == 9 || id % 10 == 8 || junk(id)
  private def junk(id: Long): Boolean = id % 50 == 25

  private def corpus(rng: SplittableRandom, n: Int): DataFrame = {
    val words = new Array[String](n)
    val rows = (0 until n).map { i =>
      words(i) =
        if (i % 10 == 9) words(i - 1) + " zzdup"
        else Seq.fill(DocWords)(s"w${rng.nextInt(Vocab)}x").mkString(" ")
      val text =
        if (junk(i)) "#### $$$$ %%%% &&&& ****"
        else (if (i % 3 == 0) Boilerplate + "\n" else "") + words(i)
      Row(i.toLong, text)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores), schema).persist()
    df.count()
    df
  }

  /** No warm-up pass: a curation job runs as its own Spark application,
    * so its users pay codegen and JIT on every run. */
  def setup(): Unit = docs = corpus(new SplittableRandom(ctx.seed), Docs)

  /** One timed pass; returns its seconds. */
  def timedPass(): Double = {
    val spans = Seq("pipeline.prepare", "dedup.minhash_lsh", "dedup.dup_spans", "bm25.build_index")

    w.call("pipeline.prepare") {
      val (survivors, hb) = Dedup.withHotBucketScope {
        val prepared = Pipeline.prepare(docs, "doc_id", "text", Spec)
        try {
          val ids = prepared.data.select("doc_id").collect().map(_.getLong(0))
          hotBuckets += prepared.hotBucketDegradation.values.map(_.buckets).sum
          ids.toSet
        } finally prepared.release()
      }
      hotBuckets += hb.values.map(_.buckets).sum
      survivors
    } { got =>
      ctx.check("pipeline.prepare survivors", got, prepareContract,
        Seq("both members of a near-dup pair dropped" -> ((s: Set[Long]) => s - 8L - 9L),
          "both members of 10% of near-dup pairs kept" -> ((s: Set[Long]) =>
            s ++ (9L until Docs by 100).flatMap(i => Seq(i - 1, i))),
          "2% of unplanted docs dropped" -> ((s: Set[Long]) =>
            s -- (0L until Docs).filterNot(planted).take(Docs / 50))))
    }
    w.call("dedup.minhash_lsh") {
      val (pairs, hb) = Dedup.withHotBucketScope {
        Dedup.minhashLsh(docs, "doc_id", "text", threshold = Threshold).collect()
          .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
      }
      hotBuckets += hb.values.map(_.buckets).sum
      pairs
    } { got =>
      ctx.check("dedup.minhash_lsh pairs", got, minhashContract,
        Seq("planted pairs missed" -> ((p: Array[(Long, Long, Double)]) => p.drop(p.length / 10)),
          "pair under the threshold" -> ((p: Array[(Long, Long, Double)]) => (1L, 2L, 0.1) +: p)))
    }
    w.call("dedup.dup_spans") {
      val (spansOut, hb) = Dedup.withHotBucketScope {
        Dedup.dupNgramSpans(docs, "doc_id", "text", n = SpanN).collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_frac")).toMap
      }
      hotBuckets += hb.values.map(_.buckets).sum
      spansOut
    } { got =>
      ctx.check("dedup.dup_spans docs", got, spansContract,
        Seq("planted duplicate missing" -> ((m: Map[Long, Double]) => m - 9L)))
    }
    w.call("bm25.build_index") {
      val idx = Bm25.buildIndex(docs, "doc_id", "text")
      try (idx.nDocs, idx.avgDocLen) finally idx.release()
    } { got =>
      ctx.check("bm25.build_index stats", got, bm25Contract,
        Seq("a document lost" -> ((s: (Long, Double)) => (s._1 - 1, s._2))))
    }
    passes += spans.map(w.lastMs).sum / 1e3
    passes.last
  }

  /** Near-dedup keeps the smallest id of each LSH cluster, so no planted
    * pair loses both members, and LSH finds (so collapses) at least
    * [[MinhashRecallFloor]] of the pairs; junk under the quality floor is
    * gone, and at least 99% of unplanted docs survive. */
  private def prepareContract(kept: Set[Long]): Option[String] = {
    val pairs = (9L until Docs by 10).map(i => (i - 1, i))
    val collapsed = pairs.count(p => kept(p._1) != kept(p._2))
    val unplanted = (0L until Docs).filterNot(planted)
    val survived = unplanted.count(kept).toDouble / unplanted.length
    pairs.find(p => !kept(p._1) && !kept(p._2)).map(p => s"near-dup pair $p lost both members")
      .orElse(if (collapsed < pairs.length * MinhashRecallFloor)
        Some(s"only $collapsed of ${pairs.length} near-dup pairs kept exactly one member") else None)
      .orElse((25L until Docs by 50).find(kept).map(j => s"junk doc $j survived the quality floor"))
      .orElse(if (survived < 0.99) Some(f"only $survived%.4f of unplanted docs survived") else None)
  }

  private def minhashContract(pairs: Array[(Long, Long, Double)]): Option[String] = {
    val planted = (9L until Docs by 10).map(i => (i - 1, i)).toSet
    val found = pairs.count(p => planted((p._1, p._2)))
    pairs.find(p => !(p._1 < p._2 && p._3 >= Threshold && p._3 <= 1.0))
      .map(p => s"pair $p breaks id_a < id_b and threshold <= jaccard <= 1")
      .orElse(if (found < planted.size * MinhashRecallFloor)
        Some(s"recovered $found of ${planted.size} planted pairs") else None)
  }

  private def spansContract(docsWithSpans: Map[Long, Double]): Option[String] =
    (8L until Docs).filter(i => i % 10 == 8 || i % 10 == 9).find(i => !docsWithSpans.contains(i))
      .map(i => s"planted duplicate $i has no duplicated span")
      .orElse(docsWithSpans.find(d => !(d._2 > 0 && d._2 <= 1)).map(d => s"dup_frac of $d"))

  private def bm25Contract(stats: (Long, Double)): Option[String] =
    if (stats._1 != Docs) Some(s"index holds ${stats._1} docs, corpus has $Docs")
    else if (!(stats._2 > 0)) Some(s"avg doc length ${stats._2}")
    else None

  def detail: Map[String, Any] = Map(
    "curate_docs_per_s" -> Docs / Stats.median(passes.toSeq), "curate_passes" -> passes.length,
    "docs" -> Docs, "curate_pass_s_all" -> passes.toSeq)

  def gauges: Map[String, Double] = Map("dedup.hot_buckets" -> hotBuckets.toDouble)
}

object Curate {
  val Docs = 2000
  val DocWords = 40
  val Vocab = 64
  val Boilerplate = "please accept our cookie notice to continue"
  val Threshold = 0.5
  val SpanN = 8
  /** Share of planted near-dup pairs that banded LSH must find. A third
    * of the pairs have word-3-shingle Jaccard 0.974; in the rest one
    * member carries the boilerplate line, which lowers it to 0.826. LSH
    * found 2,988 of 3,000 pairs over ten seeds at 3,000 documents. */
  val MinhashRecallFloor = 0.95
  val Spec = PipelineSpec(
    minQuality = 0.3,
    stripBoilerplateMinDocs = Some(100),
    exactDedup = true,
    nearDupThreshold = Some(Threshold),
    numShards = 8)
}
