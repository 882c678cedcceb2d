package graft

import graft.operators.Bm25
import graft.sources.Collections
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Merge-on-read collection writes: crash windows, swap recovery, and an
  * exact oracle for the delta-maintained keyword sidecar. */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = java.nio.file.Files
    .createTempDirectory("graft-mor").toString
  private lazy val client = new GraftClient(spark, root, embedDim = 16)

  private val words = Seq("spark", "data", "lake", "duck", "graph", "query",
    "vector", "index", "merge", "read")

  private def vec(seed: Int): Seq[Float] = {
    val r = new scala.util.Random(seed)
    Seq.fill(16)(r.nextFloat() + 0.01f)
  }

  private def rows(docs: Seq[(String, String)]) =
    docs.map { case (id, d) => (id, d, vec(id.hashCode)) }
      .toDF("id", "document", "embedding")

  /** (id -> document) of a handle's live relation. */
  private def contents(c: GraftCollection): Map[String, String] =
    c.df.select("id", "document").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.collect().toSet

  /** The persisted sidecar equals a from-scratch index over the live
    * relation: exact stats, exact postings and doc lengths. */
  private def assertKeywordIndexExact(c: GraftCollection, clue: String): Unit = {
    val got = c.keywordIndex
    val want = Bm25.buildIndex(c.df.where(col("document").isNotNull), "id", "document")
    try {
      assert(got.nDocs === want.nDocs, clue)
      assert(got.avgDocLen === want.avgDocLen, clue)
      assert(rowsOf(got.postings.select("doc_id", "term", "tf")) ===
        rowsOf(want.postings.select("doc_id", "term", "tf")), clue)
      assert(rowsOf(got.docLengths.select("doc_id", "doc_len")) ===
        rowsOf(want.docLengths.select("doc_id", "doc_len")), clue)
    } finally want.release()
  }

  private def dataGens(dir: String): Set[String] =
    Option(new java.io.File(s"$dir/data").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("_g")).toSet

  test("a crash after any write step leaves a fresh handle the old or the new state") {
    val name = "crash"
    val dir = s"$root/$name"
    val seed = (0 until 12).map(i => (s"d$i", s"${words(i % 10)} ${words((i * 3) % 10)} doc"))
    val c0 = client.createCollection(name)
    c0.add(rows(seed))
    c0.buildKeywordIndex()
    c0.buildPackedIndex()
    c0.saveResidentIndex()
    val ops: Seq[(String, GraftCollection => Unit, Map[String, String] => Map[String, String])] = Seq(
      ("add", _.add(rows(Seq("n1" -> "spark lake new", "n2" -> "duck duck query"))),
        _ ++ Map("n1" -> "spark lake new", "n2" -> "duck duck query")),
      ("upsert", _.upsert(rows(Seq("d1" -> "merge read merge", "u9" -> "vector graph"))),
        _ ++ Map("d1" -> "merge read merge", "u9" -> "vector graph")),
      ("delete", _.delete(ids = Seq("d2", "n1", "absent")), _ -- Seq("d2", "n1")))
    val steps = Seq("delta", "tiers", "sidecar_drop", "stamp", "manifest")
    for ((op, run, next) <- ops) {
      val old = contents(client.getCollection(name))
      for (step <- steps) {
        val c = client.getCollection(name)
        c.buildPackedIndex()
        c.writeStep = s => if (s == step) throw new RuntimeException(s"crash at $s")
        val e = intercept[RuntimeException](run(c))
        assert(e.getMessage === s"crash at $step")
        val fresh = client.getCollection(name)
        val want = if (step == "manifest") next(old) else old
        assert(contents(fresh) === want, s"$op crashed at $step")
        assertKeywordIndexExact(fresh, s"$op crashed at $step")
        // the resident tier a fresh handle builds (warm from the slab
        // sidecar, or cold) serves exactly the rows it reads
        fresh.buildPackedIndex()
        val q = Seq((0L, vec(7))).toDF("query_id", "query_vec")
        assert(fresh.packedQuery(q, k = want.size).collect().map(_.getAs[String]("id")).toSet
          === want.keySet, s"$op crashed at $step")
        fresh.releasePackedIndex()
        c.releasePackedIndex()
      }
    }
    // every crashed write's leftovers were swept by the write after it:
    // only committed generations remain on disk, in the data dir and in
    // the sidecar
    val m = Collections.Manifest.parse(Collections.readManifest(dir).get)
    assert(dataGens(dir) === m.gens.filter(_.rows).map(g => s"_g${g.gen}").toSet)
    val st = Bm25.readStats(s"$dir/index_bm25")
    assert(st.gens.forall(_.gen.gen <= m.committed))
    for (r <- Seq("postings", "doclen"))
      assert(Option(new java.io.File(s"$dir/index_bm25/$r").listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith("_g")).toSet
        .subsetOf(st.gens.map(g => s"_g${g.gen.gen}").toSet))

    // a crashed write leaves leftovers that the next write sweeps
    val c = client.getCollection(name)
    c.writeStep = s => if (s == "stamp") throw new RuntimeException("crash")
    intercept[RuntimeException](c.add(rows(Seq("z1" -> "leftover doc"))))
    val crashedGen = dataGens(dir) -- m.gens.map(g => s"_g${g.gen}")
    assert(crashedGen.size === 1, "the crashed add left its generation on disk")
    val later = client.getCollection(name)
    later.add(rows(Seq("z2" -> "later doc")))
    assert(!dataGens(dir).exists(crashedGen.contains), "the next write sweeps it")
    assert(!contents(later).contains("z1") && contents(later).contains("z2"))
    assertKeywordIndexExact(later, "after the sweep")
  }

  test("fold and swap crash windows read the committed rows") {
    val name = "fold"
    val dir = s"$root/$name"
    val c = client.createCollection(name)
    c.add(rows((0 until 10).map(i => (s"f$i", s"${words(i % 10)} fold"))))
    c.buildKeywordIndex()
    c.upsert(rows(Seq("f1" -> "upserted lake")))
    c.delete(ids = Seq("f2"))
    c.add(rows(Seq("f2" -> "re-added duck")))
    val want = contents(c)
    assert(want("f1") === "upserted lake" && want("f2") === "re-added duck")

    // a fold that crashed after its swaps but before it reset the
    // histories: the pre-fold manifest, stats and tombstones still stand
    // over the folded bases, and read the same rows (folded rows keep
    // their generation)
    def copy(from: String, to: String): Unit =
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(from), new java.io.File(to))
    val saved = s"$root/fold_saved"
    copy(s"$dir/tombstones", s"$saved/tombstones")
    copy(s"$dir/index_bm25/tombstones", s"$saved/kwtombstones")
    val manifest = Collections.readManifest(dir).get
    val stats = Collections.readString(s"$dir/index_bm25/stats.json")
    assert(c.optimize()("data") === 1)
    assert(dataGens(dir).isEmpty)
    assert(contents(client.getCollection(name)) === want)
    Collections.writeString(s"$dir/_manifest", manifest)
    Collections.writeString(s"$dir/index_bm25/stats.json", stats)
    copy(s"$saved/tombstones", s"$dir/tombstones")
    copy(s"$saved/kwtombstones", s"$dir/index_bm25/tombstones")
    val stale = client.getCollection(name)
    assert(contents(stale) === want)
    assertKeywordIndexExact(stale, "stale history over folded bases")

    // swapWrite crashed between its two renames: only `<dir>_old` holds
    // the committed rows; the next reader renames it back
    c.optimize(maxFilesPerBucket = 0)
    for (rel <- Seq("data", "index_bm25/postings", "index_bm25/doclen"))
      assert(new java.io.File(s"$dir/$rel").renameTo(new java.io.File(s"$dir/${rel}_old")))
    val recovered = client.getCollection(name)
    assert(contents(recovered) === want)
    assertKeywordIndexExact(recovered, "after swap recovery")
    assert(new java.io.File(s"$dir/data").isDirectory)
    assert(!new java.io.File(s"$dir/data_old").exists())
  }

  test("keyword sidecar equals a from-scratch index after every random write") {
    val c = client.createCollection("oracle")
    val rnd = new scala.util.Random(20261020L)
    def doc(): String =
      if (rnd.nextInt(8) == 0) null
      else Seq.fill(1 + rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" ")
    var mirror = Map[String, String]()
    var deleted = Seq[String]()
    var next = 0
    def fresh(n: Int): Seq[(String, String)] =
      (0 until n).map { _ => next += 1; (s"k$next", doc()) }
    def pick(n: Int): Seq[String] = rnd.shuffle(mirror.keys.toSeq.sorted).take(n)
    c.add(rows(fresh(8)))
    mirror = contents(c)
    c.buildKeywordIndex()
    // a query of at most two distinct terms: IEEE addition of two terms
    // is commutative, so the per-doc score sum is exact in any scan order
    val queries = Seq("spark data", "duck duck", "lake", "vector index index")
    val plan = Seq("add", "upsert", "delete", "update", "upsert2", "readd",
      "add", "delete", "upsert", "update", "delete", "readd")
    for ((op, i) <- plan.zipWithIndex) {
      val clue = s"step $i: $op"
      op match {
        case "add" =>
          val b = fresh(3) :+ (pick(1).head -> "ignored duplicate add")
          c.add(rows(b))
          mirror ++= b.filterNot { case (id, _) => mirror.contains(id) }
        case "upsert" =>
          val b = pick(2).map(_ -> doc()) ++ fresh(2)
          c.upsert(rows(b)); mirror ++= b
        case "upsert2" =>
          // one id upserted twice in a row
          val id = pick(1).head
          Seq(doc(), doc()).foreach { d => c.upsert(rows(Seq(id -> d))); mirror += id -> d }
        case "update" =>
          val b = pick(2).map(_ -> doc()) :+ ("never-stored" -> "ghost")
          c.update(rows(b)); mirror ++= b.filter(x => mirror.contains(x._1))
        case "delete" =>
          val ids = pick(2)
          c.delete(ids = ids); mirror --= ids; deleted ++= ids
        case "readd" =>
          val id = deleted.last
          c.add(rows(Seq(id -> "back again spark"))); mirror += id -> "back again spark"
      }
      assert(contents(c) === mirror, clue)
      assertKeywordIndexExact(c, clue)
      val want = Bm25.buildIndex(c.df.where(col("document").isNotNull), "id", "document")
      try {
        val got = c.keywordIndex
        for (q <- queries)
          assert(Bm25.score(got, q).collect().toSet === Bm25.score(want, q).collect().toSet,
            s"$clue, query '$q'")
        assert(c.keywords(3).collect().toSet ===
          Bm25.tfidfKeywords(want, 3).collect().toSet, clue)
      } finally want.release()
    }
    // optimize() folds every generation and tombstone; nothing changes
    val before = contents(c)
    c.optimize()
    assert(Bm25.readStats(s"$root/oracle/index_bm25").gens.isEmpty)
    assert(contents(c) === before)
    assertKeywordIndexExact(c, "after optimize")
  }

  test("a collection written before manifests opens, reads and takes writes") {
    val dir = s"$root/legacy"
    rows(Seq("l1" -> "old spark doc", "l2" -> "old lake doc")).write.parquet(s"$dir/data")
    Collections.writeString(s"$dir/config.json",
      """{"name": "legacy", "dimensions": 16, "metric": "cosine", "embedder": "mock"}""")
    val c = client.getCollection("legacy")
    assert(contents(c) === Map("l1" -> "old spark doc", "l2" -> "old lake doc"))
    c.upsert(rows(Seq("l2" -> "new lake doc")))
    c.delete(ids = Seq("l1"))
    assert(contents(client.getCollection("legacy")) === Map("l2" -> "new lake doc"))
  }

  test("generations read on their own, with no job; an empty generation reads empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gens").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id STRING, n INT")
    Seq(("a", 1), ("b", 2)).toDF("id", "n").withColumn(Collections.GenCol, lit(1L))
      .write.parquet(Collections.genDir(dir, 1))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .withColumn(Collections.GenCol, lit(2L)).write.parquet(Collections.genDir(dir, 2))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(Collections.genDir(dir, 3)))
    val sc = spark.sparkContext
    sc.setJobGroup("read-generations", "read-generations")
    val (one, empty, bare) = try {
      (Collections.readGenerations(spark, dir, schema, Seq(1L, 2L), withBase = false),
        Collections.readGenerations(spark, dir, schema, Seq(2L), withBase = false),
        Collections.readGenerations(spark, dir, schema, Seq(3L), withBase = false))
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("read-generations").isEmpty)
    assert(rowsOf(one) === Set(Row("a", 1, 1L), Row("b", 2, 1L)))
    assert(empty.count() === 0 && bare.count() === 0)
    assert(empty.columns.toSeq === Seq("id", "n", Collections.GenCol))
  }
}
