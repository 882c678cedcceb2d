package graft

import graft.operators.{Cypher, Dedup, PropertyGraph}
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // a -> b -> c -> d, a -> c (shortcut), d -> a (cycle), plus e isolated
  private lazy val vertices = Seq(
    ("a", Seq("Person"), "Alice", 30),
    ("b", Seq("Person"), "Bob", 25),
    ("c", Seq("Company"), "Corp", 0),
    ("d", Seq("Person"), "Dan", 41),
    ("e", Seq("Person"), "Eve", 19)
  ).toDF("id", "labels", "name", "age")

  private lazy val edges = Seq(
    ("e1", "a", "b", "KNOWS"), ("e2", "b", "c", "WORKS_AT"),
    ("e3", "c", "d", "EMPLOYS"), ("e4", "a", "c", "WORKS_AT"),
    ("e5", "d", "a", "KNOWS")
  ).toDF("id", "src", "dst", "type")

  private lazy val hyperedges = Seq(
    ("h1", Seq("a", "b", "c"), "TEAM"),
    ("h2", Seq("c", "d"), "TEAM"),
    ("h3", Seq("a", "d", "e"), "PROJECT")
  ).toDF("id", "nodes", "type")

  test("neighbors: direction and type filters") {
    def n(dir: String, t: Option[String] = None) =
      PropertyGraph.neighbors(edges, col("node_id") === "a", dir, t)
        .select("neighbor_id").collect().map(_.getString(0)).toSet
    assert(n("out") === Set("b", "c"))
    assert(n("in") === Set("d"))
    assert(n("both") === Set("b", "c", "d"))
    assert(n("out", Some("KNOWS")) === Set("b"))
  }

  test("traverse enumerates simple paths with cycle avoidance") {
    val paths = PropertyGraph.traverse(edges, Seq("a").toDF("id"), maxDepth = 4)
      .collect().map(r => (r.getAs[String]("end_id"), r.getAs[Int]("depth"),
        r.getAs[Seq[String]]("path").mkString(">"))).toSet
    assert(paths.contains(("b", 1, "a>b")))
    assert(paths.contains(("c", 2, "a>b>c")))
    assert(paths.contains(("c", 1, "a>c")))
    assert(paths.contains(("d", 3, "a>b>c>d")))
    // cycle d->a is not re-entered
    assert(!paths.exists(_._3.split(">").groupBy(identity).values.exists(_.length > 1)))
  }

  test("shortestPaths finds minimal hops, undirected") {
    val sp = PropertyGraph.shortestPaths(edges, Seq("a").toDF("id"), maxDepth = 4)
      .collect().map(r => r.getAs[String]("end_id") -> r.getAs[Int]("hops")).toMap
    assert(sp("a") === 0)
    assert(sp("b") === 1)
    assert(sp("c") === 1) // via shortcut
    assert(sp("d") === 1) // via cycle edge, undirected
    assert(!sp.contains("e"))
  }

  test("hyperedge membership any vs all") {
    val any = PropertyGraph.hyperedgesForNodes(hyperedges, Seq("a", "d"), "any")
      .select("id").collect().map(_.getString(0)).toSet
    val all = PropertyGraph.hyperedgesForNodes(hyperedges, Seq("a", "d"), "all")
      .select("id").collect().map(_.getString(0)).toSet
    assert(any === Set("h1", "h2", "h3"))
    assert(all === Set("h3"))
  }

  test("cypher: node pattern with props, rel pattern, WHERE, var-length") {
    val n1 = Cypher.query(vertices, edges, "MATCH (p:Person {name: 'Bob'}) RETURN p.id, p.age")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(n1.toSeq === Seq(("b", 25)))

    val rel = Cypher.query(vertices, edges,
        "MATCH (p:Person)-[:WORKS_AT]->(c:Company) WHERE p.age > 26 RETURN p.name, c.name")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rel.toSeq === Seq(("Alice", "Corp")))

    val varlen = Cypher.query(vertices, edges,
        "MATCH (x:Person)-[:KNOWS*1..2]->(y) RETURN x.id, y.id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // KNOWS edges: a->b, d->a; 2-hop: d->a->b
    assert(varlen === Set(("a", "b"), ("d", "a"), ("d", "b")))
  }

  test("mutations: add, update, remove-with-edge-cascade") {
    val newNode = Seq(("f", Seq("Person"), "Frank", 50)).toDF("id", "labels", "name", "age")
    val v2 = PropertyGraph.addNodes(vertices, newNode)
    assert(v2.count() === 6)
    // duplicate add keeps the original
    val v3 = PropertyGraph.addNodes(v2, Seq(("a", Seq("Robot"), "A2", 1))
      .toDF("id", "labels", "name", "age"))
    assert(v3.where(col("id") === "a").head().getAs[String]("name") === "Alice")
    val v4 = PropertyGraph.updateNodes(v3, Seq(("b", Seq("Person"), "Bobby", 26))
      .toDF("id", "labels", "name", "age"))
    assert(v4.where(col("id") === "b").head().getAs[String]("name") === "Bobby")
    val (v5, e5) = PropertyGraph.removeNodes(v4, edges, Seq("c"))
    assert(!v5.collect().map(_.getString(0)).contains("c"))
    // edges e2 (b->c), e3 (c->d), e4 (a->c) cascade away
    assert(e5.collect().map(_.getString(0)).toSet === Set("e1", "e5"))
  }

  test("partial update merges properties, adds columns and labels") {
    import spark.implicits._
    // name omitted -> kept; age set where non-null; vip is a new column
    val updates = Seq(("a", Some(31), true), ("b", None: Option[Int], true))
      .toDF("id", "age", "vip")
    val v2 = PropertyGraph.updateNodesPartial(vertices, updates,
      addLabels = Seq("Vip"), removeLabels = Seq("Person"))
    val byId = v2.collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(byId("a").getAs[Int]("age") === 31)            // overwritten
    assert(byId("a").getAs[String]("name") === "Alice")   // kept (absent col)
    assert(byId("b").getAs[Int]("age") === 25)            // kept (null update)
    assert(byId("a").getAs[Boolean]("vip") === true)      // new property
    assert(byId("c").isNullAt(byId("c").fieldIndex("vip"))) // unmatched -> null
    assert(byId("a").getSeq[String](byId("a").fieldIndex("labels")).contains("Vip"))
    assert(!byId("a").getSeq[String](byId("a").fieldIndex("labels")).contains("Person"))
    // unmatched nodes keep their labels untouched
    assert(byId("c").getSeq[String](byId("c").fieldIndex("labels")).nonEmpty)
    // unknown update ids are ignored, count unchanged
    val v3 = PropertyGraph.updateNodesPartial(vertices,
      Seq(("zz", Some(1), false)).toDF("id", "age", "vip"))
    assert(v3.count() === vertices.count())
  }

  test("findNodesByRange returns nodes inside the closed interval") {
    val got = PropertyGraph.findNodesByRange(vertices, "age", 25, 30)
      .collect().map(_.getAs[String]("id")).toSet
    val want = vertices.where(col("age") >= 25 && col("age") <= 30)
      .collect().map(_.getAs[String]("id")).toSet
    assert(got === want && got.nonEmpty)
  }

  test("cypher rejects malformed input") {
    intercept[IllegalArgumentException] {
      Cypher.query(vertices, edges, "SELECT * FROM nodes")
    }
    intercept[IllegalArgumentException] {
      Cypher.query(vertices, edges, "MATCH (a)-[b]-(c) RETURN a") // undirected unsupported
    }
  }

  test("pageRank dangling-mass redistribution matches the closed form on a star-with-sink") {
    import spark.implicits._
    // a, b, c all point at s; s has no out-edges (the dangling sink)
    val star = Seq(("a", "s"), ("b", "s"), ("c", "s")).toDF("src", "dst")
    val d = 0.85; val n = 4.0; val iters = 3
    // closed form mirroring the operator's column algebra exactly:
    // rank = (1-d)/n + d * (inflow + dm/n), dm = rank mass on dangling s
    var r = Map("a" -> 1.0 / n, "b" -> 1.0 / n, "c" -> 1.0 / n, "s" -> 1.0 / n)
    val teleport = (1.0 - d) / n
    for (_ <- 1 to iters) {
      val dm = r("s")
      val inflowS = r("a") / 1.0 + r("b") / 1.0 + r("c") / 1.0
      r = Map(
        "a" -> (teleport + d * (0.0 + dm / n)),
        "b" -> (teleport + d * (0.0 + dm / n)),
        "c" -> (teleport + d * (0.0 + dm / n)),
        "s" -> (teleport + d * (inflowS + dm / n)))
    }
    val got = PropertyGraph.pageRank(star, iterations = iters,
        redistributeDangling = true)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    r.foreach { case (id, want) =>
      assert(math.abs(got(id) - want) < 1e-14, s"$id: ${got(id)} vs $want") }
    // total mass is conserved under redistribution (sums to 1)
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
    // ... and WITHOUT the flag the sink's outflow mass simply vanishes
    val noRed = PropertyGraph.pageRank(star, iterations = iters)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(noRed.values.sum < 1.0 - 1e-3)
  }

  test("pageRank tolerance stops at the fixpoint; tolerance=0 runs every round") {
    import spark.implicits._
    // 3-cycle: uniform 1/3 is the exact fixpoint from round one
    val cycle = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val (ranks, itersRun) = PropertyGraph.pageRankWithStats(
      cycle, iterations = 20, tolerance = 1e-12)
    assert(itersRun === 1, s"fixpoint must stop after round 1, ran $itersRun")
    ranks.collect().foreach(x =>
      assert(math.abs(x.getDouble(1) - 1.0 / 3) < 1e-12))
    val (_, full) = PropertyGraph.pageRankWithStats(cycle, iterations = 4)
    assert(full === 4, "tolerance=0 must keep the fixed-iteration contract")
    // converging star: early stop lands within tolerance of the long run
    val star = Seq(("a", "s"), ("b", "s"), ("c", "s")).toDF("src", "dst")
    val (early, eIters) = PropertyGraph.pageRankWithStats(
      star, iterations = 60, tolerance = 1e-10, redistributeDangling = true)
    assert(eIters < 60)
    val long = PropertyGraph.pageRank(star, iterations = 60,
        redistributeDangling = true)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    early.collect().foreach(x =>
      assert(math.abs(x.getDouble(1) - long(x.getString(0))) < 1e-8))
  }

  test("cypher WHERE: strict default throws on a typo, lenient keeps reference parity") {
    val typo = "MATCH (p:Person) WHERE p.age !! 26 RETURN p.id" // !! is no op
    val e = intercept[IllegalArgumentException] { Cypher.query(vertices, edges, typo) }
    assert(e.getMessage.contains("Unparsable WHERE"), e.getMessage)
    // lenient mode = the reference's silent fallthrough (graph.py:1061-1092):
    // the join runs UNFILTERED
    val lenient = Cypher.query(vertices, edges, typo, strict = false)
      .collect().map(_.getString(0)).toSet
    val unfiltered = Cypher.query(vertices, edges, "MATCH (p:Person) RETURN p.id")
      .collect().map(_.getString(0)).toSet
    assert(lenient === unfiltered && lenient.nonEmpty)
    // a well-formed WHERE is identical in both modes
    val ok = "MATCH (p:Person) WHERE p.age > 26 RETURN p.id"
    assert(Cypher.query(vertices, edges, ok).collect().map(_.getString(0)).toSet ===
      Cypher.query(vertices, edges, ok, strict = false).collect().map(_.getString(0)).toSet)
  }

  // AQE wraps executed exchanges in leaf QueryStageExec nodes, and a
  // persisted frame hides its compute plan under a leaf InMemoryTableScan;
  // descend into both so the assertions see every exchange that ran
  // intoCache descends into cached-plan internals too — only wanted when
  // the interesting join is hidden under a persisted frame (the cache
  // BUILD plan legitimately shuffles once, so exchange assertions about
  // the join itself must not see it by default)
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan,
                        intoCache: Boolean = false)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan, intoCache)
      case q: QueryStageExec => planNodes(q.plan, intoCache)
      case i: InMemoryTableScanExec if intoCache => planNodes(i.relation.cachedPlan, intoCache)
      case _ => p.children.flatMap(planNodes(_, intoCache))
    })
  }

  test("hop join broadcasts the frontier, never the adjacency") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ShuffleExchangeLike}
    def exchanges(df: org.apache.spark.sql.DataFrame): Seq[Exchange] =
      planNodes(df.queryExecution.executedPlan).collect { case e: Exchange => e }

    val bigEdges = spark.range(20000).selectExpr(
      "concat('e', id) as id", "concat('n', id % 5000) as src",
      "concat('n', (id + 1) % 5000) as dst", "'t' as type")
    val adj = PropertyGraph.materializedAdj(bigEdges, "both", None)
    adj.count() // materialize the one-time partitioned cache
    try {
      val frontier = Seq(("n0", "n0", 0)).toDF("start_id", "end_id", "hops")
      // small rows hint -> the FRONTIER side broadcasts; the cached
      // adjacency moves nothing (no shuffle, no broadcast of adj)
      val hop = PropertyGraph.hopJoin(frontier, adj, rowsHint = 1L)
      assert(hop.count() > 0)
      val ex1 = exchanges(hop)
      assert(ex1.exists(_.isInstanceOf[BroadcastExchangeLike]),
        "expected a broadcast exchange (frontier side)")
      assert(!ex1.exists(_.isInstanceOf[ShuffleExchangeLike]),
        "hop join against the pre-partitioned cached adjacency must not shuffle")
      assert(ex1.forall(_.output.exists(_.name == "start_id")),
        s"broadcast side must be the frontier, got:\n${ex1.mkString("\n")}")
      // unknown frontier size -> no hint; the adjacency still never moves:
      // every exchange (AQE may broadcast the small frontier at runtime,
      // or shuffle it) is on the frontier side
      val hop2 = PropertyGraph.hopJoin(frontier, adj, rowsHint = -1L)
      assert(hop2.count() > 0)
      val ex2 = exchanges(hop2)
      assert(ex2.forall(_.output.exists(_.name == "start_id")),
        s"the adjacency side must never exchange, got:\n${ex2.mkString("\n")}")
    } finally adj.unpersist()
  }

  test("traverse broadcasts small frontiers into the hop joins") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    // traverse's per-hop frontier counts are the actions that execute the
    // hop joins — capture their executed plans and assert the frontier
    // side (start_id) arrived via a BroadcastExchange, not a shuffle
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val bigEdges = spark.range(20000).selectExpr(
        "concat('e', id) as id", "concat('n', id % 5000) as src",
        "concat('n', (id + 1) % 5000) as dst", "'t' as type")
      val out = PropertyGraph.traverse(bigEdges, Seq("n0").toDF("id"), maxDepth = 2)
      assert(out.count() > 0)
      // the count action prunes unused columns, so the broadcast side's
      // fingerprint is the frontier-only `path`/`end_id` columns (the
      // adjacency side only has node_id/neighbor_id)
      def frontierBroadcasts: Int = captured.asScala.toSeq.count(qe =>
        planNodes(qe.executedPlan, intoCache = true).exists {
          case b: BroadcastExchangeLike =>
            b.output.exists(a => a.name == "path" || a.name == "end_id")
          case _ => false
        })
      // listener delivery is async — poll briefly for the hop-count plans
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (frontierBroadcasts < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(frontierBroadcasts >= 2,
        s"expected every hop of a 1-seed traverse to broadcast its frontier, " +
          s"saw $frontierBroadcasts broadcast hop plans (captured ${captured.size})")
    } finally spark.listenerManager.unregister(listener)
  }

  test("removeNodes cascade deletes hyperedges containing the node; non-cascade fails loudly") {
    val (v2, e2, h2) = PropertyGraph.removeNodes(vertices, edges, hyperedges,
      Seq("d"), cascade = true)
    assert(!v2.collect().map(_.getString(0)).contains("d"))
    assert(e2.collect().map(_.getString(0)).toSet === Set("e1", "e2", "e4"))
    // h2 (c,d) and h3 (a,d,e) contain d -> whole hyperedges removed
    assert(h2.collect().map(_.getString(0)).toSet === Set("h1"))
    intercept[IllegalStateException] {
      PropertyGraph.removeNodes(vertices, edges, hyperedges, Seq("d"), cascade = false)
    }
    // an isolated node deletes fine without cascade
    val (v3, e3, h3) = PropertyGraph.removeNodes(
      vertices, edges.where(col("src") =!= "e" && col("dst") =!= "e"),
      hyperedges.where(!array_contains(col("nodes"), "e")), Seq("e"), cascade = false)
    assert(v3.count() === 4 && e3.count() === 5 && h3.count() === 2)
  }

  test("edge/hyperedge create validates endpoints and ids; delete by id") {
    // create: ok
    val e2 = PropertyGraph.addEdges(vertices, edges,
      Seq(("e6", "e", "a", "KNOWS")).toDF("id", "src", "dst", "type"))
    assert(e2.count() === 6)
    // create: missing endpoint fails loudly (graph.py:714-719)
    intercept[IllegalArgumentException] {
      PropertyGraph.addEdges(vertices, edges,
        Seq(("e7", "a", "zz", "KNOWS")).toDF("id", "src", "dst", "type"))
    }
    // create: duplicate id fails loudly (graph.py:711-712)
    intercept[IllegalArgumentException] {
      PropertyGraph.addEdges(vertices, edges,
        Seq(("e1", "a", "b", "KNOWS")).toDF("id", "src", "dst", "type"))
    }
    // delete by id (graph.py:729)
    assert(PropertyGraph.removeEdges(edges, Seq("e1", "e5")).count() === 3)

    val h2 = PropertyGraph.addHyperedges(vertices, hyperedges,
      Seq(("h4", Seq("a", "e"), "PAIR")).toDF("id", "nodes", "type"))
    assert(h2.count() === 4)
    intercept[IllegalArgumentException] {
      PropertyGraph.addHyperedges(vertices, hyperedges,
        Seq(("h5", Seq("a", "zz"), "PAIR")).toDF("id", "nodes", "type"))
    }
    intercept[IllegalArgumentException] {
      PropertyGraph.addHyperedges(vertices, hyperedges,
        Seq(("h1", Seq("a"), "PAIR")).toDF("id", "nodes", "type"))
    }
    assert(PropertyGraph.removeHyperedges(hyperedges, Seq("h3")).count() === 2)
  }

  test("stats counts nodes, edges, labels, types") {
    val m = PropertyGraph.stats(vertices, edges, Some(hyperedges))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("num_nodes") === 5)
    assert(m("num_edges") === 5)
    assert(m("num_hyperedges") === 3)
    assert(m("num_labels") === 2)
    assert(m("num_edge_types") === 3)
  }

  test("pageRank: closed-form check on a star, mass conservation on a cycle") {
    import spark.implicits._
    // 3-cycle: perfectly symmetric, every rank stays exactly 1/3
    val cycle = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val pc = PropertyGraph.pageRank(cycle, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pc.values.forall(v => math.abs(v - 1.0 / 3) < 1e-12))
    // star x->hub, y->hub, z->hub (4 nodes): after round 1 the leaves
    // hold (1-d)/4 forever; the hub converges to (1-d)/4 + d*3*(1-d)/4
    val star = Seq(("x", "hub"), ("y", "hub"), ("z", "hub")).toDF("src", "dst")
    val ps = PropertyGraph.pageRank(star, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val leaf = 0.15 / 4
    assert(math.abs(ps("x") - leaf) < 1e-12)
    assert(math.abs(ps("hub") - (leaf + 0.85 * 3 * leaf)) < 1e-12)
  }

  test("hits: star and chain closed forms; scores each sum to 1") {
    // star p1,p2,p3 -> c reaches its fixed point in one round:
    // auth = (c: 1), hub = (p_i: 1/3)
    val star = Seq(("p1", "c"), ("p2", "c"), ("p3", "c")).toDF("src", "dst")
    val got = PropertyGraph.hits(star, iterations = 5)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    def close(a: Double, b: Double) = assert(math.abs(a - b) < 1e-12, s"$a != $b")
    close(got("c")._1, 1.0)
    assert(got("c")._2 === 0.0)
    for (p <- Seq("p1", "p2", "p3")) {
      assert(got(p)._1 === 0.0)
      close(got(p)._2, 1.0 / 3)
    }
    // chain a -> b -> c: auth (b,c) = 1/2 each, hub (a,b) = 1/2 each
    val chain = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val gc = PropertyGraph.hits(chain, iterations = 5)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(gc("a")._1 === 0.0); assert(gc("c")._2 === 0.0)
    close(gc("b")._1, 0.5); close(gc("c")._1, 0.5)
    close(gc("a")._2, 0.5); close(gc("b")._2, 0.5)
    // sum-normalized: both score vectors are distributions
    close(got.values.map(_._1).sum, 1.0)
    close(got.values.map(_._2).sum, 1.0)
    // a 2000-fold multi-edge grows an unnormalized vector 4e6x per round,
    // past Double.MaxValue by round 47; the scores must stay finite
    val heavy = Seq.fill(2000)(("a", "b")).toDF("src", "dst")
    val gh = PropertyGraph.hits(heavy, iterations = 60)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(gh === Map("a" -> (0.0, 1.0), "b" -> (1.0, 0.0)))
  }

  test("personalizedPageRank: chain closed form; absent source fails loud") {
    val chain = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val got = PropertyGraph.personalizedPageRank(chain, Seq("a"), iterations = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def close(x: Double, y: Double) = assert(math.abs(x - y) < 1e-12, s"$x != $y")
    // r1: a=.15, b=.85, c=0; r2: a=.15, b=.85*.15, c=.85*.85
    close(got("a"), 0.15)
    close(got("b"), 0.85 * 0.15)
    close(got("c"), 0.85 * 0.85)
    val e = intercept[IllegalArgumentException] {
      PropertyGraph.personalizedPageRank(chain, Seq("a", "zz"), iterations = 1)
    }
    assert(e.getMessage.contains("absent"))
  }

  test("kCore: pendant chains peel over multiple rounds, the clique core survives") {
    // K4 on w,x,y,z plus a pendant chain z-p-q: k=2 must peel q (deg 1),
    // THEN p (deg 1 after q goes) — a genuine multi-round cascade — and
    // leave exactly the K4 with within-core degree 3
    val k4 = Seq(("w", "x"), ("w", "y"), ("w", "z"), ("x", "y"), ("x", "z"),
      ("y", "z"), ("z", "p"), ("p", "q")).toDF("src", "dst")
    val got = PropertyGraph.kCore(k4, k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("w" -> 3L, "x" -> 3L, "y" -> 3L, "z" -> 3L))
    // k = 4: even K4 dies (max degree 3) -> empty core
    assert(PropertyGraph.kCore(k4, k = 4).count() === 0L)
    // k = 1 keeps every non-isolated node with its plain degree
    val all = PropertyGraph.kCore(k4, k = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all("q") === 1L && all("z") === 4L && all.size === 6)
    // a pure path peels to nothing at k = 2, several cascades deep
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("src", "dst")
    assert(PropertyGraph.kCore(path, k = 2).count() === 0L)
  }

  test("triangleCounts: K4 has 3 per node, a pendant edge has none") {
    import spark.implicits._
    val k4 = for (a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b)
      yield (a, b)
    // pendant node e hangs off a; duplicate + reversed edges must not
    // inflate counts (canonicalization dedups them)
    val edges = (k4 ++ Seq(("a", "e"), ("e", "a"), ("a", "b"))).toDF("src", "dst")
    val t = PropertyGraph.triangleCounts(edges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t === Map("a" -> 3, "b" -> 3, "c" -> 3, "d" -> 3, "e" -> 0))
  }

  test("triangleCounts wedge volume stays O(m) on a star — degree-ordered orientation") {
    import spark.implicits._
    // Star K1,200 with the HUB holding the LOWEST id: the id-ordered
    // formulation would center every wedge at the hub — C(200,2) = 19,900
    // wedge rows for 200 edges. Degree ordering orients every edge
    // leaf->hub, so the hub has out-degree 0 and wedge volume is 0.
    val n = 200
    val star = (1 to n).map(i => ("a_hub", f"leaf_$i%03d")).toDF("src", "dst")
    val und = star
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val oriented = PropertyGraph.orientByDegree(und)
    // wedge volume = Σ_u C(outdeg(u), 2)
    val wedgeVolume = oriented.groupBy("u").agg(count(lit(1)).as("d"))
      .select(sum(expr("d * (d - 1) div 2")).as("w"))
      .collect()(0).getLong(0)
    assert(wedgeVolume === 0L, s"star wedge volume must be 0, got $wedgeVolume")
    // and the counts themselves: a star has no triangles
    val t = PropertyGraph.triangleCounts(star)
      .agg(sum(col("triangles"))).collect()(0).getLong(0)
    assert(t === 0L)
  }

  test("connectedComponents: two cliques label separately, a bridge merges them") {
    val cliqueA = Seq(("a1", "a2"), ("a2", "a3"), ("a1", "a3"))
    val cliqueB = Seq(("b1", "b2"), ("b2", "b3"), ("b1", "b3"))
    val two = PropertyGraph.connectedComponents(
        (cliqueA ++ cliqueB).toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(two === Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1",
      "b1" -> "b1", "b2" -> "b1", "b3" -> "b1"))
    // one bridge edge merges the components under the global min label
    val one = PropertyGraph.connectedComponents(
        (cliqueA ++ cliqueB :+ ("a3", "b1")).toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(one.keySet === Set("a1", "a2", "a3", "b1", "b2", "b3"))
    assert(one.values.toSet === Set("a1"))
  }

  test("shortestPathsWeighted: picks the cheaper multi-hop path; unreached nodes absent") {
    // s→b direct costs 3, s→a→b costs 2: weighted relaxation must beat
    // the hop-shortest route. z is disconnected; x is reachable only
    // against edge direction (directed semantics) — both absent.
    val edges = Seq(
      ("s", "a", 1.0), ("a", "b", 1.0), ("s", "b", 3.0),
      ("b", "c", 0.5), ("x", "s", 1.0), ("z", "z2", 1.0))
      .toDF("src", "dst", "weight")
    val got = PropertyGraph.shortestPathsWeighted(edges, "s", iterations = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("s" -> 0.0, "a" -> 1.0, "b" -> 2.0, "c" -> 2.5))
    // one round relaxes only one hop: b still carries the direct edge
    val oneHop = PropertyGraph.shortestPathsWeighted(edges, "s", iterations = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(oneHop === Map("s" -> 0.0, "a" -> 1.0, "b" -> 3.0))
  }

  test("labelPropagation: triangles converge to their min id; bridge keeps communities apart") {
    // closed form on a triangle {a,b,c}, a<b<c: round 1 sends each node
    // the other two ids (count 1 each, tie -> min), so a->b, b->a, c->a;
    // round 2: a sees {a,a}->a, b sees {b,a}->a (tie), c sees {b,a}->a;
    // round 3 is the fixpoint — all three carry the min id
    val triA = Seq(("a1", "a2"), ("a2", "a3"), ("a1", "a3"))
    val triB = Seq(("b1", "b2"), ("b2", "b3"), ("b1", "b3"))
    val got = PropertyGraph.labelPropagation(
        (triA ++ triB).toDF("src", "dst"), iterations = 5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1",
      "b1" -> "b1", "b2" -> "b1", "b3" -> "b1"))
    // ONE bridge edge does not merge dense communities (the whole point
    // vs connectedComponents): each triangle's internal plurality keeps
    // two distinct labels. Hand trace (min-label ties leak "a3" across
    // the bridge as a NAME, but the partition stays two-sided):
    // r1: a1->a2 a2->a1 a3->a1 | b1->a3 b2->b1 b3->b1
    // r2: a-side->a1           | b1->b1 b2->a3 b3->a3
    // r3+: a-side a1 fixed     | b-side all a3 (b1's two a3 votes win)
    val bridged = PropertyGraph.labelPropagation(
        (triA ++ triB :+ ("a3", "b1")).toDF("src", "dst"), iterations = 5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bridged.filter(_._1.startsWith("a")).values.toSet === Set("a1"),
      s"a-side: $bridged")
    assert(bridged.filter(_._1.startsWith("b")).values.toSet === Set("a3"),
      s"b-side: $bridged")
  }

  // ---------------------------------------------- resident-kernel parity

  /** A seeded random multigraph over `ids` plus planted shapes: duplicate
    * edges, self-loops, a sink, a pure source, an LP tie between "～" and
    * "😀" (UTF-8 byte order puts "～" first, Java's String.compareTo the
    * emoji), and a two-node component whose ids disagree the same way. */
  private def parityEdges(): Seq[(String, String)] = {
    val rng = new scala.util.Random(7)
    val ids = (0 until 24).map(i => s"n$i") ++ Seq("a", "Z", "é", "ß")
    val random = Seq.fill(70)((ids(rng.nextInt(ids.size)), ids(rng.nextInt(ids.size))))
    random ++ random.take(6) ++ // duplicates
      Seq(("n3", "n3"), ("n5", "n5"), ("n5", "n5")) ++ // self-loops
      Seq(("n1", "sink"), ("n2", "sink"), ("source", "n4"), ("source", "n7")) ++
      Seq(("tie", "～"), ("tie", "😀"), ("😀", "～"), ("😀x", "～x"))
  }

  /** Driver-side references in the operators' documented formulations,
    * over nodes sorted in Spark's ordering of the id type. */
  private final class Reference[K](edges: Seq[(K, K)], cmp: (K, K) => Int) {
    val nodes: IndexedSeq[K] = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .sortWith(cmp(_, _) < 0).toIndexedSeq
    private val ix = nodes.zipWithIndex.toMap
    private val es = edges.map(e => (ix(e._1), ix(e._2)))
    private val n = nodes.size
    private val deg = { val d = new Array[Int](n); es.foreach(e => d(e._1) += 1); d }
    private def keyed[V](a: Int => V): Map[K, V] = nodes.indices.map(i => nodes(i) -> a(i)).toMap

    def pageRank(iters: Int, dangling: Boolean, tol: Double = 0.0): (Map[K, Double], Int) = {
      var r = Array.fill(n)(1.0 / n); var rounds = 0; var done = false
      while (rounds < iters && !done) {
        val in = new Array[Double](n)
        es.foreach { case (s, d) => in(d) += r(s) / deg(s) }
        val dm = if (dangling) nodes.indices.filter(deg(_) == 0).map(r).sum else 0.0
        val next = in.map(x => (1.0 - 0.85) / n + 0.85 * (x + dm / n))
        done = tol > 0 && next.indices.map(i => math.abs(next(i) - r(i))).max < tol
        r = next; rounds += 1
      }
      (keyed(r(_)), rounds)
    }

    def ppr(sources: Set[K], iters: Int): Map[K, Double] = {
      val src = nodes.map(sources)
      var r = src.map(s => if (s) 1.0 / sources.size else 0.0).toArray
      for (_ <- 1 to iters) {
        val in = new Array[Double](n)
        es.foreach { case (s, d) => in(d) += r(s) / deg(s) }
        r = Array.tabulate(n)(v => (if (src(v)) (1.0 - 0.85) / sources.size else 0.0) + 0.85 * in(v))
      }
      keyed(r(_))
    }

    def hits(iters: Int): Map[K, (Double, Double)] = {
      var hub = Array.fill(n)(1.0 / n); var auth = new Array[Double](n)
      for (_ <- 1 to iters) {
        val a = new Array[Double](n); es.foreach { case (s, d) => a(d) += hub(s) }
        auth = a.map(_ / a.sum)
        val h = new Array[Double](n); es.foreach { case (s, d) => h(s) += auth(d) }
        hub = h.map(_ / h.sum)
      }
      keyed(i => (auth(i), hub(i)))
    }

    /** Labels are node indexes, so "smallest label" is Spark's order. */
    def labelPropagation(iters: Int): Map[K, K] = {
      var label = Array.tabulate(n)(identity)
      for (_ <- 1 to iters) {
        val votes = Array.fill(n)(scala.collection.mutable.Map[Int, Int]())
        es.foreach { case (s, d) =>
          votes(d)(label(s)) = votes(d).getOrElse(label(s), 0) + 1
          votes(s)(label(d)) = votes(s).getOrElse(label(d), 0) + 1
        }
        label = Array.tabulate(n)(v =>
          if (votes(v).isEmpty) label(v) else votes(v).toSeq.minBy(c => (-c._2, c._1))._1)
      }
      keyed(i => nodes(label(i)))
    }

    /** Union-find; each component labelled by its smallest node. */
    def components: Map[K, K] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (s, d) =>
        val (a, b) = (find(s), find(d)); if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
      keyed(i => nodes(find(i)))
    }
  }

  private def assertClose[K](got: Map[K, Double], want: Map[K, Double], what: String): Unit = {
    assert(got.keySet === want.keySet, what)
    want.foreach { case (k, w) =>
      assert(math.abs(got(k) - w) <= 1e-12, s"$what at $k: ${got(k)} vs $w") }
  }

  /** Every ported operator against [[Reference]] on one edge list. */
  private def checkParity[K](edges: Seq[(K, K)], cmp: (K, K) => Int,
                             df: org.apache.spark.sql.DataFrame,
                             sources: Seq[K], lonely: K,
                             selfPair: org.apache.spark.sql.DataFrame): Unit = {
    val ref = new Reference(edges, cmp)
    def scores(d: org.apache.spark.sql.DataFrame): Map[K, Double] =
      d.collect().map(r => r.getAs[K](0) -> r.getDouble(1)).toMap
    def labels(d: org.apache.spark.sql.DataFrame): Map[K, K] =
      d.collect().map(r => r.getAs[K](0) -> r.getAs[K](1)).toMap
    for (dangling <- Seq(false, true))
      assertClose(scores(PropertyGraph.pageRank(df, iterations = 6,
        redistributeDangling = dangling)), ref.pageRank(6, dangling)._1, s"pageRank dangling=$dangling")
    val (early, rounds) = PropertyGraph.pageRankWithStats(df, iterations = 80,
      tolerance = 1e-9, redistributeDangling = true)
    val (want, wantRounds) = ref.pageRank(80, dangling = true, tol = 1e-9)
    assert(rounds === wantRounds)
    assertClose(scores(early), want, "pageRank tolerance")
    assertClose(scores(PropertyGraph.personalizedPageRank(df, sources.map(_.toString),
      iterations = 5)), ref.ppr(sources.toSet, 5), "personalizedPageRank")
    val h = PropertyGraph.hits(df, iterations = 5).collect()
      .map(r => r.getAs[K](0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val wantH = ref.hits(5)
    assertClose(h.map { case (k, v) => k -> v._1 }, wantH.map { case (k, v) => k -> v._1 }, "authority")
    assertClose(h.map { case (k, v) => k -> v._2 }, wantH.map { case (k, v) => k -> v._2 }, "hub")
    for (iters <- Seq(1, 5))
      assert(labels(PropertyGraph.labelPropagation(df, iterations = iters)) ===
        ref.labelPropagation(iters), s"labelPropagation iterations=$iters")
    assert(labels(PropertyGraph.connectedComponents(df)) === ref.components)
    // duplicateClusters over the same pairs plus a doc paired only with
    // itself, which is its own cluster
    val pairs = df.unionByName(selfPair.toDF("src", "dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    assert(labels(Dedup.duplicateClusters(pairs)) === ref.components + (lonely -> lonely))
  }

  test("resident kernel: every ported operator equals a driver-side reference (string ids)") {
    val edges = parityEdges()
    val utf8 = (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    assert(utf8("～", "😀") < 0 && "～".compareTo("😀") > 0, "the tie ids must disagree")
    checkParity(edges, utf8, edges.toDF("src", "dst"), Seq("n1", "source", "～"),
      "lonely", Seq(("lonely", "lonely")).toDF("src", "dst"))
    // the planted tie resolves in Spark's ordering in round 1, and the
    // two-node component is labelled by its UTF-8-smallest id
    val lp = PropertyGraph.labelPropagation(edges.toDF("src", "dst"), iterations = 1)
      .where(col("id") === "tie").collect().head.getString(1)
    assert(lp === "～")
    val cc = PropertyGraph.connectedComponents(edges.toDF("src", "dst"))
      .where(col("node_id") === "😀x").collect().head.getString(1)
    assert(cc === "～x")
  }

  test("resident kernel: every ported operator equals a driver-side reference (long ids)") {
    val strs = parityEdges()
    val names = strs.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    // a scrambled, partly negative id per name: long order is not name order
    val id = names.zipWithIndex.map { case (s, i) => s -> ((i * 7919L) % 101 - 50) }.toMap
    assert(id.values.toSet.size === names.size)
    val edges = strs.map(e => (id(e._1), id(e._2)))
    checkParity[Long](edges, (a, b) => java.lang.Long.compare(a, b), edges.toDF("src", "dst"),
      Seq(id("n1"), id("source")), 999L, Seq((999L, 999L)).toDF("src", "dst"))
  }

  test("iterative graph operators leave only their result persisted, also when they throw") {
    val sc = spark.sparkContext
    /** The persisted RDD a locally checkpointed result reads. */
    def owned(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.logical.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet
    def leavesOnlyResult(what: String)(call: => org.apache.spark.sql.DataFrame): Unit = {
      val before = sc.getPersistentRDDs.keySet
      val df = call
      val mine = owned(df)
      assert(mine.size === 1, s"$what: result reads $mine")
      assert(sc.getPersistentRDDs.keySet === before ++ mine, what)
    }
    def leavesNothing(what: String)(call: => Any): Unit = {
      val before = sc.getPersistentRDDs.keySet
      intercept[Exception](call)
      assert(sc.getPersistentRDDs.keySet === before, what)
    }
    val edges = parityEdges().toDF("src", "dst")
    leavesOnlyResult("pageRank")(PropertyGraph.pageRank(edges))
    leavesOnlyResult("pageRank dangling")(
      PropertyGraph.pageRank(edges, redistributeDangling = true))
    leavesOnlyResult("pageRank tolerance")(
      PropertyGraph.pageRank(edges, iterations = 30, tolerance = 1e-6))
    leavesOnlyResult("personalizedPageRank")(
      PropertyGraph.personalizedPageRank(edges, Seq("n1")))
    leavesOnlyResult("hits")(PropertyGraph.hits(edges))
    leavesOnlyResult("labelPropagation")(PropertyGraph.labelPropagation(edges))
    leavesOnlyResult("connectedComponents")(PropertyGraph.connectedComponents(edges))
    leavesOnlyResult("duplicateClusters")(Dedup.duplicateClusters(
      edges.select(col("src").as("id_a"), col("dst").as("id_b"))))
    leavesNothing("personalizedPageRank with an absent source")(
      PropertyGraph.personalizedPageRank(edges, Seq("n1", "absent")))
    val path = (0L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    leavesNothing("connectedComponents past maxIters")(
      PropertyGraph.connectedComponents(path, maxIters = 1))
    // the DataFrame-round operators release every round's checkpoint but
    // the result's
    leavesOnlyResult("kCore")(PropertyGraph.kCore(edges, k = 2))
    leavesOnlyResult("shortestPathsWeighted")(PropertyGraph.shortestPathsWeighted(
      edges.withColumn("weight", lit(1.0)), "n1", iterations = 4))
    leavesNothing("kCore past maxIters")(PropertyGraph.kCore(path, k = 2, maxIters = 1))
  }
}
