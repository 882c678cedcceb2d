package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Property graph over DataFrames — vertices(id, labels, properties-ish
  * typed columns), edges(id, src, dst, type), hyperedges(id, nodes, type)
  * — re-expressing reference graph.py's GraphDB.
  *
  * The reference maintains five hash indexes (graph.py:253-488) for point
  * lookups; distributed, those are equi-joins (hash-partitioned by key =
  * the same index, sharded) plus optional bucketing. Traversals are
  * iterative frontier joins with the frontier checkpointed each hop —
  * Spark has no native recursion, so the loop lives on the driver but
  * every hop is a fully distributed join (SURVEY §4.2.4).
  */
object PropertyGraph {

  /** 1-hop neighbors (graph.py:818-842): direction in|out|both, optional
    * edge-type filter. Returns (node_id, neighbor_id, edge_type). */
  def neighbors(edges: DataFrame, nodeFilter: Column = lit(true),
                direction: String = "both",
                edgeType: Option[String] = None): DataFrame = {
    val typed = edgeType.map(t => edges.where(col("type") === t)).getOrElse(edges)
    val out = typed.select(col("src").as("node_id"), col("dst").as("neighbor_id"), col("type").as("edge_type"))
    val in = typed.select(col("dst").as("node_id"), col("src").as("neighbor_id"), col("type").as("edge_type"))
    val dird = direction match {
      case "out" => out
      case "in" => in
      case "both" => out.unionByName(in)
      case other => throw new IllegalArgumentException(s"direction: $other")
    }
    dird.where(nodeFilter)
  }

  /** Frontier frames at or below this estimated size (bytes, row count ×
    * schema default width) are broadcast into the per-hop join. The
    * ADJACENCY is never broadcast: it is the 100TB side — BFS from a few
    * seeds starts at |seeds| rows, so the frontier is the provably small
    * side of every early hop. */
  private val BroadcastFrontierBytes = 8L << 20

  /** Materialized adjacency for the iterative operators: hash-partitioned
    * by node_id ONCE and persisted. Every hop joins on node_id, so the
    * cached layout already satisfies the join's distribution — Catalyst
    * reuses it and only the frontier side ever shuffles (or, when the
    * frontier is small, broadcasts, moving nothing at all). No count job:
    * the first hop materializes the cache. */
  private[graft] def materializedAdj(edges: DataFrame, direction: String,
                                     edgeType: Option[String]): DataFrame = {
    val p = edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    neighbors(edges, direction = direction, edgeType = edgeType)
      .select(col("node_id"), col("neighbor_id"))
      .repartition(p, col("node_id"))
      .persist()
  }

  /** One traversal hop: frontier ⋈ adjacency on end_id = node_id. The
    * frontier is the broadcast side when its (estimated) size fits the
    * budget — rowsHint < 0 means unknown, which falls back to the
    * shuffled join against the pre-partitioned cached adjacency. Either
    * way the adjacency never moves. */
  private[graft] def hopJoin(frontier: DataFrame, adj: DataFrame,
                             rowsHint: Long): DataFrame = {
    val bytesPerRow = math.max(frontier.schema.defaultSize.toLong, 1L)
    val f = if (rowsHint >= 0 && rowsHint * bytesPerRow <= BroadcastFrontierBytes)
      broadcast(frontier) else frontier
    f.join(adj, f("end_id") === adj("node_id"))
  }

  /** Var-length traversal (graph.py:844-869): all simple paths from the
    * seed set up to maxDepth hops, cycle-avoidance within each path.
    * Returns (start_id, end_id, depth, path).
    *
    * Per-hop frontiers are persisted (hop k+1 must not replay hops 1..k)
    * and released once the final localCheckpoint has materialized the
    * result — the caller's frame owns its own storage. */
  def traverse(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
               direction: String = "out",
               edgeType: Option[String] = None): DataFrame = {
    val adj = materializedAdj(edges, direction, edgeType)
    var frontier = seeds.select(col("id").as("start_id"), col("id").as("end_id"),
      lit(0).as("depth"), array(col("id").cast("string")).as("path"))
      .persist()
    // Per-hop count on the persisted frontier, same stance as
    // shortestPaths: the count triples as (a) cache materialization,
    // (b) the broadcast-size hint for the NEXT hop — a seed-limited
    // frontier broadcasts into the join and the cached adjacency moves
    // nothing — and (c) an early exit when the traversal drains before
    // maxDepth (a dead frontier previously still paid maxDepth joins).
    var n = frontier.count()
    var all = frontier
    val hops = scala.collection.mutable.ListBuffer[DataFrame](frontier)
    var d = 0
    try {
      while (d < maxDepth && n > 0) {
        frontier = hopJoin(frontier, adj, rowsHint = n)
          .where(!array_contains(col("path"), col("neighbor_id").cast("string")))
          .select(col("start_id"), col("neighbor_id").as("end_id"),
            (col("depth") + 1).as("depth"),
            concat(col("path"), array(col("neighbor_id").cast("string"))).as("path"))
          .persist()
        n = frontier.count()
        hops += frontier
        all = all.unionByName(frontier)
        d += 1
      }
      all.where(col("depth") > 0).localCheckpoint(eager = true)
    } finally {
      hops.foreach(_.unpersist())
      adj.unpersist()
    }
  }

  /** BFS shortest path lengths from seeds (graph.py:871-902): Pregel-style
    * frontier expansion with a visited set, capped at maxDepth. Returns
    * (start_id, end_id, hops) — minimal hops per reachable pair.
    *
    * One blocking job per hop: the new frontier is persisted and counted
    * (the count doubles as both cache materialization and the emptiness
    * check). The visited set stays a union of the persisted frontiers —
    * every leaf cached, so no per-hop checkpoint job and no lineage
    * replay — and is checkpointed ONCE on exit, after which all frontier
    * storage is released. */
  def shortestPaths(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
                    direction: String = "both",
                    edgeType: Option[String] = None): DataFrame = {
    val adj = materializedAdj(edges, direction, edgeType)
    val frontiers = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var frontier = seeds.select(col("id").as("start_id"), col("id").as("end_id"),
      lit(0).as("hops")).persist()
    frontiers += frontier
    var visited = frontier
    var n = frontier.count()
    var d = 0
    try {
      while (d < maxDepth && n > 0) {
        // the per-hop emptiness count doubles as the broadcast-size hint:
        // a seed-limited frontier broadcasts, the cached adjacency never moves
        val expanded = hopJoin(frontier, adj, rowsHint = n)
          .select(col("start_id"), col("neighbor_id").as("end_id"), (col("hops") + 1).as("hops"))
          .groupBy("start_id", "end_id").agg(min("hops").as("hops"))
        val seen = visited.select(col("start_id").as("_vs"), col("end_id").as("_ve"))
        val next = expanded.join(seen,
          expanded("start_id") === seen("_vs") && expanded("end_id") === seen("_ve"), "left_anti")
          .persist()
        n = next.count()
        frontiers += next
        if (n > 0) visited = visited.unionByName(next)
        frontier = next
        d += 1
      }
      visited.localCheckpoint(eager = true)
    } finally {
      frontiers.foreach(_.unpersist())
      adj.unpersist()
    }
  }

  /** Hyperedge membership (graph.py:457-478, 800-812): hyperedges touching
    * ANY of the given nodes (union) or ALL of them (intersection —
    * group-count equals the query-set size).
    *
    * r15 (guide §3.3 "explode multiplies"): hyperedges are pre-filtered
    * with a per-row `arrays_overlap` BEFORE the explode, so only edges
    * touching a queried node ever multiply into member rows — a
    * hyperedge with no queried member contributed nothing to either mode
    * (its exploded rows all died on the isin filter), so the output is
    * identical while the explode volume drops from Σ|nodes| over the
    * corpus to Σ|nodes| over the touched edges. */
  def hyperedgesForNodes(hyperedges: DataFrame, nodeIds: Seq[String],
                         mode: String = "any"): DataFrame = {
    val exploded = hyperedges
      .where(arrays_overlap(col("nodes"), array(nodeIds.map(lit): _*)))
      .select(col("id"), col("type"), explode(col("nodes")).as("member"))
      .where(col("member").isin(nodeIds: _*))
    mode match {
      case "any" => exploded.select("id", "type").distinct()
      case "all" =>
        exploded.groupBy("id", "type")
          .agg(countDistinct("member").as("n"))
          .where(col("n") === nodeIds.distinct.size)
          .select("id", "type")
      case other => throw new IllegalArgumentException(s"mode: $other")
    }
  }

  /** Graph mutations as batch set operations (reference Suite 2 exercises
    * add/update/delete with hash-index maintenance, graph.py:150-250;
    * distributed, the "indexes" are the frames themselves so maintenance
    * is just the Crud algebra — plus the edge cascade the reference
    * applies on node removal). */
  def addNodes(vertices: DataFrame, nodes: DataFrame): DataFrame =
    Crud.insertNew(vertices, nodes, "id")

  def updateNodes(vertices: DataFrame, updates: DataFrame): DataFrame =
    Crud.upsert(vertices, updates, "id")

  /** PARTIAL node update with the reference's merge semantics
    * (graph.py:603-640 update_node): property columns present in `updates`
    * overwrite only where non-null — absent/null keeps the existing value
    * (the reference merges into the existing dict; it cannot express
    * set-to-null either) — and update columns new to the graph appear as
    * new property columns (null elsewhere). Labels: addLabels unioned,
    * removeLabels removed, on matched nodes only. Non-matching update ids
    * are ignored (the reference returns False). One broadcast-able left
    * join; no full-row replacement. */
  def updateNodesPartial(vertices: DataFrame, updates: DataFrame,
                         addLabels: Seq[String] = Nil,
                         removeLabels: Seq[String] = Nil): DataFrame = {
    val uCols = updates.columns.filterNot(Set("id", "labels")).toSeq
    val u = updates.select(
      (col("id").as("_uid") +: uCols.map(c => col(c).as(s"_u_$c"))): _*)
    val joined = vertices.join(broadcast(u), vertices("id") === u("_uid"), "left")
    val matched = col("_uid").isNotNull
    val outCols = vertices.columns.toSeq.map {
      case "labels" =>
        val withAdds =
          if (addLabels.isEmpty) col("labels")
          else array_union(col("labels"), array(addLabels.map(lit): _*))
        val merged =
          if (removeLabels.isEmpty) withAdds
          else array_except(withAdds, array(removeLabels.map(lit): _*))
        when(matched, merged).otherwise(col("labels")).as("labels")
      case c if uCols.contains(c) => coalesce(col(s"_u_$c"), col(c)).as(c)
      case c => col(c)
    }
    val newCols = uCols.filterNot(vertices.columns.contains)
      .map(c => when(matched, col(s"_u_$c")).as(c))
    joined.select(outCols ++ newCols: _*)
  }

  /** Property-range node finder (graph.py:688-702
    * find_nodes_by_property_range): nodes whose `key` property lies in
    * [minVal, maxVal] — a plain pushdown-friendly range predicate. */
  def findNodesByRange(vertices: DataFrame, key: String,
                       minVal: Any, maxVal: Any): DataFrame =
    vertices.where(col(key) >= lit(minVal) && col(key) <= lit(maxVal))

  /** Remove nodes AND every edge touching them (graph.py:214-238 removes
    * incident edges from all adjacency indexes). Returns (vertices, edges). */
  def removeNodes(vertices: DataFrame, edges: DataFrame,
                  nodeIds: Seq[String]): (DataFrame, DataFrame) = {
    val v = vertices.where(!col("id").isin(nodeIds: _*))
    val e = edges.where(!col("src").isin(nodeIds: _*) &&
      !col("dst").isin(nodeIds: _*))
    (v, e)
  }

  /** Tagged union of the two limit(1)-bounded validation probes — ONE
    * blocking job where two ran before (at ingest cadence the per-batch
    * driver round-trips halve). Each branch is locally limit(1)-bounded,
    * so either scan still stops at its first violating row. */
  private def firstViolation(missingMembers: DataFrame,
                             duplicateIds: DataFrame): Option[(String, String)] =
    missingMembers.select(lit("missing").as("kind"), col("id"))
      .limit(1)
      .unionByName(duplicateIds.select(lit("dup").as("kind"), col("id")).limit(1))
      .limit(1).collect().headOption
      .map(r => (r.getString(0), r.getString(1)))

  /** Edge creation with the reference's validation (graph.py:708-727
    * create_edge): both endpoints must exist, and an existing edge id is
    * an error. One existence-check job (limit(1)-bounded scans), then a
    * union — the distributed analog of the reference's dict insert +
    * adjacency/type index add (the frames ARE the indexes here). */
  def addEdges(vertices: DataFrame, edges: DataFrame,
               newEdges: DataFrame): DataFrame = {
    val vids = vertices.select(col("id"))
    val missing = newEdges
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .join(vids, Seq("id"), "left_anti")
    val dup = newEdges.select("id")
      .join(edges.select("id"), Seq("id"), "left_semi")
    firstViolation(missing, dup).foreach {
      case ("missing", id) => throw new IllegalArgumentException(
        s"addEdges: endpoint node '$id' not found")
      case (_, id) => throw new IllegalArgumentException(
        s"addEdges: edge '$id' already exists")
    }
    edges.unionByName(newEdges, allowMissingColumns = true)
  }

  /** Edge deletion by id (graph.py:729-739 delete_edge). */
  def removeEdges(edges: DataFrame, edgeIds: Seq[String]): DataFrame =
    edges.where(!col("id").isin(edgeIds: _*))

  /** Hyperedge creation (graph.py:766-779 create_hyperedge): every member
    * node must exist; duplicate hyperedge id is an error. Both probes run
    * as one tagged-union job like [[addEdges]]. */
  def addHyperedges(vertices: DataFrame, hyperedges: DataFrame,
                    newHyperedges: DataFrame): DataFrame = {
    val vids = vertices.select(col("id"))
    val missing = newHyperedges
      .select(explode(col("nodes")).as("id"))
      .join(vids, Seq("id"), "left_anti")
    val dup = newHyperedges.select("id")
      .join(hyperedges.select("id"), Seq("id"), "left_semi")
    firstViolation(missing, dup).foreach {
      case ("missing", id) => throw new IllegalArgumentException(
        s"addHyperedges: member node '$id' not found")
      case (_, id) => throw new IllegalArgumentException(
        s"addHyperedges: hyperedge '$id' already exists")
    }
    hyperedges.unionByName(newHyperedges, allowMissingColumns = true)
  }

  /** Hyperedge deletion by id (graph.py:785-793 delete_hyperedge). */
  def removeHyperedges(hyperedges: DataFrame, hyperedgeIds: Seq[String]): DataFrame =
    hyperedges.where(!col("id").isin(hyperedgeIds: _*))

  /** Node removal with the reference's full cascade semantics
    * (graph.py:625-650 delete_node): cascade=true deletes incident edges
    * AND every hyperedge CONTAINING a removed node — the whole hyperedge
    * goes, not just the membership (graph.py:647-650). cascade=false is
    * the reference's fail-loudly mode (graph.py:640-641): refuse the
    * delete if any removed node still has an incident edge or hyperedge.
    * Returns (vertices, edges, hyperedges). */
  def removeNodes(vertices: DataFrame, edges: DataFrame,
                  hyperedges: DataFrame, nodeIds: Seq[String],
                  cascade: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val ids = array(nodeIds.map(lit): _*)
    val touchedEdge = col("src").isin(nodeIds: _*) || col("dst").isin(nodeIds: _*)
    val touchedHyper = arrays_overlap(col("nodes"), ids)
    if (!cascade) {
      // existence checks, not counts — limit(1) stops each scan at the
      // first incident row
      if (edges.where(touchedEdge).limit(1).count() > 0 ||
          hyperedges.where(touchedHyper).limit(1).count() > 0)
        throw new IllegalStateException(
          s"cannot delete nodes [${nodeIds.mkString(",")}]: incident " +
            "edges/hyperedges exist and cascade=false")
    }
    (vertices.where(!col("id").isin(nodeIds: _*)),
      edges.where(!touchedEdge),
      hyperedges.where(!touchedHyper))
  }

  /** Graph stats (graph.py:917-926): counts + distinct labels/types —
    * one lazy union-of-aggregates plan, so the caller pays a single job
    * instead of five driver-side counts. */
  def stats(vertices: DataFrame, edges: DataFrame,
            hyperedges: Option[DataFrame] = None): DataFrame = {
    def one(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("value")).select(lit(name).as("stat"), col("value"))
    val spark = vertices.sparkSession
    import spark.implicits._
    one("num_nodes", vertices)
      .unionByName(one("num_edges", edges))
      .unionByName(hyperedges.map(h => one("num_hyperedges", h))
        .getOrElse(Seq(("num_hyperedges", 0L)).toDF("stat", "value")))
      .unionByName(one("num_labels", vertices.select(explode(col("labels"))).distinct()))
      .unionByName(one("num_edge_types", edges.select("type").distinct()))
  }

  // ------------------------------------------------------- graph analytics

  /** Connected components over the undirected view of an edge relation:
    * (node_id, component_id) for every node in >= 1 edge, component_id =
    * MIN node id of the component (Spark's ordering of the id type) — the
    * first-class graph surface of [[Dedup.duplicateClusters]]'s
    * large-star/small-star kernel (Kiveris et al., SoCC'14); the
    * reference's component-style traversals (graph.py:844-902) walk
    * adjacency per seed, which cannot enumerate all components at scale.
    *
    * Scale shape: O(log n) rounds regardless of component diameter, each
    * a few exchanges of int pairs over [[ResidentGraph]]'s dictionary
    * ranges and ONE job (the exact fixpoint test); `maxIters` is a
    * fail-loud bound. Isolated vertices (no edges) are not emitted — union
    * them in as their own singleton components if the vertex relation is
    * authoritative. */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
                          dstCol: String = "dst",
                          maxIters: Int = 50): DataFrame =
    Dedup.duplicateClusters(
        edges.select(col(srcCol).as("id_a"), col(dstCol).as("id_b")),
        "id_a", "id_b", maxIters)
      .select(col("doc_id").as("node_id"), col("cluster_id").as("component_id"))

  /** PageRank in the normalized (probability) formulation: ranks start
    * at 1/N, each round `rank = (1-d)/N + d·Σ_in rank_src/outdeg_src`;
    * by DEFAULT dangling-node mass is not redistributed and the
    * iteration count is fixed — deterministic, oracle-checkable
    * (`tolerance` and `redistributeDangling` opt into early-stop
    * convergence and the standard dangling-mass term; see
    * [[pageRankWithStats]]). (Normalized on purpose: with the
    * unnormalized GraphX convention every rank on an integer-out-degree
    * graph is a terminating decimal, which can sit EXACTLY on a rounding
    * boundary and flip under cross-engine summation-order noise; 1/N
    * makes the values non-terminating, so boundaries are hit with
    * probability ~0.) Duplicate edges count in the out-degree and carry
    * one share each.
    *
    * Scale shape: the graph is packed ONCE into [[ResidentGraph]]'s
    * per-partition route arrays (one sampling job); each round is one
    * `zipPartitions` plus one exchange of pre-summed rank shares, chained
    * as RDD lineage — the whole fixed-iteration run is one more job, with
    * no Catalyst plan or codegen per round. */
  def pageRank(edges: DataFrame, iterations: Int = 5,
               damping: Double = 0.85,
               tolerance: Double = 0.0,
               redistributeDangling: Boolean = false): DataFrame =
    pageRankWithStats(edges, iterations, damping, tolerance, redistributeDangling)._1

  /** [[pageRank]] plus the number of rounds actually run (== `iterations`
    * unless `tolerance` stopped early) — package-private so the spec can
    * assert convergence behavior without timing heuristics.
    *
    * `tolerance > 0` adds an early stop: each round's ranks are persisted
    * and max |Δrank| is read by one driver action per round; iteration
    * ends once it drops below the tolerance. `redistributeDangling` adds
    * the standard dangling-mass term (rank mass sitting on nodes with no
    * out-edges is spread uniformly: rank = (1-d)/N + d·(Σ inflow + dm/N),
    * the convention GraphX/NetworkX follow); dm is summed per partition
    * and rides the round's own exchange, so it costs no action. Both are
    * OFF by default. The teleport is `(1.0 - d)/N` as a double
    * subtraction then division, the same double an SQL oracle computing
    * literally `(1.0 - 0.85)/n` gets. */
  private[graft] def pageRankWithStats(edges: DataFrame, iterations: Int = 5,
               damping: Double = 0.85,
               tolerance: Double = 0.0,
               redistributeDangling: Boolean = false): (DataFrame, Int) = {
    require(iterations > 0, s"iterations must be positive: $iterations")
    ResidentGraph.run { scope =>
      val g = ResidentGraph.build(scope, edges, "src", "dst", withIn = false)
      val dangling = redistributeDangling
      def round(ranks: RDD[Array[Double]]): RDD[Array[Double]] = {
        val shares = g.parts.zipPartitions(ranks) { (pi, ri) =>
          val pt = pi.next(); val r = ri.next()
          val c = new Array[Double](pt.size)
          var dm = 0.0
          for (u <- c.indices) {
            if (pt.outDeg(u) > 0) c(u) = r(u) / pt.outDeg(u)
            else if (dangling) dm += r(u)
          }
          Iterator((c, dm))
        }
        g.parts.zipPartitions(ResidentGraph.exchange(g, shares, reverse = false)) { (pi, xi) =>
          val n = pi.next().nodes.total.toDouble
          val (inflow, dm) = xi.next()
          val teleport = (1.0 - damping) / n
          Iterator(inflow.map(x =>
            if (dangling) teleport + damping * (x + dm / n) else teleport + damping * x))
        }
      }
      var ranks = g.parts.map(pt => Array.fill(pt.size)(1.0 / pt.nodes.total))
      var rounds = 0
      var converged = false
      while (rounds < iterations && !converged) {
        val next = round(ranks)
        if (tolerance > 0) {
          scope.hold(next)
          val delta = ranks.zipPartitions(next) { (a, b) =>
            val (x, y) = (a.next(), b.next())
            Iterator(x.indices.foldLeft(0.0)((m, i) => math.max(m, math.abs(y(i) - x(i)))))
          }.collect().foldLeft(0.0)(math.max)
          if (rounds > 0) scope.drop(ranks)
          converged = delta < tolerance
        }
        ranks = next
        rounds += 1
      }
      (ResidentGraph.scoreFrame(g.enc, Seq("id", "rank"), ranks.map(Array(_))), rounds)
    }
  }

  /** Personalized PageRank (the random surfer teleports back to the
    * SOURCE set, not uniformly — Jeh & Widom WWW'03): mass starts at
    * 1/|S| on the sources, each round
    * `rank = (1-d)·1[v∈S]/|S| + d·Σ_in rank_src/outdeg_src`. The
    * relevance ranking "how reachable is v FROM these seeds" — the graph
    * side of seed-expansion retrieval, where plain PageRank is global
    * importance. Fixed-iteration, no dangling redistribution — the
    * [[pageRank]] oracle-stable stance. Sources are compared with the ids
    * as `isin` would (cast to the id type); a source that is not a node
    * fails loud.
    *
    * Scale shape: [[pageRank]]'s resident rounds; one extra job counts the
    * sources found before any round runs. */
  def personalizedPageRank(edges: DataFrame, sources: Seq[String],
                           iterations: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iterations > 0, s"iterations must be positive: $iterations")
    require(sources.nonEmpty, "personalizedPageRank needs at least one source")
    ResidentGraph.run { scope =>
      val g = ResidentGraph.build(scope, edges, "src", "dst", withIn = false)
      val isSource = ResidentGraph.flags(g.enc, sources)
      val nSrc = isSource.map(_.count(identity)).collect().sum
      require(nSrc == sources.distinct.length,
        s"personalizedPageRank: ${sources.distinct.length - nSrc} source(s) " +
          s"absent from the graph: sources must be existing node ids")
      // (1.0 - d)/|S| as a double subtraction then division, like pageRank
      val teleport = (1.0 - damping) / nSrc.toDouble
      val seed = 1.0 / nSrc.toDouble
      var ranks = isSource.map(_.map(s => if (s) seed else 0.0))
      for (_ <- 1 to iterations) {
        val shares = g.parts.zipPartitions(ranks) { (pi, ri) =>
          val pt = pi.next(); val r = ri.next()
          Iterator((Array.tabulate(pt.size)(u =>
            if (pt.outDeg(u) > 0) r(u) / pt.outDeg(u) else 0.0), 0.0))
        }
        ranks = isSource.zipPartitions(ResidentGraph.exchange(g, shares, reverse = false)) {
          (si, xi) =>
            val s = si.next(); val inflow = xi.next()._1
            Iterator(Array.tabulate(s.length)(v =>
              (if (s(v)) teleport else 0.0) + damping * inflow(v)))
        }
      }
      ResidentGraph.scoreFrame(g.enc, Seq("id", "rank"), ranks.map(Array(_)))
    }
  }

  /** HITS hubs-and-authorities (Kleinberg JACM'99) in the sum-normalized
    * formulation: hubs start at 1/N; each round
    * `auth(v) = Σ_{u→v} hub(u)` then `auth ← auth/Σauth`, followed by
    * `hub(u) = Σ_{u→v} auth(v)` then `hub ← hub/Σhub`. Sum-normalization
    * (not the L2 of the original paper) keeps every intermediate a plain
    * ratio of sums — the same cross-engine-roundable regime as
    * [[pageRank]]'s 1/N formulation — and converges to the same ranking
    * (normalization never reorders a non-negative eigenvector iterate).
    * Fixed iteration count, deterministic, oracle-checkable. Returns
    * (id, authority, hub) over all nodes; pure sources score authority 0,
    * pure sinks hub 0 — not NULL — like the reference's degree-style
    * stats over its node universe (graph.py:436-515). Duplicate edges
    * count once each.
    *
    * Scale shape: the graph is packed ONCE with both edge directions
    * ([[ResidentGraph]]); a round is two exchanges, the auth gather along
    * out-edges and the hub gather along in-edges, and neither needs a
    * driver action. Gathers are linear, so dividing a gathered vector by
    * the sum of the vector it gathered gives the same ratios as
    * normalizing first: the hub vector travels raw, with its sum riding
    * the auth exchange, and the auth vector is divided by that sum on
    * arrival. Every vector thus grows by at most one round's gain (raw
    * sums chained over rounds overflow a double within a few dozen
    * rounds on a heavy multi-edge). Round 1 gathers the literal 1/N
    * vector, undivided. The output vectors are divided by their own
    * sums: the auth sum rides the hub exchange, the hub sum is one small
    * driver action. */
  def hits(edges: DataFrame, iterations: Int = 5): DataFrame = {
    require(iterations > 0, s"iterations must be positive: $iterations")
    ResidentGraph.run { scope =>
      val g = ResidentGraph.build(scope, edges, "src", "dst", withIn = true)
      var hub = g.parts.map(pt => Array.fill(pt.size)(1.0 / pt.nodes.total))
      var auth: RDD[Array[Double]] = null
      var hubSums: RDD[(Array[Double], Double)] = null
      for (round <- 1 to iterations) {
        val gathered = ResidentGraph.exchange(g, hub.map(h => (h, h.sum)), reverse = false)
        auth = if (round == 1) gathered.map(_._1)
          else gathered.map { case (a, hubTotal) => a.map(_ / hubTotal) }
        hubSums = ResidentGraph.exchange(g, auth.map(a => (a, a.sum)), reverse = true)
        hub = hubSums.map(_._1)
      }
      val hubTotal = hub.map(_.sum).collect().sum
      ResidentGraph.scoreFrame(g.enc, Seq("id", "authority", "hub"),
        auth.zipPartitions(hubSums) { (ai, hi) =>
          val a = ai.next(); val (h, authTotal) = hi.next()
          Iterator(Array(a.map(_ / authTotal), h.map(_ / hubTotal)))
        })
    }
  }

  /** k-core of the undirected graph (Seidman'83): the maximal subgraph
    * in which every node has degree >= k, computed by synchronous
    * peeling — each round drops EVERY node whose degree within the
    * current survivor set is below k, until a fixpoint. Rounds are
    * deterministic, so a fixed-round SQL unroll reproduces the result
    * exactly once both sides have converged (peeling is idempotent at
    * the fixpoint — extra rounds are no-ops). Returns the surviving
    * nodes with their within-core degree.
    *
    * Scale shape: input edges are symmetrized + distinct ONCE and
    * cached; each round is one semi-join of the edge list against the
    * survivor set (both endpoints) + one degree aggregation — the edge
    * relation never rebuilds, only the node-sized survivor vector
    * moves. The fixpoint probe is an observe() metric RIDING the round's
    * own checkpoint action (r15, guide §2.4/§1.2 — the separate count()
    * per round was a second driver action over the just-cached frame),
    * and the converged round's output IS the answer: peeling removed
    * nothing, so its (id, degree) rows equal the old post-loop recompute
    * and that whole two-join pass is gone. Peel depth is bounded by the
    * longest removal cascade; `maxIters` is a fail-loud bound, not a
    * silent truncation. */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 50): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val spark = edges.sparkSession
    val nparts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val e = edges.select(col("src"), col("dst"))
    val und = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct()
      .repartition(nparts, col("src")).persist()
    try {
      val o0 = org.apache.spark.sql.Observation("kcore_init")
      // the survivors (id, and from the first round on their degree); each
      // round's checkpoint is released once the next one has materialized
      var alive = und.select(col("src").as("id")).distinct()
        .observe(o0, count(lit(1)).as("n"))
        .localCheckpoint(eager = true)
      var aliveN = o0.get("n").asInstanceOf[Long]
      var converged = false
      var iters = 0
      while (!converged && iters < maxIters) {
        val deg = und
          .join(alive.select(col("id").as("src")), "src")
          .join(alive.select(col("id").as("dst")), "dst")
          .groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
        val o = org.apache.spark.sql.Observation(s"kcore_round_$iters")
        val next = deg.where(col("degree") >= k)
          .observe(o, count(lit(1)).as("n"))
          .localCheckpoint(eager = true)
        val nextN = o.get("n").asInstanceOf[Long]
        converged = nextN == aliveN
        Bm25.releaseCheckpoint(alive)
        alive = next
        aliveN = nextN
        iters += 1
        if (aliveN == 0) converged = true
      }
      if (!converged) Bm25.releaseCheckpoint(alive)
      require(converged,
        s"kCore(k=$k) did not converge within $maxIters peel rounds — raise maxIters")
      // the converged round removed nothing, so its survivor degrees ARE
      // the fixpoint degrees (identical to recomputing over the survivors)
      alive.select(col("id"), col("degree"))
    } finally und.unpersist()
  }

  /** Orient each canonical undirected edge {a,b} from its LOWER-degree
    * endpoint (ties broken by id), returning (u, v, rv) where rv is v's
    * (degree, id) rank struct — kept so the wedge join can order the two
    * out-neighbors without re-joining degrees. Degree ordering is THE
    * scale guard for triangle enumeration: out-degree under it is
    * O(sqrt m), so wedge volume is O(m^1.5) instead of the id-ordered
    * Σd(v)² that explodes on a power-law hub (a degree-d hub with a low
    * id yields C(d,2) wedges). Package-private so the spec can assert
    * wedge volume directly. */
  private[graft] def orientByDegree(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // struct comparison is lexicographic: (deg, id) is a total order
    und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b"))
          .otherwise(col("a")).as("v"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("db").as("deg"), col("b").as("id")))
          .otherwise(struct(col("da").as("deg"), col("a").as("id"))).as("rv"))
  }

  /** Per-node triangle participation counts over an undirected edge list:
    * canonicalize every edge, orient it low-degree-endpoint-first
    * ([[orientByDegree]]), build wedges with one self-join on the SOURCE
    * (each wedge generated at its lowest-degree corner, the two out-
    * neighbors ordered by rank so every wedge appears once), close them
    * against the oriented edge list with a second equi-join — each
    * triangle enumerated exactly once. Both joins are equi-joins on node
    * ids (shuffle-partitioned, no broadcast of the edge list) and wedge
    * volume is O(m^1.5) regardless of skew, so the plan carries to any
    * graph that fits a shuffle. Returns (id, triangles) for every node
    * incident to at least one edge. */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct().persist()
    try {
      val oriented = orientByDegree(und).persist()
      try {
        val wedges = oriented.select(col("u"), col("v"), col("rv"))
          .join(oriented.select(col("u"), col("v").as("w"), col("rv").as("rw")), Seq("u"))
          .where(col("rv") < col("rw"))
          .select(col("u"), col("v"), col("w"))
        // closing edge between v,w is oriented v->w (rank(v) < rank(w))
        val tris = wedges.join(
          oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
        val nodes = und.select(col("a").as("id"))
          .unionByName(und.select(col("b").as("id"))).distinct()
        // zero-fill by UNION into the count aggregate, not a left join
        // (r15; the r14 PageRank pattern, guide §2.4): each node rides
        // one 0 row through the id-keyed exchange the counts already
        // pay, so a node in no triangle sums to exactly the 0 the old
        // coalesce produced and the nodes⋈counts join (plus its
        // broadcast/shuffle stage) is gone.
        tris.select(explode(array(col("u"), col("v"), col("w"))).as("id"),
            lit(1L).as("_t"))
          .unionByName(nodes.select(col("id"), lit(0L).as("_t")))
          .groupBy("id").agg(sum(col("_t")).as("triangles"))
          .localCheckpoint(eager = true)
      } finally { oriented.unpersist() }
    } finally { und.unpersist() }
  }

  /** Weighted single-source shortest paths by distributed Bellman-Ford
    * relaxation: the known-distance vector starts as {source → 0} and
    * each round relaxes every outgoing edge of every known node —
    * dist_t(v) = min(dist_{t-1}(v), min_{(u,v,w)} dist_{t-1}(u) + w).
    * Unreached nodes are simply ABSENT (no ∞ sentinel to carry or
    * compare), so the round is one src-keyed join plus one min-aggregate
    * over (known ∪ relaxed), checkpointed — two exchanges per round, with
    * the shuffled vector growing only as the reachable frontier does.
    * Fixed `iterations` (correct for all paths of ≤ that many hops;
    * Bellman-Ford needs diameter rounds to converge), so the whole run
    * unrolls into a cross-engine SQL oracle like q84/q126. Edges relax
    * DIRECTED as given — symmetrize first for an undirected graph.
    * Extends the unweighted BFS operator (graph.py shortest_path is
    * hop-count only); weights must be non-negative for the fixed-round
    * result to be a true distance (negative edges need n-1 rounds). */
  def shortestPathsWeighted(edges: DataFrame, sourceId: String,
                            iterations: Int = 4,
                            srcCol: String = "src", dstCol: String = "dst",
                            weightCol: String = "weight"): DataFrame = {
    require(iterations > 0, s"iterations must be positive: $iterations")
    val spark = edges.sparkSession
    val nparts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("double").as("_w"))
      .repartition(nparts, col("src")).persist()
    try {
      var dist = e.sparkSession.range(1)
        .select(lit(sourceId).as("id"), lit(0.0).as("dist"))
      for (_ <- 1 to iterations) {
        val relaxed = e
          .join(dist.select(col("id").as("src"), col("dist")), "src")
          .select(col("dst").as("id"), (col("dist") + col("_w")).as("dist"))
        val next = dist.unionByName(relaxed)
          .groupBy("id").agg(min(col("dist")).as("dist"))
          .localCheckpoint(eager = true)
        Bm25.releaseCheckpoint(dist) // the previous round's; no-op for the seed row
        dist = next
      }
      dist
    } finally e.unpersist()
  }

  /** Synchronous label propagation (Raghavan et al., Phys. Rev. E'07) —
    * community detection by iterated plurality voting: every node starts
    * as its own label; each round it adopts the most frequent label among
    * its neighbors, ties broken by the SMALLEST label (Spark's ordering of
    * the id type), so every round is fully deterministic and the whole
    * run unrolls into a cross-engine SQL oracle (the q84 stance — fixed
    * `iterations`, no early stop). Edges vote UNDIRECTED with multigraph
    * semantics: each edge row is one vote in each direction, so a
    * duplicate edge votes twice and a self-loop gives its node two votes
    * for its own label; a node with no vote keeps its label (graph.py has
    * no community op; this is the standard large-graph extension next to
    * PageRank/CC).
    *
    * Scale shape: the graph is packed ONCE with both edge directions
    * ([[ResidentGraph]]); labels are ints whose order is the id order, a
    * round is one exchange of packed (target, label) votes that each
    * range sorts and scans, and rounds chain as RDD lineage — one job for
    * the run plus the packing's sampling job. Labels are decoded to ids
    * once, at the end. */
  def labelPropagation(edges: DataFrame, iterations: Int = 5,
                       srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iterations > 0, s"iterations must be positive: $iterations")
    ResidentGraph.run { scope =>
      val g = ResidentGraph.build(scope, edges, srcCol, dstCol, withIn = true)
      var labels = g.parts.map(pt => Array.tabulate(pt.size)(pt.nodes.offset + _))
      for (_ <- 1 to iterations) labels = ResidentGraph.vote(g, labels)
      ResidentGraph.labelFrame(g.enc, "id", "label", labels)
    }
  }
}
