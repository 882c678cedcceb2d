package perfbench

import scala.collection.mutable

/** Runs output checks and, in self-test mode, also shows that each check
  * rejects deliberately corrupted copies of the output it just passed.
  * A check returns None when the output meets the operator's stated
  * contract and a message otherwise. */
final class Checker(selftest: Boolean) {
  val failures = mutable.ArrayBuffer[String]()
  /** (check, corruption) -> rejected; each pair is tried once per run. */
  val corruptionTrials = mutable.LinkedHashMap[(String, String), Boolean]()
  val passedChecks = mutable.LinkedHashMap[String, Int]()

  def apply[O](name: String, out: O, check: O => Option[String],
               corruptions: Seq[(String, O => O)] = Nil): Boolean = {
    val verdict = check(out)
    verdict match {
      case Some(msg) =>
        if (failures.length < 20) System.err.println(s"[perfbench] check $name failed: $msg")
        failures += s"$name: $msg"
      case None =>
        passedChecks(name) = passedChecks.getOrElse(name, 0) + 1
        if (selftest) corruptions.foreach { case (cname, corrupt) =>
          if (!corruptionTrials.contains((name, cname)))
            corruptionTrials((name, cname)) = check(corrupt(out)).isDefined
        }
    }
    verdict.isEmpty
  }
}

/** The benchmark's own reference computations and contract checks. */
object Checks {
  /** Two ranked neighbour lists are compared as id sets; ids whose true
    * distance lies within this of the k-th true distance may be swapped
    * for each other (float32 GEMM vs double, summation order). */
  val TieEps = 1e-4

  /** A driver-side mirror of the collection's vectors, for brute-force
    * cosine truth. Slots are never reused; deletes clear `alive`. */
  final class Mirror(val dim: Int) {
    val ids = mutable.ArrayBuffer[String]()
    private val vecs = mutable.ArrayBuffer[Array[Float]]()
    private val invNorm = mutable.ArrayBuffer[Double]()
    val alive = mutable.BitSet()
    private val slot = mutable.HashMap[String, Int]()

    def put(id: String, v: Array[Float]): Unit = {
      slot.get(id).foreach(alive -= _)
      val s = ids.length
      ids += id; vecs += v; invNorm += 1.0 / norm(v)
      alive += s; slot(id) = s
    }
    def remove(id: String): Unit = slot.remove(id).foreach(alive -= _)
    def contains(id: String): Boolean = slot.contains(id)
    def vector(id: String): Array[Float] = vecs(slot(id))
    def liveCount: Int = alive.size

    def distance(q: Array[Float], id: String): Double = {
      val s = slot(id)
      val v = vecs(s)
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += q(j).toDouble * v(j); j += 1 }
      1.0 - dot / norm(q) * invNorm(s)
    }

    /** The `m` nearest live ids to `q` by cosine distance, nearest first. */
    def nearest(q: Array[Float], m: Int): Array[(String, Double)] = {
      val qi = 1.0 / norm(q)
      // max-heap on distance keeps the m best seen so far
      val heap = mutable.PriorityQueue[(Double, Int)]()(Ordering.by[(Double, Int), Double](_._1))
      val it = alive.iterator
      while (it.hasNext) {
        val s = it.next()
        val v = vecs(s)
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += q(j).toDouble * v(j); j += 1 }
        val d = 1.0 - dot * qi * invNorm(s)
        if (heap.size < m) heap.enqueue((d, s))
        else if (d < heap.head._1) { heap.dequeue(); heap.enqueue((d, s)) }
      }
      heap.toArray.sortBy(_._1).map(e => (ids(e._2), e._1))
    }

    private def norm(v: Array[Float]): Double = {
      var s = 0.0
      var j = 0
      while (j < v.length) { s += v(j).toDouble * v(j); j += 1 }
      math.sqrt(s)
    }
  }

  type Ranked = Array[Array[String]] // per query position, ids nearest first
  type Truth = Array[Array[(String, Double)]]

  /** Exact tiers: per query, exactly k distinct ids; every id strictly
    * inside the k-th true distance is present and every id returned lies
    * within the k-th true distance (near-ties at the boundary skipped). */
  def exactSets(k: Int, truth: Truth)(got: Ranked): Option[String] = {
    if (got.length != truth.length) return Some(s"${got.length} result lists for ${truth.length} queries")
    got.indices.iterator.map { q =>
      val t = truth(q)
      val dk = t(k - 1)._2
      val must = t.filter(_._2 < dk - TieEps).map(_._1).toSet
      val allowed = t.filter(_._2 <= dk + TieEps).map(_._1).toSet
      val g = got(q)
      if (g.length != k) Some(s"query $q: ${g.length} ids, expected $k")
      else if (g.distinct.length != k) Some(s"query $q: duplicate ids")
      else if (!must.subsetOf(g.toSet)) Some(s"query $q: missing true neighbours ${(must -- g).mkString(",")}")
      else g.find(id => !allowed(id)).map(id => s"query $q: $id is not among the $k nearest")
    }.collectFirst { case Some(m) => m }
  }

  def recallAt(k: Int, truth: Truth, got: Ranked): Double =
    got.indices.map { q =>
      val t = truth(q).take(k).map(_._1).toSet
      got(q).take(k).count(t).toDouble / k
    }.sum / got.length

  /** Approximate tiers: mean recall@k of the batch is at least `floor`. */
  def recallFloor(k: Int, truth: Truth, floor: Double)(got: Ranked): Option[String] = {
    val r = recallAt(k, truth, got)
    if (got.length != truth.length) Some(s"${got.length} result lists for ${truth.length} queries")
    else if (r < floor) Some(f"recall@$k $r%.3f below floor $floor%.2f")
    else None
  }

  /** After writes: no deleted id is ever returned. */
  def noneDeleted(deleted: collection.Set[String])(got: Ranked): Option[String] =
    got.iterator.flatMap(_.iterator).find(deleted).map(id => s"deleted id $id returned")

  /** After writes: query q (a just-written vector) finds its own id first. */
  def ownIdFirst(own: Array[String])(got: Ranked): Option[String] =
    own.indices.collectFirst {
      case q if got(q).headOption.orNull != own(q) =>
        s"query $q: own id ${own(q)} not at rank 1 (got ${got(q).headOption.orNull})"
    }

  def allOf[O](checks: (O => Option[String])*)(out: O): Option[String] =
    checks.iterator.map(_(out)).collectFirst { case Some(m) => m }

  // ------------------------------------------------------------ corruptions

  def dropNeighbour(replacement: String)(got: Ranked): Ranked =
    got.zipWithIndex.map { case (g, q) => if (q == 0 && g.nonEmpty) replacement +: g.tail else g }

  /** The recall that candidates picked at random from the probed cells
    * would give: one true neighbour per query, the rest from ranks k+1 on. */
  def chanceLevel(k: Int, truth: Truth)(got: Ranked): Ranked =
    truth.map(t => t.head._1 +: t.slice(k, 2 * k - 1).map(_._1))

  def shiftQueries(got: Ranked): Ranked = got.indices.map(q => got((q + 1) % got.length)).toArray

  def resurrect(id: String)(got: Ranked): Ranked =
    got.zipWithIndex.map { case (g, q) => if (q == 0) id +: g.dropRight(1) else g }

  def swapFirstTwo(got: Ranked): Ranked =
    got.map(g => if (g.length >= 2) g(1) +: g(0) +: g.drop(2) else g)
}
