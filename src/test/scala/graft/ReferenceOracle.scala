package graft

import scala.collection.mutable

/** In-memory single-threaded implementation of the reference's exact
  * algorithm semantics (SURVEY.md §2.8) — the differential-testing
  * oracle. Deliberately naive: correctness by obviousness.
  */
object ReferenceOracle {

  def vertices(edges: Seq[(Long, Long)]): Seq[Long] =
    (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted

  /** Reference PR (pr.h): rank0 = alpha; per iter:
    * y(v) = Σ_{u→v} rank(u)/outdeg(u) (0 when outdeg=0);
    * rank(v) = alpha + (1-alpha)·y(v). Runs exactly `iters` rounds
    * when iters>0, else to |Δ|≤tol fixpoint. */
  def pagerank(edges: Seq[(Long, Long)], iters: Int,
               alpha: Double = 0.15, tol: Double = 1e-5,
               mode: String = "always"): Map[Long, Double] = {
    val vs = vertices(edges)
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val hasIn = edges.map(_._2).toSet
    def sweep(rank: Map[Long, Double], withSources: Boolean): Map[Long, Double] = {
      val y = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      edges.foreach { case (u, v) =>
        val d = outdeg.getOrElse(u, 0L)
        val gated = withSources || hasIn.contains(u)
        if (d > 0 && gated) y(v) += rank(u) / d
      }
      vs.map(v => v -> (alpha + (1.0 - alpha) * y(v))).toMap
    }
    var rank = vs.map(_ -> alpha).toMap
    var it = 0
    var anyChanged = true
    while ((iters > 0 && it < iters) || (iters == 0 && anyChanged)) {
      val next = sweep(rank, withSources = mode == "always")
      anyChanged = vs.exists(v => math.abs(next(v) - rank(v)) > tol)
      rank = next
      it += 1
    }
    // distributed GraphTap: one extra combine+apply with source-row
    // edges included (vp:423-429, 1282-1317)
    if (mode == "flush") sweep(rank, withSources = true) else rank
  }

  /** Undirected connected components, label = min vid (union-find). */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val vs = vertices(edges)
    val parent = mutable.Map(vs.map(v => v -> v): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vs.map(v => v -> find(v)).toMap
  }

  /** Undirected BFS from root: hops + parent = min-vid in-neighbor on
    * the previous level (reference combiner=min over frontier vids,
    * bfs.h:56-77). Unreached → absent. */
  def bfs(edges: Seq[(Long, Long)], root: Long): Map[Long, (Long, Long)] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    val res = mutable.Map(root -> (root, 0L)) // vid -> (parent, hops)
    var frontier = Set(root)
    var hops = 0L
    while (frontier.nonEmpty) {
      hops += 1
      val next = mutable.Map.empty[Long, Long] // vid -> min frontier neighbor
      frontier.foreach { u =>
        adj.getOrElse(u, Set.empty).foreach { v =>
          if (!res.contains(v)) next(v) = math.min(next.getOrElse(v, Long.MaxValue), u)
        }
      }
      next.foreach { case (v, p) => res(v) = (p, hops) }
      frontier = next.keySet.toSet
    }
    res.toMap
  }

  /** Directed weighted SSSP (Dijkstra). */
  def sssp(edges: Seq[(Long, Long, Double)], root: Long): Map[Long, Double] = {
    val adj = edges.groupBy(_._1)
    val dist = mutable.Map(root -> 0.0)
    val pq = mutable.PriorityQueue((0.0, root))(Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d <= dist.getOrElse(u, Double.PositiveInfinity)) {
        adj.getOrElse(u, Seq.empty).foreach { case (_, v, w) =>
          val nd = d + w
          if (nd < dist.getOrElse(v, Double.PositiveInfinity)) {
            dist(v) = nd; pq.enqueue((nd, v))
          }
        }
      }
    }
    dist.toMap
  }

  /** Synchronous frequency LPA on the undirected, deduped closure of
    * `edges` without self-loops: every vertex starts with its own id;
    * each round every vertex takes the label most frequent among its
    * neighbours (max count, then min label), and a vertex with no
    * neighbours keeps its label. Stops after a round that changed
    * nothing or after `maxIters` rounds. Returns (labels, rounds). */
  def lpa(edges: Seq[(Long, Long)], maxIters: Int): (Map[Long, Long], Int) = {
    val nbrs = edges.filter(e => e._1 != e._2)
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var label = vertices(edges).map(v => v -> v).toMap
    var rounds = 0
    var changed = label.nonEmpty
    while (changed && rounds < maxIters) {
      val next = label.map { case (v, l) =>
        v -> nbrs.get(v).fold(l) { ns =>
          ns.groupBy(label).toSeq.map { case (lab, xs) => (-xs.size, lab) }.min._2
        }
      }
      changed = next != label
      label = next
      rounds += 1
    }
    (label, rounds)
  }

  /** Exact triangle count of the undirected simple closure. */
  def triangles(edges: Seq[(Long, Long)]): Long = {
    val simple = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nbrs = mutable.Map.empty[Long, mutable.Set[Long]]
    simple.foreach { case (a, b) =>
      nbrs.getOrElseUpdate(a, mutable.Set.empty) += b
      nbrs.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    simple.map { case (a, b) =>
      (nbrs(a) intersect nbrs(b)).count(c => c > b)
    }.sum
  }
}
