package graftbench

import scala.collection.mutable

/** Reference answers the benchmark computes on the driver, independently of
  * the engine, for the analytics ops that have no DuckDB oracle. */
object Answers {

  def same[K, V](op: String, expected: Map[K, V], got: Map[K, V]): Verdict = {
    val diff = expected.keySet.union(got.keySet).filter(k => expected.get(k) != got.get(k))
    if (diff.isEmpty) Passed
    else Wrong(s"$op: ${diff.size} keys differ, e.g. " +
      diff.take(3).map(k => s"$k: ${expected.get(k)} vs ${got.get(k)}").mkString("; "))
  }

  def same[A](op: String, expected: Set[A], got: Set[A]): Verdict =
    if (expected == got) Passed
    else Wrong(s"$op: missing ${expected.diff(got).size} " +
      s"(e.g. ${expected.diff(got).take(3).mkString(", ")}), extra " +
      s"${got.diff(expected).size} (e.g. ${got.diff(expected).take(3).mkString(", ")})")

  private def adjacency(edges: Iterable[(Long, Long)]): mutable.LongMap[mutable.ArrayBuffer[Long]] = {
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    edges.foreach { case (s, d) => adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d }
    adj
  }

  /** Directed BFS: (source, node, hops) for every node within `maxDepth`,
    * the source itself at 0. */
  def bfs(edges: Array[(Long, Long)], sources: Seq[Long],
      maxDepth: Int): Set[(Long, Long, Int)] = {
    val adj = adjacency(edges)
    sources.distinct.flatMap { s =>
      val dist = mutable.LongMap(s -> 0)
      var frontier = Seq(s)
      var d = 0
      while (frontier.nonEmpty && d < maxDepth) {
        d += 1
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .filter(w => !dist.contains(w)).distinct
        frontier.foreach(w => dist(w) = d)
      }
      dist.map { case (n, h) => (s, n, h) }
    }.toSet
  }

  /** Longest-path layer of every node of a DAG; roots are layer 0. */
  def layers(edges: Array[(Long, Long)]): Map[Long, Int] = {
    val distinct = edges.distinct
    val adj = adjacency(distinct)
    val indeg = mutable.LongMap.empty[Int]
    distinct.foreach { case (s, d) =>
      indeg.getOrElseUpdate(s, 0)
      indeg(d) = indeg.getOrElse(d, 0) + 1
    }
    val layer = mutable.LongMap.empty[Int]
    val queue = mutable.Queue.from(indeg.collect { case (n, 0) => n })
    queue.foreach(layer(_) = 0)
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      adj.getOrElse(v, Nil).foreach { w =>
        layer(w) = math.max(layer.getOrElse(w, 0), layer(v) + 1)
        indeg(w) -= 1
        if (indeg(w) == 0) queue.enqueue(w)
      }
    }
    layer.toMap
  }

  /** Strongly connected components (Kosaraju, iterative): node -> smallest
    * node id of its SCC. */
  def scc(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val es = edges.filter { case (s, d) => s != d }
    val fwd = adjacency(es)
    val rev = adjacency(es.map(_.swap))
    val nodes = es.flatMap { case (s, d) => Seq(s, d) }.distinct.sorted
    val seen = mutable.Set.empty[Long]
    val order = mutable.ArrayBuffer.empty[Long]
    nodes.foreach { root =>
      if (seen.add(root)) {
        val stack = mutable.Stack((root, fwd.getOrElse(root, Nil).iterator))
        while (stack.nonEmpty) {
          val (v, it) = stack.top
          if (it.hasNext) {
            val w = it.next()
            if (seen.add(w)) stack.push((w, fwd.getOrElse(w, Nil).iterator))
          } else { stack.pop(); order += v }
        }
      }
    }
    val comp = mutable.LongMap.empty[Long]
    order.reverseIterator.foreach { root =>
      if (!comp.contains(root)) {
        val members = mutable.ArrayBuffer(root)
        comp(root) = root
        var i = 0
        while (i < members.size) {
          rev.getOrElse(members(i), Nil).foreach { w =>
            if (!comp.contains(w)) { comp(w) = root; members += w }
          }
          i += 1
        }
        val id = members.min
        members.foreach(comp(_) = id)
      }
    }
    comp.toMap
  }

  private def undirected(edges: Array[(Long, Long)]): Array[(Long, Long)] =
    edges.collect { case (s, d) if s != d => (math.min(s, d), math.max(s, d)) }.distinct

  private def neighbours(und: Array[(Long, Long)]): mutable.LongMap[mutable.Set[Long]] = {
    val nb = mutable.LongMap.empty[mutable.Set[Long]]
    und.foreach { case (u, v) =>
      nb.getOrElseUpdate(u, mutable.Set.empty) += v
      nb.getOrElseUpdate(v, mutable.Set.empty) += u
    }
    nb
  }

  /** Triangles each node is a corner of, for nodes in at least one. */
  def triangles(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val und = undirected(edges)
    val nb = neighbours(und)
    val count = mutable.LongMap.empty[Long]
    // each triangle once: u < v < w
    und.foreach { case (u, v) =>
      nb(u).foreach { w =>
        if (w > v && nb(v).contains(w))
          Seq(u, v, w).foreach(n => count(n) = count.getOrElse(n, 0L) + 1)
      }
    }
    count.toMap
  }
}
