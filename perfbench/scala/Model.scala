package perfbench

import scala.collection.mutable

/** One edge row in the paper's edge schema. */
final case class Edge(src: Long, dst: Long, etype: Byte, ts: Long, weight: Float) {
  /** The row as the store returns it, in store-schema column order, with
    * the JVM classes Spark's schema maps each column to. */
  def typedRow: Seq[Any] = Seq(java.lang.Long.valueOf(src), java.lang.Long.valueOf(dst),
    java.lang.Byte.valueOf(etype), java.lang.Long.valueOf(ts), java.lang.Float.valueOf(weight))
}

/** The benchmark's own in-memory edge multiset. Every acknowledged
  * mutation is replayed here, and every answer the store gives is checked
  * against the reference answer computed from this model. */
final class Model {
  private val out = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Edge]]
  private val in = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
  // sampling list of pairs ever added; dead entries are dropped lazily
  private val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
  private var rows = 0L

  def liveRows: Long = rows

  def add(e: Edge): Unit = {
    out.getOrElseUpdate(e.src, mutable.ArrayBuffer.empty) += e
    in.getOrElseUpdate(e.dst, mutable.ArrayBuffer.empty) += e.src
    pairs += ((e.src, e.dst))
    rows += 1
  }

  def hasPair(s: Long, d: Long): Boolean = out.get(s).exists(_.exists(_.dst == d))

  /** Tombstone semantics: every visible row with these endpoints goes. */
  def deletePair(s: Long, d: Long): Int = {
    val before = out.get(s).map(_.size).getOrElse(0)
    out.get(s).foreach(_.filterInPlace(_.dst != d))
    in.get(d).foreach(_.filterInPlace(_ != s))
    val n = before - out.get(s).map(_.size).getOrElse(0)
    rows -= n
    n
  }

  def updateWeight(s: Long, d: Long, w: Float): Unit =
    out.get(s).foreach(_.mapInPlace(e => if (e.dst == d) e.copy(weight = w) else e))

  /** A uniformly drawn live pair (by row), or None on an empty model. */
  def samplePair(rng: java.util.SplittableRandom): Option[(Long, Long)] = {
    while (pairs.nonEmpty) {
      val i = rng.nextInt(pairs.size)
      val p = pairs(i)
      if (hasPair(p._1, p._2)) return Some(p)
      pairs(i) = pairs(pairs.size - 1)
      pairs.remove(pairs.size - 1)
    }
    None
  }

  def edges: Iterator[Edge] = out.valuesIterator.flatMap(_.iterator)

  def outRows(k: Long): Seq[Edge] = out.get(k).map(_.toSeq).getOrElse(Nil)

  /** Symmetric-view frontier hop: out-neighbors ∪ in-neighbors of the
    * distinct keys, repeats kept (path multiplicity). */
  def neighbors(keys: Iterable[Long]): Array[Long] = {
    val b = mutable.ArrayBuilder.make[Long]
    keys.iterator.distinct.foreach { k =>
      out.get(k).foreach(_.foreach(e => b += e.dst))
      in.get(k).foreach(_.foreach(s => b += s))
    }
    b.result()
  }

  /** Served friends-of-friends over the symmetric view: hop-1 distinct
    * neighbors, hop-2 multiset minus v0, top-k by (paths desc, id). */
  def fof(v0: Long, topK: Int): (Array[Long], Seq[(Long, Long)]) = {
    val mids = neighbors(Seq(v0)).distinct
    (mids, topByCount(neighbors(mids).iterator.filter(_ != v0), topK))
  }

  /** Undirected BFS distance, None past `maxDepth` or when unreachable. */
  def shortestPath(a: Long, b: Long, maxDepth: Int): Option[Long] = {
    if (a == b) return Some(0L)
    val seen = mutable.HashSet(a)
    var fr = Array(a)
    var d = 0L
    while (fr.nonEmpty && d < maxDepth) {
      d += 1
      val next = neighbors(fr).distinct.filter(seen.add)
      if (next.contains(b)) return Some(d)
      fr = next
    }
    None
  }

  /** Distinct vertex ids on either endpoint, ascending. */
  def vertices: Array[Long] = {
    val s = mutable.HashSet.empty[Long]
    edges.foreach { e => s += e.src; s += e.dst }
    s.toArray.sorted
  }

  /** The reference PageRank update rule in the library's scaled-integer
    * arithmetic: rank 0 at start, contrib = max(0.15, r) / outdeg,
    * r' = 0.15 / n + 0.85 · acc; top 20 by (rank desc, id). */
  def pagerankTop20(iters: Int): Seq[(Long, Long)] = {
    val base = 150000000L
    val n = vertices.length.toLong
    val deg = out.iterator.collect { case (s, es) if es.nonEmpty => s -> es.size.toLong }.toMap
    var rank = deg.keys.map(_ -> 0L).toMap
    var acc = Map.empty[Long, Long]
    for (i <- 1 to iters) {
      val a = mutable.HashMap.empty[Long, Long]
      deg.foreach { case (s, od) =>
        val c = math.max(rank(s), base) / od
        out(s).foreach(e => a(e.dst) = a.getOrElse(e.dst, 0L) + c)
      }
      acc = a.toMap
      if (i < iters)
        rank = deg.keys.map(s => s -> (base / n + 17 * acc.getOrElse(s, 0L) / 20)).toMap
    }
    vertices.toSeq.map(v => v -> (base / n + 17 * acc.getOrElse(v, 0L) / 20))
      .sortBy { case (v, r) => (-r, v) }.take(20)
  }

  /** Min-label propagation along edge direction, synchronous rounds, at
    * most `maxIter` of them: the fixpoint labels every vertex with the
    * smallest id that reaches it. */
  def ccLabels(maxIter: Int): Seq[(Long, Long)] = {
    val label = mutable.HashMap.empty[Long, Long]
    vertices.foreach(v => label(v) = v)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      iter += 1
      val nb = mutable.HashMap.empty[Long, Long]
      edges.foreach { e =>
        val l = label(e.src)
        if (l < nb.getOrElse(e.dst, Long.MaxValue)) nb(e.dst) = l
      }
      changed = false
      nb.foreach { case (v, l) => if (l < label(v)) { label(v) = l; changed = true } }
    }
    label.toSeq.sorted
  }

  /** Directed multi-source BFS: (source, id, dist) for every vertex within
    * `maxDepth` out-hops of each source, the source itself at 0. */
  def bfs(sources: Seq[Long], maxDepth: Int): Seq[(Long, Long, Long)] =
    sources.flatMap { s =>
      val dist = mutable.LinkedHashMap(s -> 0L)
      var fr = Seq(s)
      var d = 0L
      while (fr.nonEmpty && d < maxDepth) {
        d += 1
        fr = fr.flatMap(v => outRows(v).map(_.dst)).distinct.filterNot(dist.contains)
        fr.foreach(v => dist(v) = d)
      }
      dist.toSeq.map { case (v, dv) => (s, v, dv) }
    }.sorted

  /** Out-direction friends-of-friends of the smallest src: hop-1 distinct
    * out-neighbors, hop-2 every out-edge of them, excluding the start. */
  def fofScanTop20: Seq[(Long, Long)] = {
    val srcs = out.iterator.collect { case (s, es) if es.nonEmpty => s }
    if (srcs.isEmpty) return Nil
    val v0 = srcs.min
    val mids = outRows(v0).map(_.dst).distinct
    topByCount(mids.iterator.flatMap(m => outRows(m).map(_.dst)).filter(_ != v0), 20)
  }

  private def topByCount(ids: Iterator[Long], k: Int): Seq[(Long, Long)] = {
    val c = mutable.HashMap.empty[Long, Long]
    ids.foreach(i => c(i) = c.getOrElse(i, 0L) + 1)
    c.toSeq.sortBy { case (id, n) => (-n, id) }.take(k)
  }
}
