package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TraversalsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.edgesDF

  val chain = edgesDF(Seq((0L, 1L, 0), (1L, 2L, 0), (2L, 3L, 0), (3L, 4L, 0)))
  val twoComps = edgesDF(Seq( // {0..4} ring-ish + {10..13} chain
    (0L, 1L, 0), (1L, 2L, 0), (2L, 3L, 0), (3L, 4L, 0), (4L, 0L, 0),
    (10L, 11L, 0), (11L, 12L, 0), (12L, 13L, 0)))

  def sym(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.col
    df.unionByName(df.select(col("dst").as("src"), col("src").as("dst"), col("etype")))
  }

  test("bfsDistances on a chain gives exact hop counts") {
    val s = spark; import s.implicits._
    val src = Seq((0L, 0L)).toDF("source", "id")
    val d = Traversals.bfsDistances(chain, src, maxDepth = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(d == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("bfsDistances respects maxDepth") {
    val s = spark; import s.implicits._
    val src = Seq((0L, 0L)).toDF("source", "id")
    val d = Traversals.bfsDistances(chain, src, maxDepth = 2)
    assert(d.count() == 3) // 0,1,2 only
  }

  test("multi-source BFS keeps sources independent") {
    val s = spark; import s.implicits._
    val src = Seq((0L, 0L), (3L, 3L)).toDF("source", "id")
    val d = Traversals.bfsDistances(chain, src, maxDepth = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(d((0L, 3L)) == 3L && d((3L, 4L)) == 1L && !d.contains((3L, 0L)))
  }

  test("shortestPathDist early-exits with the true distance") {
    val s = spark; import s.implicits._
    val from = Seq(0L).toDF("id")
    val to = Seq(3L).toDF("tid")
    val d = Traversals.shortestPathDist(chain, from, to, maxDepth = 10).first().getLong(0)
    assert(d == 3L)
  }

  test("expandUntil stops at the predicate and reports depth + hit") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    val seeds = Seq(0L).toDF("id")
    val exp = Traversals.expandUntil(chain, seeds, maxDepth = 10)(
      f => !f.filter(col("id") === 2L).isEmpty)
    assert(exp.hit && exp.depth == 2)
    assert(exp.frontier.collect().map(_.getLong(0)).toSet == Set(2L))
    // never fires -> walks to exhaustion, hit=false
    val miss = Traversals.expandUntil(chain, seeds, maxDepth = 10)(_ => false)
    assert(!miss.hit && miss.visited.count() == 5)
  }

  test("bidirectional BFS: same distance, fewer vertices explored") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    // complete 3-ary tree of depth 4 (121 nodes): forward-only floods all
    // of it before the leaf enters the frontier; meeting in the middle
    // explores ~b^(d/2) per side
    val tree = (0L until 40L).flatMap(n => (1L to 3L).map(c => (n, 3 * n + c, 0)))
    val g = sym(edgesDF(tree))
    val from = Seq(0L).toDF("id")
    val to = Seq(40L).toDF("tid") // leftmost depth-4 leaf: 0→1→4→13→40
    val fwdDist = Traversals.shortestPathDist(g, from, to, maxDepth = 6).first().getLong(0)
    val fwdExplored = Traversals.expandUntil(g, from, maxDepth = 6)(
      f => !f.filter(col("id") === 40L).isEmpty).visited.count()
    val (bidi, explored, steps) = Traversals.bidirectionalDist(g, from, to.toDF("id"), maxDepth = 6)
    assert(bidi.first().getLong(0) == fwdDist && fwdDist == 4L)
    assert(explored < fwdExplored / 2, s"bidi $explored vs fwd $fwdExplored")
    assert(steps <= 4)
  }

  test("shortestPathNodes returns the deterministic min-parent path") {
    val s = spark; import s.implicits._
    val from = Seq(0L).toDF("id")
    val path = Traversals.shortestPathNodes(chain, from, Seq(4L).toDF("tid"), maxDepth = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).map(_._2).toSeq
    assert(path == Seq(0L, 1L, 2L, 3L, 4L))
    val none = Traversals.shortestPathNodes(chain, from, Seq(99L).toDF("tid"), maxDepth = 10)
    assert(none.isEmpty)
  }

  test("Frontier.traverseOutUntil stops a fan-out early") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    val db = new GraphDB(s, chain, s.emptyDataFrame)
    val f = db.frontier(Seq(0L).toDF("id"))
      .traverseOutUntil(maxDepth = 10)(fr => fr.hasVertex(3L))
    assert(f.ids.collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("connected components finds min-label fixpoint per component") {
    val labels = TestSpark.toMap2(Traversals.connectedComponents(sym(twoComps)))
    assert(labels(3L) == 0L && labels(0L) == 0L)
    assert(labels(13L) == 10L && labels(10L) == 10L)
    val hist = Traversals.componentHistogramTop20(sym(twoComps))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(0L -> 5L, 10L -> 4L))
  }

  test("HITS: co-cited authority dominates, scaled-int iteration is exact") {
    val s = spark; import s.implicits._
    // 1→3, 2→3, 3→4: vertex 3 is the authority (two hubs point at it),
    // 1 and 2 are the equal top hubs. Hand-iterated 3 rounds at scale 1e5:
    // auth(3)=100000, auth(4)=12500, hub(1)=hub(2)=100000, hub(3)=12500.
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = Traversals.hitsTop20(e, iters = 3).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(3L) == ((100000L, 12500L)))
    assert(r(4L) == ((12500L, 0L)))
    assert(r(1L) == ((0L, 100000L)) && r(2L) == ((0L, 100000L)))
    // top-20 ordering: authority vertex first
    assert(Traversals.hitsTop20(e, iters = 3).first().getLong(0) == 3L)
  }

  test("ssspTree parents reconstruct the chain path") {
    val s = spark; import s.implicits._
    val tree = Traversals.ssspTree(chain, Seq(0L).toDF("id"), maxDepth = 10)
    assert(Traversals.pathTo(tree, 0L, 4L) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(Traversals.pathTo(tree, 0L, 99L).isEmpty)
  }

  test("packed-vector MultiBFS (typed Aggregator) matches row-based BFS") {
    val s = spark; import s.implicits._
    val sources = Seq(0L, 10L)
    val srcDf = sources.map(x => (x, x)).toDF("source", "id")
    val rows = Traversals.bfsDistances(sym(twoComps), srcDf, maxDepth = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val packed = MultiBFSPacked.run(spark, sym(twoComps), sources, maxDepth = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows == packed)
  }

  test("link prediction: RA scores via common neighbors, hub cut bounds fan-out") {
    import org.apache.spark.sql.functions.col
    // square 1-2-3-4-1: the two diagonals score 2 common neighbors, each
    // of degree 2 -> ra = 2 * (1e6 div 2) = 1000000
    val square = edgesDF(Seq((1L, 2L, 0), (2L, 3L, 0), (3L, 4L, 0), (1L, 4L, 0)))
      .select(col("src"), col("dst"))
    val out = Queries.linkPredictRA(square, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set((1L, 3L, 2L, 1000000L), (2L, 4L, 2L, 1000000L)))
    // star: all C(5,2) leaf pairs via the center; the maxDeg cut removes
    // the center entirely -> zero pairs (bounded wedge fan-out)
    val star = edgesDF((1L to 5L).map(i => (0L, i, 0))).select(col("src"), col("dst"))
    assert(Queries.linkPredictRA(star, k = 100).count() == 10)
    assert(Queries.linkPredictRA(star, k = 100, maxDeg = 4).collect().isEmpty)
  }

  test("random walks: md5-deterministic, edge-respecting sequences") {
    val g = sym(twoComps)
    val out = Queries.randomWalks(g, nStarts = 4, walksPerStart = 2, steps = 3)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val eset = g.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val byWalk = rows.groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(byWalk.size == 8) // 4 starts x 2 walks
    byWalk.values.foreach { seq =>
      assert(seq.length == 4) // symmetric graph: no sinks, full length
      seq.sliding(2).foreach { w => assert(eset((w(0), w(1)))) }
    }
    val again = Queries.randomWalks(g, nStarts = 4, walksPerStart = 2, steps = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(rows.toSet == again.toSet) // no RNG state
  }

  test("LPA communities: min-tie-break vote converges per component") {
    // two disjoint triangles with a pendant on the first; after 3
    // synchronous most-frequent/min-tie rounds each component settles on
    // its minimum id (hand-traced: R1 votes, R2 floods 0/10, R3 fixes)
    val g = sym(edgesDF(Seq(
      (0L, 1L, 0), (1L, 2L, 0), (0L, 2L, 0), (2L, 3L, 0),
      (10L, 11L, 0), (11L, 12L, 0), (10L, 12L, 0))))
    val lab = Traversals.lpaCommunities(g, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("LPA on a directed graph keeps voteless vertices (ADVICE r6)") {
    // 5 -> 0 -> 1: vertex 5 never receives a vote (no in-edges) and must
    // keep its own label instead of dropping out; sink 1 appears in the
    // assignment even though it is dst-only. Votes flow one hop per
    // round: after round 1, 0 adopts 5 and 1 adopts 0; after round 2,
    // 1 adopts 0's round-1 label (5).
    val g = edgesDF(Seq((5L, 0L, 0), (0L, 1L, 0)))
    val lab = Traversals.lpaCommunities(g, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab == Map(5L -> 5L, 0L -> 5L, 1L -> 5L))
  }

  test("sampled harmonic centrality scores by exact ppm inverse distance") {
    val s = spark; import s.implicits._
    // star 0—{1,2,3} plus pendant 3—4, symmetric; pivots = all of
    // 0,1,2,3,4 (nSources=5 covers the graph), so scores are exact:
    // h(0) = 3·1e6/1 + 1e6/2 = 3500000
    val g = sym(edgesDF(Seq((0L, 1L, 0), (0L, 2L, 0), (0L, 3L, 0), (3L, 4L, 0))))
    val top = Traversals.harmonicCentrality(g, nSources = 5, maxDepth = 4, k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top(0L) == 3500000L)
    // h(4): d from pivots 3,0,1,2 = 1,2,3,3 → 1e6 + 5e5 + 2·333333
    assert(top(4L) == 2166666L)
  }

  test("bfsSigma counts shortest paths level-synchronously") {
    val s = spark; import s.implicits._
    // diamond 1-{2,4}-3: two equal-length 1→3 paths, σ(1,3) = 2
    val g = sym(edgesDF(Seq((1L, 2L, 0), (1L, 4L, 0), (2L, 3L, 0), (4L, 3L, 0))))
    val src = Seq((1L, 1L)).toDF("source", "id")
    val m = Traversals.bfsSigma(g, src, maxDepth = 4)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(m(3L) == ((2L, 2L)) && m(2L) == ((1L, 1L)) && m(4L) == ((1L, 1L)))
  }

  test("stress centrality counts geodesics through each vertex") {
    // chain 1-2-3-4-5, all 5 vertices as pivots: the middle vertex lies
    // on 4 pivot-pair geodesics ((1,4),(1,5),(2,4),(2,5)), vertex 2 on 3
    val g = sym(edgesDF(Seq((1L, 2L, 0), (2L, 3L, 0), (3L, 4L, 0), (4L, 5L, 0))))
    val m = Traversals.stressCentrality(g, nPivots = 5, maxDepth = 4, k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(3L) == 4L && m(2L) == 3L && m(4L) == 3L)
  }

  test("4-truss keeps K4, peels a lone triangle") {
    val s = spark; import s.implicits._
    // K4 on {1,2,3,4}: every edge closes 2 triangles — survives k=4.
    // Lone triangle {10,11,12}: every edge closes 1 — peeled in round 1.
    val canon = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("src", "dst")
    val kept = Queries.kTruss(canon, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("temporal reach: edges are crossable only at ets >= arrival") {
    val s = spark; import s.implicits._
    // 0 -(t5)-> 1 -(t3)-> 2 : the t3 edge departs before arrival(1)=5, so
    // 2 is NOT time-reachable from 0; 1 -(t7)-> 3 is.
    val e = Seq((0L, 1L, 5L), (1L, 2L, 3L), (1L, 3L, 7L))
      .toDF("src", "dst", "ets")
    val src = Seq(0L).toDF("v")
    val arr = Traversals.temporalReachFrom(e, src, hops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(arr == Map(0L -> 0L, 1L -> 5L, 3L -> 7L))
  }

  test("skip-gram pairs: symmetric counts, full-window totals") {
    val g = sym(twoComps)
    val p = Queries.skipGramPairs(g, window = 2, nStarts = 4,
        walksPerStart = 2, steps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 8 full-length walks (sym graph: no sinks) x ordered |i-j|<=2 pairs
    // over steps 0..4 = 14 each
    assert(p.values.sum == 8 * 14)
    p.foreach { case ((c, x), n) => assert(p((x, c)) == n) } // window symmetry
  }

  test("Pregel CC matches DataFrame CC") {
    val df = TestSpark.toMap2(Traversals.connectedComponents(sym(twoComps)))
    val px = TestSpark.toMap2(VertexCentric.pregelCC(spark, sym(twoComps)))
    assert(df == px)
  }

  test("big-star CC matches label-prop CC, including on a deep chain") {
    val a = TestSpark.toMap2(Traversals.ccBigStar(sym(twoComps)))
    val b = TestSpark.toMap2(Traversals.connectedComponents(sym(twoComps)))
    assert(a == b)
    // a 17-vertex path needs 16 label-prop rounds but only O(log) star
    // rounds — the case the algorithm exists for
    val path = sym(edgesDF((0L until 16L).map(i => (i, i + 1, 0))))
    val got = TestSpark.toMap2(Traversals.ccBigStar(path))
    assert(got == (0L to 16L).map(_ -> 0L).toMap)
  }

  test("assortativity: exact rational, -1 on a path and a star, canonicalization-invariant") {
    def r(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val row = Traversals.assortativity(df).head()
      (row.getLong(0), row.getLong(1), row.getLong(2))
    }
    // P3 (1-2-3): per-edge degrees (1,2),(2,1) -> r = -4/4 = -1
    val path3 = edgesDF(Seq((1L, 2L, 0), (2L, 3L, 0)))
    assert(r(path3) == (2L, -4L, 4L))
    // K1,3 star: three (3,1) edges -> r = -36/36 = -1 (pure hub-to-leaf)
    val star = edgesDF(Seq((0L, 1L, 0), (0L, 2L, 0), (0L, 3L, 0)))
    assert(r(star) == (3L, -36L, 36L))
    // direction flips, self-loops and parallel edges canonicalize away
    val messy = edgesDF(Seq((2L, 1L, 0), (2L, 3L, 0), (3L, 2L, 0),
      (1L, 1L, 0), (1L, 2L, 0)))
    assert(r(messy) == (2L, -4L, 4L))
    // K3 regular graph: zero variance -> num = den = 0 (undefined r,
    // surfaced as the 0/0 rational, never a crash or a fake value)
    val k3 = edgesDF(Seq((0L, 1L, 0), (1L, 2L, 0), (0L, 2L, 0)))
    assert(r(k3) == (3L, 0L, 0L))
  }

  test("Pregel PageRank matches DataFrame PageRank (scaled-int, bit-exact)") {
    val e = edgesDF(Seq((0L, 2L, 0), (1L, 2L, 0), (2L, 3L, 0), (0L, 3L, 0)))
    val a = PageRank.top20(e, iters = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = VertexCentric.pregelPageRank(spark, e, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
  }

  private def logicalRddLeaves(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collectLeaves().count(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])

  test("katzCentrality counts attenuated walks exactly") {
    val s = spark; import s.implicits._
    // path graph 1 -> 2 -> 3 plus a parallel edge 1 -> 2
    val e = Seq((1L, 2L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = TestSpark.toMap2(Traversals.katzCentrality(e, k = 10))
    // w1: 2->2, 3->1 ; w2: walks len2 end at 3 = 2 ; w3: none
    // katz(2) = 4*2 = 8 ; katz(3) = 4*1 + 2*2 = 8
    assert(r == Map(2L -> 8L, 3L -> 8L))
  }

  test("maximalMatching is a valid maximal matching") {
    val s = spark; import s.implicits._
    // path 1-2-3-4 plus isolated edge 5-6
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val m = Traversals.maximalMatching(e).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val verts = m.flatMap(p => Seq(p._1, p._2))
    assert(verts.distinct.length == verts.length) // no vertex matched twice
    assert(m.contains((5L, 6L))) // isolated edge must be matched (maximality)
    // maximality on the path: at least one of the three path edges matched,
    // and no two unmatched adjacent vertices remain
    val mv = verts.toSet
    val unmatchedEdges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .filter(p => !mv.contains(p._1) && !mv.contains(p._2))
    assert(unmatchedEdges.isEmpty)
  }

  test("semiSupervisedLabels: seeds clamp, neighbors adopt, isolated stay -1") {
    val s = spark; import s.implicits._
    // seed 10 (class 1) wired to 5 and 6; seed 20 (class 2) also wired
    // to 6 -> 6 tie-breaks to the SMALLER label; 99 is isolated
    val e = Seq((10L, 5L), (5L, 10L), (10L, 6L), (6L, 10L),
      (20L, 6L), (6L, 20L), (98L, 99L), (99L, 98L))
      .toDF("src", "dst")
    val r = TestSpark.toMap2(Traversals.semiSupervisedLabels(e, rounds = 3))
    assert(r(10L) == 1L)  // clamped seed: class = 10 % 3 = 1
    assert(r(20L) == 2L)  // clamped seed: class = 20 % 3 = 2
    assert(r(5L) == 1L)
    assert(r(6L) == 1L)   // votes {1, 2} -> count tie -> min label 1
    assert(r(99L) == -1L) // no labeled neighbor ever
  }

  test("deep-chain bfsDistances: exact distances AND bounded union plan") {
    val s = spark; import s.implicits._
    val n = 70 // chain depth well past AccumFoldEvery
    val chain = edgesDF((0L until (n - 1)).map(i => (i, i + 1, 0)))
    val src = Seq((0L, 0L)).toDF("source", "id")
    val visited = Traversals.bfsDistances(chain, src, maxDepth = 100)
    // the accumulator folds every AccumFoldEvery rounds, so however deep
    // the sweep, the returned plan holds at most K+2 flat parts (K-1
    // unfolded rounds + the last fold + the possible empty tail part)
    assert(logicalRddLeaves(visited) <= Traversals.AccumFoldEvery + 2,
      s"visited union grew past the fold bound: ${visited.queryExecution.analyzed}")
    val d = visited.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(d == (0L until n).map(i => i -> i).toMap)
  }

  test("edge residency gate: below = resident checkpoint, above = streamed") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-r15-gate").toString
    (0L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
      .write.mode("overwrite").parquet(s"$dir/e")
    val proj = s.read.parquet(s"$dir/e").select(col("src"), col("dst"))
    // the fixed gate (16 GiB): a KB-scale parquet goes resident, and the
    // scope releases the resident copy when it ends
    val residentId = Traversals.pinned { pins =>
      val resident = pins.resident(proj)
      assert(logicalRddLeaves(resident) == 1, "below the gate: expected a checkpoint")
      resident.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.get
    }
    assert(!spark.sparkContext.getPersistentRDDs.contains(residentId),
      "the scope left the resident copy persisted")
    Traversals.pinned { pins =>
      assert(pins.resident(proj, gate = 0) eq proj,
        "above the gate: expected the plain projection (per-round re-scan)")
      // a DSv2 parquet scan counts its file bytes as well: streamed too
      val v1Sources = "spark.sql.sources.useV1SourceList"
      s.conf.set(v1Sources, "")
      try {
        val v2proj = s.read.parquet(s"$dir/e").select(col("src"), col("dst"))
        assert(v2proj.queryExecution.optimizedPlan.collectLeaves().exists(_.isInstanceOf[
          org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation]))
        assert(pins.resident(v2proj, gate = 0) eq v2proj,
          "DSv2 scan above the gate: expected the plain projection")
      } finally s.conf.unset(v1Sources)
    }
    // end-to-end: bfsDistances' sweep streamed (gate 0) and resident
    // (the fixed gate) returns identical rows
    val seed = Seq((0L, 0L)).toDF("source", "id").withColumn("dist", lit(0L))
    def dists(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val dStreamed = dists(Traversals.frontierSweep(proj, seed, maxDepth = 30, gate = 0)(
      Traversals.bfsStep).visited)
    val dResident = dists(Traversals.frontierSweep(proj, seed, maxDepth = 30)(
      Traversals.bfsStep).visited)
    assert(dStreamed == dResident && dResident == (0L to 20L).map(i => (i, i)).toSet)
  }

  test("Pins.roll releases the frame it replaces once the new one is built") {
    val s = spark; import s.implicits._
    def cached(df: org.apache.spark.sql.DataFrame) =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val outside = (1L to 4L).toDF("id")
    val (a, b, survivors) = Traversals.pinned { pins =>
      val a = pins((1L to 6L).toDF("id"))
      val (b, n) = pins.roll(a.filter($"id" > 2), a)
      assert(n == 4 && !cached(a) && cached(b), "roll kept the frame it replaced")
      // a frame the scope did not pin is left alone
      val (c, _) = pins.roll(outside.filter($"id" > 1), outside)
      (a, b, c.count())
    }
    assert(survivors == 3 && !cached(a) && !cached(b), "the scope left the rolled frame pinned")
  }

  test("foldAccum is identity off the fold cadence and folds on it") {
    val s = spark; import s.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b").localCheckpoint(true)
    val u = df.union(df)
    assert(Traversals.foldAccum(u, Traversals.AccumFoldEvery - 1) eq u)
    assert(logicalRddLeaves(
      Traversals.foldAccum(u, Traversals.AccumFoldEvery)) == 1)
  }

  val star = edgesDF((1L to 5L).map(i => (0L, i, 0)))
  /** `df` as a canonical undirected edge set (src < dst, distinct). */
  def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst")).distinct()
  /** `twoComps` canonical with unique integer weights, for msfBoruvka. */
  lazy val weighted = canon(twoComps).withColumn("w", col("src") * 100 + col("dst"))

  test("each superstep loop runs a pinned number of Spark jobs") {
    val s = spark; import s.implicits._
    def jobs(f: => Any): Int = TestSpark.jobsDuring(spark)(f)._2
    val seed0 = Seq((0L, 0L)).toDF("source", "id")
    val tree = Traversals.ssspTree(chain, Seq(0L).toDF("id"), maxDepth = 10)
      .localCheckpoint(true)
    // AQE off: under AQE a query stage that a runtime re-plan makes
    // redundant (an empty join side) may or may not have started its job,
    // so bfsDistances and ssspTree counts vary by one from run to run;
    // without it a count is the actions and broadcasts alone, every run
    val aqe = "spark.sql.adaptive.enabled"
    val aqeWas = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    // each algorithm plus one action on its result: the counts are the
    // "one action per superstep" contract, so a change that adds a job
    // to any loop shows here
    val got = try Seq(
      "bfsDistances" -> jobs(Traversals.bfsDistances(chain, seed0, 10).collect()),
      "bfsSigma" -> jobs(Traversals.bfsSigma(sym(star), seed0, 4).collect()),
      "expandUntil" -> jobs(Traversals.expandUntil(chain, Seq(0L).toDF("id"), 10)(
        f => !f.filter(col("id") === 3L).isEmpty).visited.collect()),
      "weightedSSSP" -> jobs(Traversals.weightedSSSP(
        chain.withColumn("rating", col("src") % 3 + 1)).collect()),
      "temporalReachFrom" -> jobs(Traversals.temporalReachFrom(
        chain.withColumn("ets", col("src")), Seq(0L).toDF("v"), 4).collect()),
      "kCore" -> jobs(Traversals.kCore(canon(twoComps), k = 2).collect()),
      "kTruss" -> jobs(Queries.kTruss(canon(twoComps), k = 3).collect()),
      "maximalIndependentSet" -> jobs(
        Traversals.maximalIndependentSet(canon(twoComps)).collect()),
      "maximalMatching" -> jobs(Traversals.maximalMatching(canon(twoComps)).collect()),
      "shortestPathNodes" -> jobs(Traversals.shortestPathNodes(chain,
        Seq(0L).toDF("id"), Seq(4L).toDF("tid"), 10).collect()),
      "pathTo" -> jobs(Traversals.pathTo(tree, 0L, 4L)),
      "MultiBFSPacked.run" -> jobs(
        MultiBFSPacked.run(spark, sym(twoComps), Seq(0L, 10L), 5).collect()),
      "connectedComponents" -> jobs(Traversals.connectedComponents(sym(twoComps)).collect()),
      "connectedComponentsScan" -> jobs(
        Traversals.connectedComponentsScan(sym(twoComps)).collect()),
      "ccBigStar" -> jobs(Traversals.ccBigStar(sym(twoComps)).collect()),
      "sccLabels" -> jobs(Traversals.sccLabels(twoComps).collect()),
      "sccLabels(localGate = 0)" -> jobs(Traversals.sccLabels(twoComps, localGate = 0).collect()),
      "msfBoruvka" -> jobs(Traversals.msfBoruvka(weighted).collect()),
      "msfBoruvka(localGate = 0)" -> jobs(
        Traversals.msfBoruvka(weighted, localGate = 0).collect()))
    finally spark.conf.set(aqe, aqeWas)
    // MultiBFSPacked.run's 8 includes the fused count that materializes
    // its state before it releases the edge copy
    assert(got == Seq("bfsDistances" -> 17, "bfsSigma" -> 9, "expandUntil" -> 16,
      "weightedSSSP" -> 16, "temporalReachFrom" -> 14, "kCore" -> 18, "kTruss" -> 54,
      "maximalIndependentSet" -> 13, "maximalMatching" -> 7, "shortestPathNodes" -> 27,
      "pathTo" -> 8, "MultiBFSPacked.run" -> 8,
      "connectedComponents" -> 12, "connectedComponentsScan" -> 12, "ccBigStar" -> 19,
      "sccLabels" -> 8, "sccLabels(localGate = 0)" -> 66,
      "msfBoruvka" -> 11, "msfBoruvka(localGate = 0)" -> 16), got.mkString(", "))
  }

  test("MultiBFSPacked.run releases its resident edge copy and matches bfsDistances") {
    val s = spark; import s.implicits._
    val g = sym(twoComps)
    val (packed, left) = TestSpark.pinnedDuring(spark)(
      MultiBFSPacked.run(spark, g, Seq(0L, 10L), maxDepth = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // what the run leaves persisted is its per-depth vertex state: none of
    // it holds the 16 rows of the edge copy
    assert(left.nonEmpty && left.forall(_.count() < g.count()),
      s"an edge-sized RDD is still persisted: ${left.map(_.count())}")
    val rows = Traversals.bfsDistances(g, Seq((0L, 0L), (10L, 10L)).toDF("source", "id"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(packed == rows)
  }

  test("MultiBFSPacked.run stores its packed state only: the expanded rows stay lazy") {
    // no AQE and no broadcast joins, so each superstep's state stays
    // lazy until an action and its lineage reads the edge copy
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val was = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val (n, left) = try TestSpark.pinnedDuring(spark)(
      MultiBFSPacked.run(spark, sym(twoComps), Seq(0L, 10L), maxDepth = 5).count())
    finally was.foreach { case (k, v) => spark.conf.set(k, v) }
    // what the run leaves persisted is (id, dist) state rows, one byte
    // per source each: the (source, id, dist) expansion is never stored
    val widths = left.flatMap(_.asInstanceOf[org.apache.spark.rdd.RDD[Any]].map {
      case r: org.apache.spark.sql.catalyst.InternalRow => r.numFields
      case _ => -1
    }.distinct().collect()).toSet
    assert(n > 0 && widths == Set(2), s"persisted row widths $widths, expected the state's 2")
  }

  // K5 on 0..4 plus a triangle on 10..12: 13 edges over 8 vertices, so
  // every vertex- or forest-sized frame holds fewer rows than the edges
  lazy val k5Tri = {
    val s = spark; import s.implicits._
    val k5 = for (a <- 0L to 4L; b <- a + 1 to 4L) yield (a, b)
    (k5 ++ Seq((10L, 11L), (10L, 12L), (11L, 12L))).toDF("src", "dst")
  }

  /** Runs each case twice with AQE off (so job and task counts repeat
    * exactly) and asserts the pin-release contract: both calls give the
    * same non-empty answer and run the same jobs and tasks, and nothing
    * the two calls leave persisted holds as many rows as `k5Tri` has
    * edges. */
  def assertReleased(cases: (String, () => Set[Seq[Any]])*): Unit = {
    val nE = k5Tri.count()
    // rows an RDD holds: a cached Dataset's RDD holds column batches,
    // a GraphX edge RDD (partition id, edge partition) pairs
    def rows(r: org.apache.spark.rdd.RDD[_]): Long = r.asInstanceOf[org.apache.spark.rdd.RDD[Any]]
      .map {
        case b: org.apache.spark.sql.columnar.CachedBatch => b.numRows.toLong
        case (_, p) if p.getClass.getSimpleName == "EdgePartition" =>
          p.getClass.getMethod("size").invoke(p).asInstanceOf[Int].toLong
        case _ => 1L
      }.fold(0L)(_ + _)
    def counted(run: () => Set[Seq[Any]]) = {
      val ((answer, tasks), jobs) =
        TestSpark.jobsDuring(spark)(TestSpark.tasksDuring(spark)(run()))
      (answer, jobs, tasks)
    }
    val aqe = "spark.sql.adaptive.enabled"
    val aqeWas = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try cases.foreach { case (name, run) =>
        val ((first, second), left) =
          TestSpark.pinnedDuring(spark)((counted(run), counted(run)))
        assert(first._1.nonEmpty && first._1 == second._1, s"$name: answers differ")
        assert(first._2 == second._2, s"$name: ${first._2} jobs, then ${second._2}")
        assert(first._3 == second._3, s"$name: ${first._3} tasks, then ${second._3}")
        val edgeSized = left.map(rows).filter(_ >= nE)
        assert(edgeSized.isEmpty, s"$name left edge-sized RDDs persisted: $edgeSized")
      }
    finally spark.conf.set(aqe, aqeWas)
  }

  def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("msfBoruvka and maximalIndependentSet release their pinned edge frames; " +
    "a repeat call runs the same jobs and gives the same answer") {
    assertReleased(
      "msfBoruvka" -> (() =>
        rowSet(Traversals.msfBoruvka(k5Tri.withColumn("w", col("src") * 100 + col("dst"))))),
      "maximalIndependentSet" -> (() => rowSet(Traversals.maximalIndependentSet(k5Tri))))
  }

  test("every pinning algorithm releases what it pins before it returns; " +
    "a repeat call runs the same jobs and tasks and gives the same answer") {
    val symE = sym(k5Tri.withColumn("etype", lit(0)))
    // the exact neighborhood counts are injected, as the registry does,
    // so the call runs only its own sketch path
    val anfExact = Traversals.neighborhoodFunction(k5Tri, maxH = 3, nRoots = 200)
    assertReleased(
      "connectedComponents" -> (() => rowSet(Traversals.connectedComponents(symE))),
      "connectedComponentsAuto(localGate = 0)" -> (() =>
        rowSet(Traversals.connectedComponentsAuto(symE, localGate = 0))),
      "semiSupervisedLabels" -> (() => rowSet(Traversals.semiSupervisedLabels(symE))),
      "katzCentrality" -> (() => rowSet(Traversals.katzCentrality(k5Tri))),
      "anfHyperLogLog" -> (() =>
        rowSet(Traversals.anfHyperLogLog(k5Tri, exact = Some(anfExact)))),
      "sccLabels(localGate = 0)" -> (() =>
        rowSet(Traversals.sccLabels(k5Tri, localGate = 0))),
      "PageRank.top20" -> (() => rowSet(PageRank.top20(k5Tri, 6))),
      "PageRank.personalizedTop20" -> (() => rowSet(PageRank.personalizedTop20(k5Tri, 6))),
      "VertexCentric.pregelCC" -> (() => rowSet(VertexCentric.pregelCC(spark, symE))),
      "VertexCentric.pregelPageRank" -> (() =>
        rowSet(VertexCentric.pregelPageRank(spark, k5Tri, 6))))
  }

  test("kCore throws past maxIter with its own message") {
    // the chain 10-11-12-13 peels one end pair per round: two rounds
    val e = intercept[IllegalStateException](
      Traversals.kCore(canon(twoComps), k = 2, maxIter = 1).collect())
    assert(e.getMessage == "kCore(k=2) did not reach a fixpoint within maxIter=1 peel rounds")
  }

  test("kTruss throws past maxIter with its own message") {
    // no triangles: every edge peels in round 1, and a second round would
    // see the count hold
    val e = intercept[IllegalStateException](
      Queries.kTruss(canon(twoComps), k = 3, maxIter = 1).collect())
    assert(e.getMessage == "kTruss(k=3) did not reach a fixpoint within maxIter=1 peel rounds")
  }

  test("maximalIndependentSet throws past maxIter with its own message") {
    val path = edgesDF((0L until 30L).map(i => (i, i + 1, 0))).select("src", "dst")
    val e = intercept[IllegalStateException](
      Traversals.maximalIndependentSet(path, maxIter = 1).collect())
    assert(e.getMessage ==
      "maximalIndependentSet did not decide all vertices within maxIter=1 rounds")
  }

  test("maximalMatching throws past maxIter with its own message") {
    val path = edgesDF((0L until 30L).map(i => (i, i + 1, 0))).select("src", "dst")
    val e = intercept[IllegalStateException](
      Traversals.maximalMatching(path, maxIter = 1).collect())
    assert(e.getMessage == "maximalMatching did not retire all edges within maxIter=1 rounds")
  }
}
