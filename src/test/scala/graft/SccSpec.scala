package graft

import org.scalatest.funsuite.AnyFunSuite

/** G14: strongly connected components via (forward-min, backward-min)
  * class refinement — pinned against hand-computed decompositions. */
class SccSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def scc(edges: (Long, Long)*): Map[Long, Long] = {
    val s = spark; import s.implicits._
    Traversals.sccLabels(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two cycles joined by a DAG edge are two SCCs") {
    // 1->2->3->1 (SCC {1,2,3}), 4->5->4 (SCC {4,5}), bridge 3->4
    val m = scc(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 5L, 5L -> 4L, 3L -> 4L)
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("a pure DAG is all singleton SCCs") {
    val m = scc(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L)
    assert(m == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("direction matters: anti-parallel pair is one SCC, one-way is not") {
    assert(scc(7L -> 9L, 9L -> 7L) == Map(7L -> 7L, 9L -> 7L))
    assert(scc(7L -> 9L, 9L -> 8L) == Map(7L -> 7L, 8L -> 8L, 9L -> 9L))
  }

  test("nested structure: big cycle with an inner shortcut stays one SCC") {
    // 1->2->3->4->5->1 plus shortcut 3->1; tail 5->6
    val m = scc(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 1L, 3L -> 1L, 5L -> 6L)
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 6L))
  }

  test("chain of 2-cycles (SCC condensation is a path) converges") {
    // (1,2) -> (3,4) -> (5,6): three SCCs in a line — exercises multiple
    // refinement rounds since classes split progressively
    val m = scc(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L, 5L -> 6L, 6L -> 5L,
      2L -> 3L, 4L -> 5L)
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L))
  }

  test("self-loops and parallel edges are ignored / deduped") {
    val m = scc(1L -> 1L, 1L -> 2L, 1L -> 2L, 2L -> 1L)
    assert(m == Map(1L -> 1L, 2L -> 1L))
  }

  test("size-gated local Tarjan == distributed FW/BW refinement") {
    val s = spark; import s.implicits._
    // md5-deterministic pseudo-random directed graph: 300 vertices,
    // 900 edges — enough cycle structure for non-trivial SCCs plus a
    // DAG fringe; localGate = 0 forces the distributed fixpoint
    val edges = (0 until 900).map { i =>
      val a = math.abs(java.security.MessageDigest.getInstance("MD5")
        .digest(s"scc-a|$i".getBytes).take(4).foldLeft(0L)(_ * 256 + _ & 0xff)) % 300
      val b = math.abs(java.security.MessageDigest.getInstance("MD5")
        .digest(s"scc-b|$i".getBytes).take(4).foldLeft(0L)(_ * 256 + _ & 0xff)) % 300
      (a, b)
    }.toDF("src", "dst")
    val local = Traversals.sccLabels(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Traversals.sccLabels(edges, localGate = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
    assert(local.nonEmpty)
  }

  test("msfBoruvka: local union-find contraction == distributed ccBigStar") {
    // the local contraction is the driver solver localSccLabels over the
    // symmetrized selected edges; localGate = 0 forces ccBigStar every
    // round
    val s = spark; import s.implicits._
    val w = (0 until 400).map { i =>
      val a = (i * 7919L) % 120
      val b = (i * 104729L) % 120
      (math.min(a, b), math.max(a, b), (i * 31L) % 97 + 1)
    }.filter(t => t._1 != t._2).distinct.toDF("src", "dst", "w")
    def forest(g: Long) = Traversals.msfBoruvka(w, localGate = g)
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("w")).head()
    val (l, d) = (forest(Long.MaxValue), forest(0L))
    assert(l.getLong(0) == d.getLong(0))
    assert(l.getLong(1) == d.getLong(1))
  }

  test("doubleSweepDiameter is exact on a tree (path): diameter = path length") {
    val s = spark; import s.implicits._
    // path 1-2-3-4-5 has diameter 4; double sweep is exact on trees
    val canon = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val r = Traversals.doubleSweepDiameter(canon).head()
    assert(r.getAs[Long]("diameter_lb") == 4L)
    assert(Set(1L, 5L).contains(r.getAs[Long]("far_id")))
  }

  test("msfBoruvka picks the unique MST of a weighted square with diagonal") {
    val s = spark; import s.implicits._
    // square 1-2-3-4 with weights 1,2,3,4 and diagonal 1-3 weight 5:
    // MST = edges w=1,2,3 (the w=4 edge closes a cycle, diagonal too)
    val edges = Seq(
      (1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (1L, 4L, 4L), (1L, 3L, 5L))
      .toDF("src", "dst", "w")
    val f = Traversals.msfBoruvka(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(f == Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L)))
  }

  test("msfBoruvka spans a forest: two components, each its own tree") {
    val s = spark; import s.implicits._
    val edges = Seq(
      (1L, 2L, 9L), (2L, 3L, 1L), (1L, 3L, 2L), // triangle -> drop w=9
      (10L, 11L, 7L)) // separate component
      .toDF("src", "dst", "w")
    val f = Traversals.msfBoruvka(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(f == Set((2L, 3L, 1L), (1L, 3L, 2L), (10L, 11L, 7L)))
  }
}
