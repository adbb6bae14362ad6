package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The driver-served reads of [[DurableStore]] — point, row, degree and
  * vertex reads, the served traversals (`servedShortestPath`,
  * `servedSsspTree`) and the registry's served-or-job arms: each equals
  * the routed distributed read of the same version, across deltas and
  * tombstones, and refuses — never answers wrong — past the store's
  * fixed serving budgets (driven here through [[TestSpark.budgeted]]).
  * The whole-row, class-equal property over every atomic type is in
  * PropertySpec. */
class ServedReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def edges(rows: (Long, Long)*) = {
    val s = spark; import s.implicits._
    rows.toDF("src", "dst").select(col("src"), col("dst"),
      lit(0).as("etype"), (col("src") * 10 + col("dst")).as("w"))
  }

  private def props(rows: (Long, String, Long)*) = {
    val s = spark; import s.implicits._
    rows.toDF("id", "name", "score")
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet

  private def fresh(rows: (Long, Long)*): DurableStore =
    DurableStore.create(spark, edges(rows: _*),
      Files.createTempDirectory("graft-ds").toString, numBuckets = 4)

  private def freshMirrored(rows: (Long, Long)*): DurableStore =
    DurableStore.create(spark, edges(rows: _*),
      Files.createTempDirectory("graft-dsm").toString, numBuckets = 4,
      withInEdgeIndex = true)

  val base = Seq((1L, 10L), (1L, 11L), (5L, 10L), (9L, 12L), (13L, 10L), (17L, 11L))

  test("pointReadLocal (driver serving path) == readForSrc distributed read") {
    val st = fresh(base: _*)
    val served = st.pointReadLocal(1, 1L)
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
        r(3).asInstanceOf[Long])).toSet
    assert(served == rowSet(st.readForSrc(1, 1L).filter(col("src") === 1L)))
    assert(served == rowSet(edges(base: _*)).filter(_._1 == 1L).map(identity))
    // a key outside every file range serves empty without touching parquet
    assert(st.pointReadLocal(1, 999999L).isEmpty)
  }

  test("pointReadLocalDst (driver in-edge serving) == readForDst distributed read, deltas included") {
    val st = freshMirrored(base: _*)
    def servedDst(v: Int, k: Long) = st.pointReadLocalDst(v, k)
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
        r(3).asInstanceOf[Long])).toSet
    assert(servedDst(1, 10L) ==
      rowSet(st.readForDst(1, 10L).filter(col("dst") === 10L)))
    assert(servedDst(1, 10L) == rowSet(edges(base: _*)).filter(_._2 == 10L))
    // an appended (unsorted) DELTA covering the key must be served too —
    // the mirror ∪ deltas union readForDst reads
    val v2 = st.append(1, edges((30L, 10L)))
    assert(servedDst(v2, 10L) ==
      rowSet(st.readForDst(v2, 10L).filter(col("dst") === 10L)))
    assert(servedDst(v2, 10L).contains((30L, 10L, 310L)))
    // outside every mirror/delta range: empty without touching parquet
    assert(st.pointReadLocalDst(v2, 999999L).isEmpty)
    // unindexed store: the driver dst read is refused (it would be a
    // local full scan) — callers fall back to the distributed path
    val plain = fresh(base: _*)
    intercept[IllegalArgumentException](plain.pointReadLocalDst(1, 10L))
  }

  test("servedOutRows/servedInRows (value join) == routed distributed reads, " +
       "deltas + tombstones crossed") {
    val base = (1L to 20L).map(i => (i, 400L + i % 4))
    val st = DurableStore.create(spark, edges(base: _*),
      Files.createTempDirectory("graft-r13-n4s").toString, numBuckets = 2,
      withInEdgeIndex = true)
    var v = st.append(1, edges((2L, 404L), (21L, 400L)))
    v = st.deleteEdgeTombstone(v, 3L, 403L)
    val keys = Array(2L, 3L, 21L)
    // WHOLE rows, class-equal: etype (an int column) included
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val servedOut = st.servedOutRows(v, keys).get
    assert(TestSpark.sameTypedRows(servedOut,
      rowsOf(st.readForSrcs(v, keys.toSeq).filter(col("src").isin(keys.toSeq: _*)))))
    assert(servedOut.nonEmpty && !servedOut.exists(r => r(0) == 3L && r(1) == 403L))
    val inKeys = Array(400L, 404L)
    val servedIn = st.servedInRows(v, inKeys).get
    assert(TestSpark.sameTypedRows(servedIn,
      rowsOf(st.readForDsts(v, inKeys.toSeq).filter(col("dst").isin(inKeys.toSeq: _*)))))
    // budget refusal, never a wrong answer
    assert(TestSpark.budgeted(st, files = 0).servedOutRows(v, keys).isEmpty)
  }

  test("servedDegrees == distributed counts across deltas + tombstones, " +
       "(0,0) for absent ids, refusal past budget") {
    val base = (1L to 12L).map(i => (i, 200L + i % 3))
    val st = DurableStore.create(spark, edges(base: _*),
      Files.createTempDirectory("graft-r13-deg").toString, numBuckets = 2,
      withInEdgeIndex = true)
    var v = st.append(1, edges((1L, 205L), (200L, 1L)))
    v = st.deleteEdgeTombstone(v, 1L, 200L + 1 % 3)
    val keys = Array(1L, 200L, 201L, 999L)
    val got = st.servedDegrees(v, keys).get
    val df = st.read(v)
    def deg(c: String, k: Long): Long = df.filter(col(c) === k).count()
    assert(got == keys.sorted.toSeq.map(k => (k, deg("src", k), deg("dst", k))))
    assert(got.find(_._1 == 999L).get == ((999L, 0L, 0L)))
    // the deleted edge and the delta rows are both reflected
    assert(got.find(_._1 == 1L).get == ((1L, 1L, 1L))) // base del'd, delta +1 out, +1 in
    assert(TestSpark.budgeted(st, files = 0).servedDegrees(v, keys).isEmpty)
    // unindexed store (no mirror) refuses rather than undercounting in-degree
    val st2 = DurableStore.create(spark, edges((1L, 2L)),
      Files.createTempDirectory("graft-r13-deg2").toString, numBuckets = 1)
    assert(st2.servedDegrees(1, Array(1L)).isEmpty)
  }

  test("servedShortestPath == BFS model over the symmetric (and directed) view") {
    val st = freshMirrored(base: _*)
    val v2 = st.append(1, edges((10L, 17L), (11L, 30L)))
    val v3 = st.deleteEdgeTombstone(v2, 1L, 10L)
    // model BFS on the collected edge list at v3
    val pairs = st.read(v3).select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def bfs(adj: Map[Long, Seq[Long]], from: Long, to: Long, maxD: Int): Option[Long] = {
      var vis = Map(from -> 0L); var fr = Seq(from); var d = 0L
      while (fr.nonEmpty && d < maxD && !vis.contains(to)) {
        d += 1
        val nxt = fr.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(vis.contains)
        nxt.foreach(n => vis += n -> d); fr = nxt
      }
      vis.get(to)
    }
    val symAdj = (pairs ++ pairs.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val dirAdj = pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val verts = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.sorted
    for (f <- verts; t <- verts) {
      val served = st.servedShortestPath(v3, f, t, maxDepth = 6)
      assert(served.isDefined, s"served BFS refused on a tiny store ($f -> $t)")
      assert(served.get == bfs(symAdj, f, t, 6), s"sym $f -> $t")
      val servedDir = st.servedShortestPath(v3, f, t, maxDepth = 6, symmetric = false)
      assert(servedDir.get == bfs(dirAdj, f, t, 6), s"directed $f -> $t")
    }
    // unreachable within depth → inner None; unindexed store → outer None
    assert(st.servedShortestPath(v3, verts.head, 999999L, maxDepth = 3)
      .contains(None))
    assert(fresh(base: _*).servedShortestPath(1, 1L, 5L).isEmpty)
  }

  test("servedSsspTree == Traversals.ssspTree (min-parent), deltas + tombstones crossed") {
    val st = freshMirrored(base: _*)
    val v2 = st.append(1, edges((10L, 17L), (11L, 30L)))
    val v3 = st.deleteEdgeTombstone(v2, 1L, 10L)
    val e = st.read(v3).select("src", "dst")
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    for (srcV <- Seq(1L, 9L, 30L); depth <- Seq(1, 3, 6)) {
      val served = st.servedSsspTree(v3, srcV, depth).get.toSet
      val from = spark.range(1).select(lit(srcV).as("id"))
      val expect = Traversals.ssspTree(sym, from, depth)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(served == expect, s"src=$srcV depth=$depth")
    }
    // unindexed stores refuse the symmetric walk (needs the mirror)
    assert(fresh(base: _*).servedSsspTree(1, 1L, 3).isEmpty)
  }

  test("servedShortestPath budget refusal falls back to the distributed " +
       "bidirectional BFS with the same answer") {
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 4L), (1L, 9L))
    val st = DurableStore.create(spark, edges(base: _*),
      Files.createTempDirectory("graft-r13-q5s").toString, numBuckets = 2,
      withInEdgeIndex = true)
    // budget 0 forces the refusal regime (the q5s registry entry's
    // fallback arm — VERDICT r12 wrong #1)
    assert(TestSpark.budgeted(st, files = 0).servedShortestPath(1, 1L, 4L, maxDepth = 4)
      .isEmpty)
    val served = st.servedShortestPath(1, 1L, 4L, maxDepth = 4)
      .flatten.getOrElse(sys.error("unreachable"))
    val e = st.read(1).select("src", "dst")
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val s = spark
    val dist = Traversals.bidirectionalDist(sym,
      s.range(1).select(lit(1L).as("id")),
      s.range(1).select(lit(4L).as("id")), maxDepth = 4)._1
      .head().getLong(0)
    assert(dist == served)
    assert(served == 2L) // 1 -> 9 -> 4 beats 1 -> 2 -> 3 -> 4
  }

  test("every served registry arm degrades to its one-job distributed " +
       "form at budget 0 with row-equal results") {
    val root = Files.createTempDirectory("graft-r14-fb").toString
    DurableStore.create(spark,
      edges((1L, 2L), (1L, 3L), (2L, 3L), (4L, 2L), (4L, 5L)), root,
      numBuckets = 2, withInEdgeIndex = true)
    val st = new DurableStore(spark, root)
    val v = st.setVertexTable(1,
      props((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)),
      defaults = Map("name" -> "'auto'", "score" -> "0"))
    val keys = Array(1L, 4L)
    // a handle on the same root with the file budget at 0
    val st0 = TestSpark.budgeted(st, files = 0)
    import registry.DurableQueries._
    // n3s: dsts of the key set (repeats kept)
    assert(st0.servedOutNeighbors(v, keys).isEmpty)
    val n3Served = outNeighborsServedOrJob(spark, st, v, keys)
      .collect().map(_.getLong(0)).sorted.toSeq
    val n3Fb = outNeighborsServedOrJob(spark, st0, v, keys)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(n3Served == Seq(2L, 2L, 3L, 5L) && n3Fb == n3Served)
    // n4s: full edge rows
    assert(st0.servedOutRows(v, keys).isEmpty)
    val n4Served = outRowsServedOrJob(spark, st, v, keys)
      .collect().map(_.toSeq).toSet
    val n4Fb = outRowsServedOrJob(spark, st0, v, keys)
      .collect().map(_.toSeq).toSet
    assert(n4Served.nonEmpty && n4Fb == n4Served)
    // n6s: (out, in) degrees incl. an absent id reporting (0, 0)
    assert(st0.servedDegrees(v, Array(2L, 7L)).isEmpty)
    val n6Served = degreesServedOrJob(spark, st, v, Array(2L, 7L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val n6Fb = degreesServedOrJob(spark, st0, v, Array(2L, 7L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(n6Served == Set((2L, 1L, 2L), (7L, 0L, 0L)) && n6Fb == n6Served)
    // p6b/s22: vertex getMany rows, ascending id
    assert(st0.servedVertexRows(v, Array(1L, 3L)).isEmpty)
    val pServed = vertexRowsServedOrJob(spark, st, v, Array(1L, 3L))
    val pFb = vertexRowsServedOrJob(spark, st0, v, Array(1L, 3L))
    assert(pServed == Seq(Seq(1L, "a", 10L), Seq(3L, "c", 30L)) &&
      pFb == pServed)
  }

  test("past the tombstone-row budget the served reads refuse and setVertexProp " +
       "throws without committing; the default handle answers") {
    val st = DurableStore.create(spark, edges(base: _*),
      Files.createTempDirectory("graft-tomb-budget").toString, numBuckets = 2,
      withInEdgeIndex = true)
    var v = st.setVertexTable(1, props((1L, "a", 10L), (5L, "b", 20L)),
      defaults = Map("name" -> "'auto'", "score" -> "0"))
    v = st.deleteEdgeTombstone(v, 9L, 12L)
    v = st.deleteVertexTombstone(v, 5L)
    val st0 = TestSpark.budgeted(st, tombRows = 0)
    val e = intercept[IllegalArgumentException](st0.pointReadLocal(v, 1L))
    assert(e.getMessage.contains("tombstone rows exceed the driver serving budget (0)"),
      e.getMessage)
    assert(st0.servedFofRows(v, 1L).isEmpty)
    assert(st0.servedVertexRow(v, 1L).isEmpty)
    // refused, not "vertex absent": no first-touch overwrite, no commit
    val before = st.currentVersion
    val ev = intercept[IllegalArgumentException](
      st0.setVertexProp(v, 1L, "score", lit(11L)))
    assert(ev.getMessage.contains("vertex-row tombstone rows exceed"), ev.getMessage)
    assert(st.currentVersion == before)
    // the default handle on the same root answers all four
    assert(st.pointReadLocal(v, 1L).map(_(1)).toSet == Set(10L, 11L))
    assert(st.servedFofRows(v, 1L).contains(Seq((13L, 1L), (17L, 1L))))
    assert(st.servedVertexRow(v, 1L).contains(Seq(1L, "a", 10L)))
    val v2 = st.setVertexProp(v, 1L, "score", lit(11L))
    assert(v2 > before && st.servedVertexRow(v2, 1L).contains(Seq(1L, "a", 11L)))
  }

  test("LruCache: an insert past a stripe's cap evicts that stripe's " +
       "least-recently-used key, a get refreshes recency, other stripes untouched") {
    // 16 stripes, each capped at cap / 16 = 2; a key's stripe is its
    // non-negative hashCode mod 16
    val cache = new DurableStore.LruCache[String](32)
    def stripe(k: String) = (k.hashCode & Int.MaxValue) % 16
    val all = (0 until 1000).map(i => s"k$i")
    val same = all.filter(stripe(_) == 0).take(4)
    val (a, b, c, d) = (same(0), same(1), same(2), same(3))
    val others = all.filter(stripe(_) != 0).groupBy(stripe).values.flatMap(_.take(2)).toSeq
    assert(others.size == 30)
    others.foreach(k => cache.put(k, k))
    cache.put(a, a); cache.put(b, b)
    assert(cache.get(a) == a) // a is now the more recent of the two
    cache.put(c, c)
    assert(cache.get(b) == null && cache.get(a) == a && cache.get(c) == c)
    // a was touched before c, so a is the stripe's LRU key now
    cache.put(d, d)
    assert(cache.get(a) == null && cache.get(c) == c && cache.get(d) == d)
    assert(others.forall(k => cache.get(k) == k))
  }
}
