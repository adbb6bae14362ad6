package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** FIXTURES.md §2 hand-built graphs: tiny_chain / tiny_diamond /
  * tiny_typed / tiny_two_comps / tiny_mutation semantics. */
class GraphDBSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.edgesDF

  def db(rows: (Long, Long, Int)*): GraphDB = {
    val e = edgesDF(rows)
    new GraphDB(spark, e, e.select(col("src").as("id")).limit(0))
  }

  val chain = Seq((0L, 1L, 0), (1L, 2L, 0), (2L, 3L, 0), (3L, 4L, 0))

  test("tiny_chain: queryOut / queryIn / degrees / counts") {
    val g = db(chain: _*)
    assert(g.queryOut(lit(1L)).select("dst").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(g.queryIn(lit(1L)).select("src").collect().map(_.getLong(0)).toSeq == Seq(0L))
    val degs = g.degrees.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(degs(0L) == (0L, 1L) && degs(2L) == (1L, 1L) && degs(4L) == (1L, 0L))
    assert(g.numEdges.first().getLong(0) == 4L)
    assert(g.numVertices.first().getLong(0) == 5L)
  }

  test("id-translate shims are the identity and roundtrip (scalar + column)") {
    // API parity with the reference's internal-id bijection
    // (GraphChiDatabase.scala:1402-1403, VertexIdTranslate.java:59-72);
    // Spark's layout owns no vertex intervals, so both maps are identity
    val g = db(chain: _*)
    for (id <- Seq(0L, 1L, Long.MaxValue))
      assert(g.internalToOriginalId(g.originalToInternalId(id)) == id)
    val viaCols = g.queryOut(g.originalToInternalId(lit(1L)))
      .select(g.internalToOriginalId(col("dst")))
      .collect().map(_.getLong(0)).toSeq
    assert(viaCols == Seq(2L))
  }

  test("tiny_diamond: FoF path counts = {3 -> 2} from vertex 0") {
    // 0→{1,2}, {1,2}→3, 3→4 — two 2-hop paths reach 3
    val e = edgesDF(Seq((0L, 1L, 0), (0L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0), (3L, 4L, 0)))
    val fof = Queries.friendsOfFriendsExclTop20(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fof == Map(3L -> 2L))
  }

  test("tiny_typed: etype filter isolates parallel typed edges") {
    val g = db((1L, 2L, 0), (1L, 2L, 1), (1L, 3L, 1))
    assert(g.queryOut(lit(1L), Some(0)).count() == 1)
    assert(g.queryOut(lit(1L), Some(1)).count() == 2)
    assert(g.findEdge(lit(1L), lit(2L), Some(1)).count() == 1)
  }

  test("tiny_mutation: delete edge / delete vertex / update / add") {
    val g = db(chain: _*)
    assert(g.deleteEdges(col("src") === 1L && col("dst") === 2L).numEdges.first().getLong(0) == 3L)
    val afterVertexDelete = g.deleteVertex(2L)
    assert(afterVertexDelete.edges.count() == 2) // 0→1 and 3→4 survive
    val added = g.addEdges(edgesDF(Seq((4L, 5L, 0))))
    assert(added.numEdges.first().getLong(0) == 5L) // read-your-writes
    val upd = g.updateEdge(col("src") === 0L, "etype", lit(7))
    assert(upd.edges.filter(col("etype") === 7).count() == 1)
  }

  test("as-of join picks the latest right row at-or-before, max payload on ties") {
    val s = spark; import s.implicits._
    val left = Seq((100L, 1L, 50L), (101L, 1L, 15L), (102L, 2L, 50L))
      .toDF("event_id", "k", "ets")
    val right = Seq((1L, 10L, 7L), (1L, 10L, 9L), (1L, 40L, 3L), (2L, 60L, 4L))
      .toDF("k", "ots", "ok")
    val got = AsOf.join(left, right, "k", col("ets"), col("ots"), col("ok"),
        Seq("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // event 100: latest order ≤50 is ts 40 (ok 3); event 101: ts 10 tie -> max ok 9
    // event 102: right row at 60 > 50 -> no match, dropped
    assert(got == Set((100L, 40L, 3L), (101L, 10L, 9L)))
  }

  test("salted as-of equals the plain window sweep on a hot key") {
    val s = spark; import s.implicits._
    // one hot key (0) with 500 interleaved events/orders + a normal key,
    // including matches that must cross bucket borders (bucketWidth 50)
    val left = ((0 until 500).map(i => (i.toLong, 0L, (i * 7 % 400).toLong)) :+
      (900L, 1L, 100L)).toDF("event_id", "k", "ets")
    val right = ((0 until 80).map(i => (0L, (i * 5).toLong, i.toLong)) :+
      (1L, 40L, 77L)).toDF("k", "ots", "ok")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = norm(AsOf.join(left, right, "k",
      col("ets"), col("ots"), col("ok"), Seq("event_id")))
    val salted = norm(AsOf.joinSalted(left, right, "k",
      col("ets"), col("ots"), col("ok"), Seq("event_id"), bucketWidth = 50L))
    assert(plain == salted && plain.size == 501)
  }

  test("materialized stores hold exactly the derived edge table") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "etype", "ets", "weight", "rating")
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val derived = rows(Tables.orderEdges(spark, dir))
    assert(rows(Tables.orderEdgesStored(spark, dir)) == derived)
    assert(rows(Tables.orderEdgesStoredByDst(spark, dir)) == derived)
    // openStore serves the same graph through the GraphDB facade
    val db = GraphDB.openStore(spark, Tables.edgeStorePath(spark, dir),
      Tables.vertices(spark, dir))
    assert(db.numEdges.first().getLong(0) == derived.values.map(_.toLong).sum)
  }

  test("frontier algebra: traverse / setops / limit") {
    val g = db(chain: _*)
    val f = g.frontierOf(0L, 1L)
    assert(f.traverseOut().ids.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(f.union(g.frontierOf(1L, 4L)).size == 3)
    assert(f.remove(g.frontierOf(1L)).ids.collect().map(_.getLong(0)).toSet == Set(0L))
    assert(f.intersect(g.frontierOf(1L, 9L)).ids.collect().map(_.getLong(0)).toSet == Set(1L))
    assert(f.hasVertex(0L) && !f.hasVertex(3L))
    assert(f.limit(1).ids.collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("frontier groupByCountOut and hasAnyVertex on tiny_diamond / tiny_typed") {
    // tiny_diamond 0→{1,2}, {1,2}→3, 3→4: the reference's
    // queryVertex(0) → traverseOut(t) → selectOut(t, groupByCount, cond)
    val d = db((0L, 1L, 0), (0L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0), (3L, 4L, 0))
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mids = d.frontierOf(0L).traverseOut(Some(0))
    assert(counts(mids.groupByCountOut(Some(0), col("dst") =!= 4L)) == Map(3L -> 2L))
    assert(counts(mids.groupByCountOut(Some(0), col("dst") =!= 3L)).isEmpty)
    assert(counts(d.frontierOf(0L, 1L).groupByCountOut()) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(mids.hasAnyVertex(d.frontierOf(2L, 7L)))
    assert(!mids.hasAnyVertex(d.frontierOf(3L, 4L)))
    // tiny_typed: parallel typed edges count per etype
    val t = db((1L, 2L, 0), (1L, 2L, 1), (1L, 3L, 1))
    val one = t.frontierOf(1L)
    assert(counts(one.groupByCountOut()) == Map(2L -> 2L, 3L -> 1L))
    assert(counts(one.groupByCountOut(Some(1))) == Map(2L -> 1L, 3L -> 1L))
    assert(counts(one.groupByCountOut(Some(0))) == Map(2L -> 1L))
    assert(counts(one.groupByCountOut(Some(1), col("dst") === 3L)) == Map(3L -> 1L))
    assert(one.traverseOut(Some(1)).hasAnyVertex(t.frontierOf(3L)))
    assert(!one.traverseOut(Some(0)).hasAnyVertex(t.frontierOf(3L)))
  }
}
