package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

/** Property tests (FIXTURES.md §2 plan): operator results on random small
  * graphs must equal brute-force Scala reference computations. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** `seed` fixes the generator, so a case runs the same graphs every run. */
  private def check(p: Prop, seed: Option[Long] = None): Unit = {
    val params = SCTest.Parameters.default.withMinSuccessfulTests(5).withMaxSize(30)
    val res = SCTest.check(seed.fold(params)(params.withInitialSeed), p)
    assert(res.passed, res.status.toString)
  }

  val genEdges: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(for {
      s <- Gen.choose(0L, 11L)
      d <- Gen.choose(0L, 11L).suchThat(_ != s)
    } yield (s, d))

  test("FoF path counts equal brute-force 2-hop enumeration") {
    check(Prop.forAll(genEdges) { es =>
      val edges = TestSpark.edgesDF(es.map { case (s, d) => (s, d, 0) })
      val got = Queries.friendsOfFriendsExclTop20(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val v = es.map(_._1).min
      val hop1 = es.filter(_._1 == v).map(_._2).distinct
      val counts = es.filter(e => hop1.contains(e._1) && e._2 != v)
        .groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val top = counts.toSeq.sortBy { case (id, c) => (-c, id) }.take(20).toMap
      got == top
    })
  }

  test("served FoF equals the scan form on random graphs, row for row") {
    // the q1s serving composition (collected hop-1 mids, literal IN
    // pushdown) must be a pure PHYSICAL variant: same rows, same
    // deterministic (paths desc, id) top-20 cut as the broadcast-join
    // scan form, on any graph — including repeated edges (path
    // multiplicity) and 2-cycles through the query vertex
    check(Prop.forAll(genEdges) { es =>
      val edges = TestSpark.edgesDF(es.map { case (s, d) => (s, d, 0) })
      val scan = Queries.friendsOfFriendsExclTop20(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val served = Queries.friendsOfFriendsExclTop20Served(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      served == scan
    })
  }

  test("STORE-served FoF (mirror-routed reverse hop) equals the sym scan form") {
    // DurableStore.servedFof reads the out hop from src-routed primary
    // files and the reverse hop from the dst-bucketed in-edge mirror;
    // on any random graph (repeated edges, 2-cycles, hubs) it must be
    // row-equal to the broadcast-join scan form over the symmetric view,
    // with the query vertex answered from manifest stats alone
    check(Prop.forAll(genEdges) { es =>
      import org.apache.spark.sql.functions.col
      val edges = TestSpark.edgesDF(es.map { case (s, d) => (s, d, 0) })
      val e = edges.select("src", "dst")
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val scan = Queries.friendsOfFriendsExclTop20(sym)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val root = java.nio.file.Files.createTempDirectory("graft-prop-srv").toString
      val st = DurableStore.create(spark, edges, root,
        numBuckets = 2, withInEdgeIndex = true)
      val v0 = st.minEndpoint(1).get
      // indexed store: BOTH hops answered DRIVER-LOCALLY (the zero-job
      // serving path — localReadLongs + fofTopKLocal)
      val served = st.servedFof(1, v0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // budgets forced to zero: the one-job hop-2 FALLBACK must produce
      // the same rows (the local path is a pure physical variant)
      val servedJob = TestSpark.budgeted(st, files = 0, deltaRows = 0).servedFof(1, v0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // unindexed store: the two-job fallback (distributed hop 1, full
      // -view reverse hop) must produce the same rows
      val root2 = java.nio.file.Files.createTempDirectory("graft-prop-srv0").toString
      val st2 = DurableStore.create(spark, edges, root2, numBuckets = 2)
      val served2 = st2.servedFof(1, v0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      v0 == (es.map(_._1) ++ es.map(_._2)).min &&
        served == scan && servedJob == scan && served2 == scan
    })
  }

  test("served rows equal the Spark read whole-row and class-equal over every atomic type") {
    // the driver-served row reads (point reads, served rows, vertex rows,
    // the served vertex join) must return what read(v)/readVertices(v)
    // collect for the same keys — values, classes and column order —
    // for schemas over every atomic Spark type with nulls, in random
    // column order, across appended deltas, edge tombstones, vertex
    // upserts and vertex-row tombstones
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val atomic: List[DataType] = List(ByteType, ShortType, IntegerType, LongType,
      FloatType, DoubleType, DecimalType(10, 2), StringType, BinaryType,
      BooleanType, DateType, TimestampType, TimestampNTZType)
    // 1901..2096: inside the range every date/timestamp encoding stores
    // without calendar rebasing
    val genSec = Gen.choose(-2000000000L, 4000000000L)
    def genCell(dt: DataType): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> (dt match {
      case ByteType => Gen.choose(Byte.MinValue, Byte.MaxValue).map(java.lang.Byte.valueOf)
      case ShortType => Gen.choose(Short.MinValue, Short.MaxValue).map(java.lang.Short.valueOf)
      case IntegerType => Gen.choose(Int.MinValue, Int.MaxValue).map(Int.box)
      case LongType => Gen.choose(Long.MinValue, Long.MaxValue).map(Long.box)
      case FloatType => Gen.choose(-1e6f, 1e6f).map(Float.box)
      case DoubleType => Gen.choose(-1e12, 1e12).map(Double.box)
      case _: DecimalType => Gen.choose(-99999999L, 99999999L).map(java.math.BigDecimal.valueOf(_, 2))
      case StringType => Gen.alphaNumStr.map(_.take(6))
      case BinaryType => Gen.listOfN(3, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
      case BooleanType => Gen.oneOf(true, false).map(Boolean.box)
      case DateType => Gen.choose(-25000L, 46000L)
        .map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)))
      case TimestampType => for (s <- genSec; us <- Gen.choose(0, 999999))
        yield java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s, us * 1000L))
      case TimestampNTZType => for (s <- genSec; us <- Gen.choose(0, 999999))
        yield java.time.LocalDateTime.ofEpochSecond(s, us * 1000, java.time.ZoneOffset.UTC)
      case other => sys.error(s"no generator for $other")
    }))
    def shuffled[A](xs: List[A]): Gen[List[A]] =
      Gen.listOfN(xs.size, Gen.choose(0, 1 << 20)).map(ws => xs.zip(ws).sortBy(_._2).map(_._1))
    // key columns over a small id range, so keys collide across files
    def genRow(schema: StructType): Gen[Row] =
      schema.fields.toList.foldRight(Gen.const(List.empty[Any])) { (f, acc) =>
        for {
          h <- if (Set("src", "dst", "id")(f.name)) Gen.choose(0L, 5L).map(Long.box)
               else genCell(f.dataType)
          t <- acc
        } yield h :: t
      }.map(Row.fromSeq)
    def uniqueIds(rows: List[Row], s: StructType): List[Row] =
      rows.groupBy(_.getLong(s.fieldIndex("id"))).values.map(_.head).toList
    val genCase = for {
      eFields <- shuffled(StructField("src", LongType) :: StructField("dst", LongType) ::
        atomic.zipWithIndex.map { case (t, i) => StructField(s"e$i", t) })
      vn <- Gen.choose(1, atomic.size)
      vFields <- shuffled(atomic.zipWithIndex.map { case (t, i) => StructField(s"p$i", t) })
        .flatMap(fs => shuffled(StructField("id", LongType) :: fs.take(vn)))
      es = StructType(eFields); vs = StructType(vFields)
      base <- Gen.choose(4, 10).flatMap(Gen.listOfN(_, genRow(es)))
      delta1 <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, genRow(es)))
      tombN <- Gen.choose(0, 2)
      delta2 <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, genRow(es)))
      vBase <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, genRow(vs)))
      vDelta <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, genRow(vs)))
      vTomb <- Gen.option(Gen.choose(0L, 5L))
      keys <- Gen.nonEmptyListOf(Gen.choose(0L, 6L))
    } yield (es, vs, base, delta1, tombN, delta2, uniqueIds(vBase, vs),
      uniqueIds(vDelta, vs), vTomb, keys.distinct.toArray)
    val params = SCTest.Parameters.default.withMinSuccessfulTests(3).withMaxSize(10)
      .withInitialSeed(org.scalacheck.rng.Seed(20261017L))
    val res = SCTest.check(params, Prop.forAllNoShrink(genCase) {
      case (es, vs, base, delta1, tombN, delta2, vBase, vDelta, vTomb, keys) =>
        def df(rows: List[Row], s: StructType) = spark.createDataFrame(rows.asJava, s)
        val root = java.nio.file.Files.createTempDirectory("graft-prop-typed").toString
        val st = DurableStore.create(spark, df(base, es), root, numBuckets = 2,
          withInEdgeIndex = true)
        var v = 1
        if (delta1.nonEmpty) v = st.append(v, df(delta1, es))
        val pairs = (base ++ delta1)
          .map(r => (r.getLong(es.fieldIndex("src")), r.getLong(es.fieldIndex("dst"))))
        if (tombN > 0) v = st.deleteEdgesTombstone(v, pairs.take(tombN))
        if (delta2.nonEmpty) v = st.append(v, df(delta2, es))
        v = st.setVertexTable(v, df(vBase, vs))
        if (vDelta.nonEmpty) v = st.upsertVertices(v, df(vDelta, vs))
        vTomb.foreach(x => v = st.deleteVertexTombstone(v, x))
        val edges = st.read(v).collect().map(_.toSeq).toSeq
        val verts = st.readVertices(v).collect().map(_.toSeq).toSeq
        val (si, di) = (es.fieldIndex("src"), es.fieldIndex("dst"))
        val vi = vs.fieldIndex("id")
        def on(i: Int, ks: Seq[Long]) = edges.filter(r => ks.exists(_ == r(i)))
        val ids = 0L to 6L
        val vcols = vs.fieldNames.filterNot(_ == "id")
        val vmap = verts.map(r => r(vi) -> r).toMap
        val joined = on(si, keys.toSeq).map(r => r ++ vmap.get(r(di)).fold(vcols.toSeq.map(_ => null: Any))(
          vr => vcols.toSeq.map(c => vr(vs.fieldIndex(c)))))
        import TestSpark.sameTypedRows
        Prop.all(
          ids.forall(k => sameTypedRows(st.pointReadLocal(v, k), on(si, Seq(k)))) :| "pointReadLocal",
          ids.forall(k => sameTypedRows(st.pointReadLocalDst(v, k), on(di, Seq(k)))) :| "pointReadLocalDst",
          sameTypedRows(st.servedOutRows(v, keys).get, on(si, keys.toSeq)) :| "servedOutRows",
          sameTypedRows(st.servedInRows(v, keys).get, on(di, keys.toSeq)) :| "servedInRows",
          (st.servedVertexRows(v, keys).get.map(TestSpark.typedKey(_)) ==
            verts.filter(r => keys.exists(_ == r(vi))).sortBy(_(vi).asInstanceOf[Long])
              .map(TestSpark.typedKey(_))) :| "servedVertexRows",
          sameTypedRows(st.servedOutRowsWithVertex(v, keys).get, joined) :| "servedOutRowsWithVertex")
    })
    assert(res.passed, res.status.toString)
  }

  test("compaction keeps every read: random histories with splits and merges") {
    // random histories of appends, edge tombstones, point updates and
    // vertex upserts on a mirrored store, each compacted at a small
    // bucket cap: after every compact, the distributed reads equal the
    // same reads before it as row multisets, and the served rows stay
    // class-equal
    import org.apache.spark.sql.functions.lit
    import TestSpark.{sameTypedRows, typedKey}
    trait Op
    case class Append(rows: List[(Long, Long)]) extends Op
    case class Tomb(pick: Int) extends Op
    case class Update(pick: Int, w: Long) extends Op
    case class Upsert(rows: List[(Long, Long)]) extends Op
    case class Compact(maxBucketRows: Int) extends Op
    val genPair = for (s <- Gen.choose(0L, 40L); d <- Gen.choose(0L, 40L)) yield (s, d)
    val genOp: Gen[Op] = Gen.frequency(
      3 -> Gen.choose(1, 8).flatMap(Gen.listOfN(_, genPair)).map(Append(_)),
      5 -> Gen.choose(0, 1 << 20).map(Tomb(_)),
      1 -> (for (i <- Gen.choose(0, 1 << 20); w <- Gen.choose(0L, 99L)) yield Update(i, w)),
      1 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, genPair)).map(Upsert(_)),
      3 -> Gen.choose(4, 16).map(Compact(_)))
    // random appends span every bucket, so merges (decided on manifest
    // row bounds) happen on compactions without deltas: each history
    // ends with a split-prone cap, a tombstone burst, and two wide caps
    val genCase = for {
      base <- Gen.choose(8, 20).flatMap(Gen.listOfN(_, genPair))
      ops <- Gen.listOfN(14, genOp)
      tombs <- Gen.listOfN(6, Gen.choose(0, 1 << 20).map(Tomb(_)))
    } yield (base, ops ++ (Compact(4) :: tombs) ++ List(Compact(16), Compact(16)))
    var (splits, merges) = (0, 0)
    val params = SCTest.Parameters.default.withMinSuccessfulTests(3).withMaxSize(10)
      .withInitialSeed(org.scalacheck.rng.Seed(20261018L))
    val res = SCTest.check(params, Prop.forAllNoShrink(genCase) { case (base, ops) =>
      val s = spark; import s.implicits._
      def edges(ps: Seq[(Long, Long)]) = ps.map { case (a, b) => (a, b, a * 100 + b) }
        .toDF("src", "dst", "w")
      val st = DurableStore.create(spark, edges(base),
        java.nio.file.Files.createTempDirectory("graft-prop-compact").toString,
        numBuckets = 4, withInEdgeIndex = true)
      var v = st.setVertexTable(1, (0L to 40L by 3).map(i => (i, i)).toDF("id", "score"))
      var live = base.toSet
      val ids = (0L to 40L).toArray
      def pick(i: Int) = { val ps = live.toSeq.sorted; ps(i % ps.size) }
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => typedKey(r.toSeq)).toSeq.sorted
      def snapshot(at: Int) = (bag(st.read(at)), bag(st.readMirror(at)),
        bag(st.readVertices(at)), st.servedOutRows(at, ids).get,
        st.servedVertexRows(at, ids).get)
      val checks = ops.map {
        case Append(rows) => v = st.append(v, edges(rows)); live ++= rows; true
        case Tomb(i) if live.nonEmpty =>
          val (a, b) = pick(i); v = st.deleteEdgeTombstone(v, a, b); live -= ((a, b)); true
        case Update(i, w) if live.nonEmpty =>
          val (a, b) = pick(i); v = st.updateEdgeDelta(v, a, b, "w", lit(w)); true
        case Upsert(rows) =>
          v = st.upsertVertices(v, rows.toMap.toSeq.toDF("id", "score")); true
        case Compact(cap) =>
          val (before, m0) = (snapshot(v), st.manifest(v))
          v = st.compact(v, maxBucketRows = cap)
          val (after, m1) = (snapshot(v), st.manifest(v))
          if (m1.bounds.exists(!m0.bounds.contains(_))) splits += 1
          if (m0.bounds.exists(!m1.bounds.contains(_))) merges += 1
          before._1 == after._1 && before._2 == after._2 && before._3 == after._3 &&
            sameTypedRows(after._4, before._4) && sameTypedRows(after._5, before._5)
        case _ => true
      }
      checks.forall(identity) :| s"reads changed across a compact: $ops"
    })
    assert(res.passed, res.status.toString)
    assert(splits > 0 && merges > 0, s"splits $splits, merges $merges")
  }

  test("vertex reads follow a latest-wins model across upserts, row deletes, " +
       "re-upserts and compaction") {
    // random histories of vertex upsert batches (one row per id), vertex-
    // row tombstones, re-upserts of deleted ids and compactions: after
    // every op the distributed and the served vertex reads equal a
    // latest-wins model — a deleted id stays absent until it is upserted
    // again, and then carries its new row
    import TestSpark.sameTypedRows
    trait Op
    case class Upsert(rows: List[(Long, Long)]) extends Op
    case class Delete(pick: Int) extends Op
    case class Reupsert(pick: Int, score: Long) extends Op
    case object Compact extends Op
    val genRow = for (id <- Gen.choose(0L, 15L); sc <- Gen.choose(0L, 99L)) yield (id, sc)
    val genOp: Gen[Op] = Gen.frequency(
      3 -> Gen.choose(1, 5).flatMap(Gen.listOfN(_, genRow)).map(Upsert(_)),
      3 -> Gen.choose(0, 1 << 20).map(Delete(_)),
      2 -> (for (i <- Gen.choose(0, 1 << 20); sc <- Gen.choose(100L, 199L))
        yield Reupsert(i, sc)),
      1 -> Gen.const(Compact))
    // each history ends deleting, re-upserting and compacting, so every
    // case crosses a live row tombstone on files of several seqs and a
    // re-upsert that out-sequences one
    val genCase = Gen.listOfN(12, genOp).map(_ ++
      List(Delete(0), Delete(1), Reupsert(0, 200L), Compact, Delete(2)))
    val params = SCTest.Parameters.default.withMinSuccessfulTests(3).withMaxSize(10)
      .withInitialSeed(org.scalacheck.rng.Seed(20261019L))
    val res = SCTest.check(params, Prop.forAllNoShrink(genCase) { ops =>
      val s = spark; import s.implicits._
      def rows(rs: Seq[(Long, Long)]) =
        rs.map { case (id, sc) => (id, sc, s"n$sc") }.toDF("id", "score", "name")
      val st = DurableStore.create(spark, Seq((0L, 1L)).toDF("src", "dst"),
        java.nio.file.Files.createTempDirectory("graft-prop-vertex").toString,
        numBuckets = 2)
      val base = (0L to 15L by 2).map(i => (i, i))
      var v = st.setVertexTable(1, rows(base), numBuckets = 2)
      val model = scala.collection.mutable.Map[Long, Long](base: _*)
      val deleted = scala.collection.mutable.SortedSet[Long]()
      val ids = (0L to 15L).toArray
      def step(op: Op): Boolean = {
        op match {
          case Upsert(rs) =>
            val one = rs.toMap.toSeq
            v = st.upsertVertices(v, rows(one)); model ++= one; deleted --= one.map(_._1)
          case Delete(i) =>
            val id = ids(i % ids.length)
            v = st.deleteVertexTombstone(v, id); model -= id; deleted += id
          case Reupsert(i, sc) if deleted.nonEmpty =>
            val id = deleted.toSeq(i % deleted.size)
            v = st.upsertVertices(v, rows(Seq(id -> sc))); model(id) = sc; deleted -= id
          case Compact => v = st.compact(v)
          case _ =>
        }
        val want = model.toSeq.map { case (id, sc) => Seq[Any](id, sc, s"n$sc") }
        sameTypedRows(st.readVertices(v).collect().map(_.toSeq).toSeq, want) &&
          sameTypedRows(st.servedVertexRows(v, ids).get, want)
      }
      val bad = ops.indexWhere(op => !step(op))
      (bad < 0) :| s"vertex reads left the model after op $bad of $ops"
    })
    assert(res.passed, res.status.toString)
  }

  test("fofTopKLocal equals a naive count on large random multisets (table-growth path)") {
    // the serving top-k's open-addressed counter starts at 4096 slots
    // and doubles past 50% load — fixture graphs never push it there,
    // so pin the growth path directly: ~19k distinct keys force
    // multiple rehashes; negative keys exercise the hash's sign handling
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 100, 50000)) {
      val v0 = 5L
      val hop2 = Array.fill(n)(rnd.between(-1000L, 19000L))
      val expect = hop2.filter(_ != v0)
        .groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
        .toSeq.sortBy { case (id, c) => (-c, id) }.take(20)
      assert(Queries.fofTopKLocal(hop2, v0, 20) == expect)
    }
  }

  test("out-of-core scan CC equals resident CC on random symmetric graphs") {
    // connectedComponentsScan streams the edge frame per superstep and
    // broadcast-hints the label side under the vertex gate; its fixpoint
    // must be IDENTICAL to connectedComponents' — and with the gate
    // forced to 0 (no broadcast hint, AQE-planned join) identical again
    check(Prop.forAll(genEdges) { es =>
      import org.apache.spark.sql.functions.col
      val edges = TestSpark.edgesDF(es.map { case (s, d) => (s, d, 0) })
      val e = edges.select("src", "dst")
      val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val resident = m(Traversals.connectedComponents(sym))
      m(Traversals.connectedComponentsScan(sym)) == resident &&
        m(Traversals.connectedComponentsScan(sym, broadcastLabelsUpTo = 0)) == resident
    })
  }

  test("BFS distances equal brute-force BFS") {
    check(Prop.forAll(genEdges) { es =>
      val s = spark; import s.implicits._
      val edges = TestSpark.edgesDF(es.map { case (a, b) => (a, b, 0) })
      val src = es.map(_._1).min
      val got = Traversals.bfsDistances(edges, Seq((src, src)).toDF("source", "id"), 15)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      val adj = es.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      var dist = Map(src -> 0L)
      var frontier = List(src)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .distinct.filterNot(dist.contains)
        val d = dist(frontier.head) + 1
        next.foreach(v => dist += v -> d)
        frontier = next
      }
      got == dist
    })
  }

  test("bidirectional distance equals forward BFS distance on random graphs") {
    check(Prop.forAll(genEdges) { es =>
      val s = spark; import s.implicits._
      val edges = TestSpark.edgesDF(es.map { case (a, b) => (a, b, 0) })
      val from = es.map(_._1).min
      val to = es.map(_._2).max
      val fwd = Traversals.shortestPathDist(edges,
        Seq(from).toDF("id"), Seq(to).toDF("tid"), maxDepth = 15).first()
      val (bidiDf, _, _) = Traversals.bidirectionalDist(edges,
        Seq(from).toDF("id"), Seq(to).toDF("id"), maxDepth = 15)
      val bidi = bidiDf.first()
      (fwd.isNullAt(0) && bidi.isNullAt(0)) ||
        (!fwd.isNullAt(0) && !bidi.isNullAt(0) && fwd.getLong(0) == bidi.getLong(0))
    })
  }

  test("salted as-of equals plain as-of on random event/order sets") {
    import org.apache.spark.sql.functions.col
    val genData = for {
      evs <- Gen.nonEmptyListOf(for {
        k <- Gen.choose(0L, 2L); ts <- Gen.choose(0L, 200L)
      } yield (k, ts))
      ords <- Gen.nonEmptyListOf(for {
        k <- Gen.choose(0L, 2L); ts <- Gen.choose(0L, 200L); p <- Gen.choose(0L, 9L)
      } yield (k, ts, p))
      w <- Gen.choose(1L, 60L)
    } yield (evs, ords, w)
    check(Prop.forAll(genData) { case (evs, ords, w) =>
      val s = spark; import s.implicits._
      val left = evs.zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) }
        .toDF("event_id", "k", "ets")
      val right = ords.toDF("k", "ots", "ok")
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      norm(AsOf.join(left, right, "k", col("ets"), col("ots"), col("ok"), Seq("event_id"))) ==
        norm(AsOf.joinSalted(left, right, "k", col("ets"), col("ots"), col("ok"),
          Seq("event_id"), bucketWidth = w))
    })
  }

  test("connected components equal brute-force union-find") {
    check(Prop.forAll(genEdges) { es =>
      val sym = (es ++ es.map(_.swap)).distinct
      val edges = TestSpark.edgesDF(sym.map { case (a, b) => (a, b, 0) })
      val got = TestSpark.toMap2(Traversals.connectedComponents(edges))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      sym.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(v => v -> find(v)).toMap
      got == expected
    })
  }

  // random documents over a small vocabulary so 5-gram collisions occur
  val genDocs: Gen[List[(Long, String)]] =
    Gen.nonEmptyListOf(for {
      id <- Gen.choose(0L, 60L)
      n  <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
    } yield (id, ws.mkString(" "))).map(_.distinctBy(_._1))

  test("contamination equals brute-force n-gram intersection counts") {
    check(Prop.forAll(genDocs) { ds =>
      val s = spark; import s.implicits._
      val k = 5
      val docs = ds.toDF("doc_id", "text")
      val got = Dedup.contamination(docs, k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def grams(t: String): Set[String] = {
        val w = t.split("\\s+").filter(_.nonEmpty)
        if (w.length < k) Set.empty
        else w.sliding(k).map(_.mkString(" ")).toSet
      }
      val bench = ds.filter(_._1 % 20 == 0).flatMap(d => grams(d._2)).toSet
      val expected = ds.filter(_._1 % 20 != 0)
        .map { case (id, t) => id -> grams(t).count(bench).toLong }
        .filter(_._2 > 0).toMap
      got == expected
    })
  }

  test("stratified sample equals per-row JVM md5 membership") {
    check(Prop.forAll(genDocs) { ds =>
      val s = spark; import s.implicits._
      val docs = ds.map { case (id, t) => (id, t, if (id % 3 == 0) "en" else "de") }
      val got = TextOps.stratifiedSample(docs.toDF("doc_id", "text", "lang"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) 0L else r.getLong(3))).toSet
      def sampled(id: Long): Boolean = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"t5|$id".getBytes("UTF-8"))
        "%02x".format(d(0) & 0xff).charAt(0) < '4'
      }
      val expected = docs.groupBy(_._3).map { case (lang, rows) =>
        val in = rows.filter(r => sampled(r._1))
        (lang, rows.size.toLong, in.size.toLong, in.map(_._1).sum)
      }.toSet
      got == expected
    })
  }

  test("winnowing guarantee: docs sharing a substring >= k+w-1 share a fingerprint") {
    val genShared: Gen[(String, String, String)] = for {
      core <- Gen.listOfN(12, Gen.alphaLowerChar).map(_.mkString) // 12 >= k+w-1 = 11
      pre  <- Gen.listOfN(5, Gen.numChar).map(_.mkString)
      suf  <- Gen.listOfN(7, Gen.numChar).map(_.mkString)
    } yield (core, pre, suf)
    check(Prop.forAll(genShared) { case (core, pre, suf) =>
      val s = spark; import s.implicits._
      val d = Seq((1L, pre + core), (2L, core + suf)).toDF("doc_id", "text")
      val prints = TextOps.winnowPrints(d).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
      (prints(1L) & prints(2L)).nonEmpty
    })
  }

  test("batch sessionization equals brute-force session assignment") {
    val genEvents: Gen[List[(Long, Long, Long)]] = // (event_id, user, ts_us)
      Gen.nonEmptyListOf(for {
        u <- Gen.choose(0L, 3L)
        t <- Gen.choose(0L, 10L) // coarse ticks; gap below is 3 ticks
      } yield (u, t)).map(_.zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t) })
    val gapUs = 3L
    check(Prop.forAll(genEvents) { evs =>
      val s = spark; import s.implicits._
      s.createDataFrame(evs.map { case (id, u, t) => (u, id, t, 1.0) })
        .toDF("user_id", "event_id", "ts_us", "value")
        .createOrReplaceTempView("pe")
      // query body mirrors r11; compare per-user session partitions
      val sessions = s.sql(
        s"""WITH s1 AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
           |                        OR ts_us - lag(ts_us) OVER w > $gapUs THEN 1 ELSE 0 END AS ns
           |       FROM pe WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
           |s2 AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
           |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           |       FROM s1)
           |SELECT user_id, sid, count(*) AS n, min(ts_us) AS a, max(ts_us) AS b
           |FROM s2 GROUP BY user_id, sid""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      // brute force: per user, sort by (ts, id), cut where gap exceeds gapUs
      val expected = evs.groupBy(_._2).flatMap { case (u, es) =>
        val sorted = es.sortBy(e => (e._3, e._1))
        val cuts = sorted.zip(Option.empty[Long] +: sorted.map(e => Some(e._3)))
          .map { case (e, prev) => prev.forall(p => e._3 - p > gapUs) }
        val sids = cuts.scanLeft(0L)((acc, c) => if (c) acc + 1 else acc).tail
        sorted.zip(sids).groupBy(_._2).map { case (sid, g) =>
          (u, sid, g.size.toLong, g.map(_._1._3).min, g.map(_._1._3).max)
        }
      }.toSet
      sessions == expected
    })
  }

  test("weighted SSSP equals brute-force Dijkstra") {
    val genWeighted: Gen[List[(Long, Long, Int)]] =
      Gen.nonEmptyListOf(for {
        s <- Gen.choose(0L, 9L)
        d <- Gen.choose(0L, 9L).suchThat(_ != s)
        w <- Gen.choose(1, 5)
      } yield (s, d, w))
    check(Prop.forAll(genWeighted) { es =>
      val sess = spark; import sess.implicits._
      val edges = es.toDF("src", "dst", "rating")
      val got = Traversals.weightedSSSP(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val src = es.map(_._1).min
      // brute-force Dijkstra over the multigraph (min parallel edge wins)
      var dist = Map(src -> 0L)
      var frontier = Set(src)
      while (frontier.nonEmpty) {
        val improved = scala.collection.mutable.Map.empty[Long, Long]
        for ((a, b, w) <- es if dist.contains(a)) {
          val nd = dist(a) + w
          if (nd < dist.getOrElse(b, Long.MaxValue) &&
              nd < improved.getOrElse(b, Long.MaxValue)) improved(b) = nd
        }
        frontier = improved.collect {
          case (v, nd) if nd < dist.getOrElse(v, Long.MaxValue) => v }.toSet
        dist = dist ++ improved.filter { case (v, nd) =>
          nd < dist.getOrElse(v, Long.MaxValue) }
      }
      got == dist
    })
  }

  test("temporal reach (delta frontier) equals the naive full-expansion unroll") {
    val genTemporal: Gen[List[(Long, Long, Long)]] =
      Gen.nonEmptyListOf(for {
        s <- Gen.choose(0L, 9L)
        d <- Gen.choose(0L, 9L).suchThat(_ != s)
        t <- Gen.choose(0L, 6L)
      } yield (s, d, t))
    check(Prop.forAll(genTemporal) { es =>
      val sess = spark; import sess.implicits._
      val hops = 4
      val edges = es.toDF("src", "dst", "ets")
      val src = es.map(_._1).min
      val got = Traversals.temporalReachFrom(edges, Seq(src).toDF("v"), hops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // naive reference: expand the WHOLE arrival map every hop (the
      // pre-delta form the rewrite must stay value-identical to)
      var arr = Map(src -> 0L)
      for (_ <- 1 to hops) {
        val msgs = for ((u, v, t) <- es; a <- arr.get(u) if t >= a) yield v -> t
        arr = (arr.toSeq ++ msgs).groupBy(_._1)
          .map { case (v, xs) => v -> xs.map(_._2).min }
      }
      got == arr
    })
  }

  test("k-core fixpoint equals brute-force iterative peeling") {
    check(Prop.forAll(genEdges) { es =>
      val canonPairs = es.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct
      if (canonPairs.isEmpty) true
      else {
        val canon = TestSpark.edgesDF(canonPairs.map { case (a, b) => (a, b, 0) })
          .select("src", "dst")
        val got = Traversals.kCore(canon, k = 2).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // brute force: peel until stable
        var verts = canonPairs.flatMap(e => Seq(e._1, e._2)).distinct.toSet
        var stable = false
        var deg = Map.empty[Long, Long]
        while (!stable) {
          val ie = canonPairs.filter(e => verts(e._1) && verts(e._2))
          deg = ie.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
            .view.mapValues(_.size.toLong).toMap
          val next = verts.filter(v => deg.getOrElse(v, 0L) >= 2)
          if (next == verts) stable = true else verts = next
        }
        got == verts.map(v => v -> deg(v)).toMap
      }
    })
  }

  test("big-star CC labels equal label-prop CC labels on random graphs") {
    check(Prop.forAll(genEdges) { es =>
      val pairs = es.collect { case (a, b) if a != b => (a, b) }.distinct
      if (pairs.isEmpty) true
      else {
        val sym = TestSpark.edgesDF(pairs.map { case (a, b) => (a, b, 0) } ++
          pairs.map { case (a, b) => (b, a, 0) })
        val star = Traversals.ccBigStar(sym).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val prop = Traversals.connectedComponents(sym).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        star == prop
      }
    })
  }

  test("degree-oriented triangle list equals brute-force triple enumeration") {
    check(Prop.forAll(genEdges) { es =>
      val canonPairs = es.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct
      Prop.classify(canonPairs.nonEmpty, "nonempty") {
        if (canonPairs.isEmpty) true
        else {
          val canon = TestSpark.edgesDF(canonPairs.map { case (a, b) => (a, b, 0) })
            .select("src", "dst")
          val got = Queries.triangleList(canon)
            .collect().map(r => Set(r.getLong(0), r.getLong(1), r.getLong(2))).toSet
          val eset = canonPairs.toSet
          def adj(u: Long, v: Long) = eset.contains((math.min(u, v), math.max(u, v)))
          val verts = canonPairs.flatMap(e => Seq(e._1, e._2)).distinct.sorted
          val expected = (for {
            i <- verts.indices; j <- (i + 1) until verts.size; k <- (j + 1) until verts.size
            if adj(verts(i), verts(j)) && adj(verts(j), verts(k)) && adj(verts(i), verts(k))
          } yield Set(verts(i), verts(j), verts(k))).toSet
          // exactly-once: the row count must equal the distinct-set count
          val n = Queries.triangleList(canon).count()
          got == expected && n == expected.size
        }
      }
    })
  }

  test("neighborhood function equals brute-force BFS ball sizes and is monotone in h") {
    check(Prop.forAll(genEdges) { es =>
      val edges = TestSpark.edgesDF(es.map { case (s, d) => (s, d, 0) })
      val got = Traversals.neighborhoodFunction(edges, maxH = 3)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val verts = (es.map(_._1) ++ es.map(_._2)).distinct
      val adj = es.distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def ball(v: Long, h: Int): Set[Long] = {
        var s = Set(v)
        for (_ <- 1 to h) s = s ++ s.flatMap(x => adj.getOrElse(x, Set.empty))
        s
      }
      val expected = (0 to 3)
        .map(h => h -> verts.map(v => ball(v, h).size.toLong).sum).toMap
      got == expected && (0 until 3).forall(h => got(h) <= got(h + 1))
    })
  }

  test("landmark estimates upper-bound the true distance on symmetric graphs") {
    check(Prop.forAll(genEdges) { es =>
      val sym = (es ++ es.map(_.swap)).distinct
      val edges = TestSpark.edgesDF(sym.map { case (s, d) => (s, d, 0) })
      val got = Traversals.landmarkDistanceEstimates(
          edges, nLandmarks = 3, nProbes = 5, maxDepth = 3)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def dist(u: Long, v: Long): Option[Int] = {
        var frontier = Set(u); var seen = Set(u); var d = 0
        while (frontier.nonEmpty && !seen.contains(v) && d < 20) {
          d += 1
          frontier = frontier.flatMap(x => adj.getOrElse(x, Set.empty)) -- seen
          seen = seen ++ frontier
        }
        if (seen.contains(v) && (v == u || d > 0)) Some(if (v == u) 0 else d) else None
      }
      got.forall { case ((u, v), est) =>
        dist(u, v) match {
          case Some(d) => est >= d // triangle upper bound
          case None    => false   // a common landmark implies a path exists
        }
      }
    })
  }

  test("count-min estimates always >= exact counts, exact side equals brute force") {
    check(Prop.forAll(genDocs) { ds =>
      val s = spark; import s.implicits._
      val got = TextOps.countMinHeavyHitters(ds.toDF("doc_id", "text"), k = 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val counts = ds.flatMap(_._2.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      got.forall { case (t, exact, est) =>
        est >= exact && counts.get(t).contains(exact)
      }
    })
  }

  /** Level-by-level brute-force BFS over the distinct directed edges:
    * (dist, sigma) per reached vertex, sigma the number of shortest paths. */
  private def bruteSigma(es: List[(Long, Long)], src: Long): Map[Long, (Long, Long)] = {
    val adj = es.distinct.groupMap(_._1)(_._2)
    var out = Map(src -> ((0L, 1L)))
    var frontier = Map(src -> 1L)
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      val next = frontier.toSeq
        .flatMap { case (u, g) => adj.getOrElse(u, Nil).map(_ -> g) }
        .filterNot(p => out.contains(p._1))
        .groupMapReduce(_._1)(_._2)(_ + _)
      next.foreach { case (v, g) => out += v -> ((d, g)) }
      frontier = next
    }
    out
  }

  test("bfsSigma path counts equal brute-force shortest-path counts") {
    check(Prop.forAll(genEdges) { es =>
      val s = spark; import s.implicits._
      val edges = TestSpark.edgesDF(es.map { case (a, b) => (a, b, 0) })
      val src = es.map(_._1).min
      val got = Traversals.bfsSigma(edges, Seq((src, src)).toDF("source", "id"), 15)
        .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      got == bruteSigma(es, src)
    }, seed = Some(41L))
  }

  test("maximalIndependentSet is independent and maximal on random graphs") {
    check(Prop.forAll(genEdges) { es =>
      val canonPairs = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val canon = TestSpark.edgesDF(canonPairs.map { case (a, b) => (a, b, 0) })
        .select("src", "dst")
      val mis = Traversals.maximalIndependentSet(canon).collect().map(_.getLong(0)).toSet
      val verts = canonPairs.flatMap(e => Seq(e._1, e._2)).toSet
      val adj = (canonPairs ++ canonPairs.map(_.swap)).groupMap(_._1)(_._2)
      val independent = !canonPairs.exists { case (a, b) => mis(a) && mis(b) }
      val maximal = (verts -- mis).forall(v => adj(v).exists(mis))
      independent && maximal && mis.subsetOf(verts)
    }, seed = Some(42L))
  }

  test("shortestPathNodes and pathTo walk the min-parent edge path of BFS length") {
    check(Prop.forAll(genEdges) { es =>
      val s = spark; import s.implicits._
      val edges = TestSpark.edgesDF(es.map { case (a, b) => (a, b, 0) })
      val from = es.map(_._1).min
      val to = es.map(_._2).max
      val dist = bruteSigma(es, from).view.mapValues(_._1).toMap
      // min parent: the smallest predecessor one level closer to the source
      val minParent = es.distinct.filter { case (u, v) =>
          dist.contains(u) && dist.get(v).contains(dist(u) + 1) }
        .groupMapReduce(_._2)(_._1)(math.min)
      val nodes = Traversals.shortestPathNodes(edges, Seq(from).toDF("id"),
          Seq(to).toDF("tid"), maxDepth = 15)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).map(_._2).toSeq
      val tree = Traversals.ssspTree(edges, Seq(from).toDF("id"), maxDepth = 15)
      val walk = Traversals.pathTo(tree, from, to)
      val edgeSet = es.toSet
      val valid = dist.get(to) match {
        case None => nodes.isEmpty
        case Some(d) =>
          nodes.head == from && nodes.last == to && nodes.length == d + 1 &&
            nodes.sliding(2).forall {
              case Seq(u, v) => edgeSet((u, v)) && minParent(v) == u
              case _ => true
            }
      }
      valid && walk == nodes
    }, seed = Some(43L))
  }

  test("served reads select parquet pages per key: equal to the distributed " +
       "reads on multi-page files across deltas and tombstones") {
    // one store whose sorted primary and mirror file each span seven
    // pages, with live deltas, tombstones and an update; random key sets
    // — one key, keys spread across pages, page-boundary keys, absent
    // keys, keys outside every file — read through the page-selecting
    // served paths must equal the distributed reads
    import org.apache.spark.sql.functions.{col, lit}
    import scala.jdk.CollectionConverters._
    import TestSpark.sameTypedRows
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(20261020L)
    // even ids only: every odd id inside a file's range is an absent key
    val ids = 3000
    def pair() = (2L * rnd.nextInt(ids), 2L * rnd.nextInt(ids))
    def frame(ps: Seq[(Long, Long)]) = ps.toDF("src", "dst").select(col("src"), col("dst"),
      (col("src") % 15).cast("int").as("etype"), (col("src") * 31 + col("dst")).as("ts"),
      (col("dst") / 7.0).cast("float").as("weight"))
    val base = Seq.fill(28000)(pair())
    val st = DurableStore.create(spark, frame(base),
      java.nio.file.Files.createTempDirectory("graft-prop-pages").toString,
      numBuckets = 1, withInEdgeIndex = true)
    var v = st.append(1, frame(Seq.fill(16)(pair())))
    v = st.deleteEdgesTombstone(v, rnd.shuffle(base).take(40))
    v = st.updateEdgeDelta(v, base(7)._1, base(7)._2, "weight", lit(0.5f))
    v = st.append(v, frame(Seq.fill(16)(pair())))
    val m = st.manifest(v)
    assert(m.tombs.nonEmpty && m.files.count(!_.sorted) == 3, m)
    // each sorted file's key-column page bounds, from its column index
    def pageBounds(path: String, c: String): Seq[(Long, Long)] = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf()))
      def long(b: java.nio.ByteBuffer) =
        b.duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong(b.position())
      try r.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
        val ci = r.readColumnIndex(b.getColumns.asScala.find(_.getPath.toDotString == c).get)
        ci.getMinValues.asScala.map(long).zip(ci.getMaxValues.asScala.map(long))
      } finally r.close()
    }
    val pages = m.files.filter(_.sorted).map(f => pageBounds(f.path, "src")) ++
      m.mirror.map(f => pageBounds(f.path, "dst"))
    assert(pages.size == 2 && pages.forall(_.size >= 3), pages.map(_.size))
    val boundary = pages.flatten.flatMap { case (lo, hi) => Seq(lo - 1, lo, hi, hi + 1) }.distinct
    val edges = st.read(v).collect().map(_.toSeq).toSeq
    val (si, di) = (0, 1)
    val genKey: Gen[Long] = Gen.frequency(
      3 -> Gen.choose(0L, 2L * ids),
      3 -> Gen.oneOf(boundary),
      1 -> Gen.oneOf(Gen.choose(-50L, -1L), Gen.choose(2L * ids + 1, 2L * ids + 50)))
    val genKeys = Gen.oneOf(genKey.map(List(_)), Gen.choose(2, 12).flatMap(Gen.listOfN(_, genKey)))
    val params = SCTest.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(org.scalacheck.rng.Seed(20261020L))
    val res = SCTest.check(params, Prop.forAllNoShrink(genKeys) { ks =>
      val keys = ks.toArray
      val set = ks.toSet
      def on(i: Int) = edges.filter(r => set(r(i).asInstanceOf[Long]))
      def count(i: Int, k: Long) = edges.count(_(i) == k).toLong
      val (outs, ins) = (on(si), on(di))
      Prop.all(
        sameTypedRows(st.servedOutRows(v, keys).get, outs) :| "servedOutRows",
        sameTypedRows(st.servedInRows(v, keys).get, ins) :| "servedInRows",
        (st.servedNeighbors(v, keys).get.sorted.toSeq ==
          (outs.map(_(di)) ++ ins.map(_(si))).map(_.asInstanceOf[Long]).sorted) :| "servedNeighbors",
        (st.servedDegrees(v, keys).get ==
          ks.distinct.sorted.map(k => (k, count(si, k), count(di, k)))) :| "servedDegrees")
    })
    assert(res.passed, res.status.toString)
    // FoF against its distributed job form: a hub, page-boundary keys, an
    // absent key and a key outside every file
    val hub = edges.groupBy(_(si)).maxBy(_._2.size)._1.asInstanceOf[Long]
    (Seq(hub, -7L, 2L * ids + 9, 1L) ++ boundary.take(3)).foreach { v0 =>
      val job = Queries.servedFofFrom(
        out = ks => Queries.keyFilter(st.readForSrcs(v, ks), "src", ks).select("src", "dst"),
        in = ks => Queries.keyFilter(st.readForDsts(v, ks), "dst", ks).select("src", "dst"),
        v0 = v0).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(st.servedFofRows(v, v0).get == job, s"servedFofRows($v0)")
    }
  }

  test("the page-selection rule equals a brute-force scan over random page bounds") {
    // page ranges in any order, overlapping, empty (min > max, the
    // encoding of an all-null page) and at the long extremes
    val genBound = Gen.frequency(
      8 -> (for (a <- Gen.choose(-60L, 60L); w <- Gen.choose(-3L, 25L)) yield (a, a + w)),
      1 -> Gen.const((Long.MaxValue, Long.MinValue)),
      1 -> Gen.oneOf((Long.MinValue, -40L), (40L, Long.MaxValue)))
    val genKey = Gen.frequency(9 -> Gen.choose(-70L, 70L),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue))
    val genCase = for {
      bounds <- Gen.choose(0, 40).flatMap(Gen.listOfN(_, genBound))
      keys <- Gen.choose(0, 12).flatMap(Gen.listOfN(_, genKey))
    } yield (bounds, keys.toArray.sorted)
    val params = SCTest.Parameters.default.withMinSuccessfulTests(500)
      .withInitialSeed(org.scalacheck.rng.Seed(20261021L))
    val res = SCTest.check(params, Prop.forAllNoShrink(genCase) { case (bounds, keys) =>
      val got = DurableStore.coveredPages(keys, bounds.map(_._1).toArray,
        bounds.map(_._2).toArray).toSeq
      val want = bounds.indices.filter { j =>
        val (lo, hi) = bounds(j); keys.exists(k => lo <= k && k <= hi)
      }
      (got == want) :| s"got $got, want $want"
    })
    assert(res.passed, res.status.toString)
  }
}
