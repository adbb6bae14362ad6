package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The driver-served point, row and degree reads of [[DurableStore]]
  * (`pointReadLocal`, `pointReadLocalDst`, `servedOutRows`,
  * `servedInRows`, `servedDegrees`): each equals the routed distributed
  * read of the same version, across deltas and tombstones, and refuses —
  * never answers wrong — past its budgets. The whole-row, class-equal
  * property over every atomic type is in PropertySpec. */
class ServedReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def edges(rows: (Long, Long)*) = {
    val s = spark; import s.implicits._
    rows.toDF("src", "dst").select(col("src"), col("dst"),
      lit(0).as("etype"), (col("src") * 10 + col("dst")).as("w"))
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
    assert(st.servedOutRows(v, keys, localFileBudget = 0).isEmpty)
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
    assert(st.servedDegrees(v, keys, localFileBudget = 0).isEmpty)
    // unindexed store (no mirror) refuses rather than undercounting in-degree
    val st2 = DurableStore.create(spark, edges((1L, 2L)),
      Files.createTempDirectory("graft-r13-deg2").toString, numBuckets = 1)
    assert(st2.servedDegrees(1, Array(1L)).isEmpty)
  }
}
