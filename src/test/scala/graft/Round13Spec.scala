package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Round-13 serving-tier additions: the vertex property side-table and
  * footer prefetch. The auto-compaction soak, compact-vs-CDC commit
  * interleaving and the coalesced tombstone anti-join plan shape are in
  * DurableStoreSpec. */
class Round13Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def edges(rows: (Long, Long)*) = {
    val s = spark; import s.implicits._
    rows.toDF("src", "dst").select(col("src"), col("dst"),
      lit(0).as("etype"), (col("src") * 10 + col("dst")).as("w"))
  }

  test("vertex property side-table: set/point-set/first-touch autofill/" +
       "upsert/updateAll/compact, served == distributed, time travel intact") {
    val s = spark; import s.implicits._
    val st = DurableStore.create(spark, edges((1L, 10L), (5L, 10L), (9L, 11L)),
      Files.createTempDirectory("graft-r13-vp").toString, numBuckets = 2)
    val props = Seq((1L, "a", 10L), (5L, "b", 20L)).toDF("id", "label", "score")
    val v1 = st.setVertexTable(1, props,
      defaults = Map("label" -> "'x'", "score" -> "0"))
    // point SET on an existing vertex (append class: no base rewrite)
    val baseFiles = st.manifest(v1).vfiles.toSet
    val v2 = st.setVertexProp(v1, 1L, "score", lit(99L))
    assert(st.manifest(v2).vfiles.filter(_.sorted).toSet == baseFiles,
      "point set rewrote base vertex files")
    // FIRST TOUCH on an absent vertex: defaults materialize, then the set
    val v3 = st.setVertexProp(v2, 7L, "score", lit(7L))
    // served point reads (zero-job) == the distributed resolved view
    assert(st.servedVertexRow(v3, 1L).get == Seq(1L, "a", 99L))
    assert(st.servedVertexRow(v3, 7L).get == Seq(7L, "x", 7L))
    assert(st.servedVertexRow(v3, 42L).isEmpty)
    val distRows = st.readVertices(v3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(distRows == Set((1L, "a", 99L), (5L, "b", 20L), (7L, "x", 7L)))
    // getMany: ascending-id order, absent ids omitted
    assert(st.servedVertexRows(v3, Array(7L, 1L, 42L)).get ==
      Seq(Seq(1L, "a", 99L), Seq(7L, "x", 7L)))
    // bulk upsert rides a delta; compact folds every vertex delta into
    // fresh sorted files with values preserved
    val v4 = st.upsertVertices(v3, Seq((5L, "b2", 21L)).toDF("id", "label", "score"))
    val v5 = st.compact(v4)
    assert(st.manifest(v5).vfiles.nonEmpty &&
      st.manifest(v5).vfiles.forall(_.sorted), "compact left vertex deltas")
    assert(st.servedVertexRow(v5, 5L).get == Seq(5L, "b2", 21L))
    assert(st.servedVertexRow(v5, 1L).get == Seq(1L, "a", 99L))
    // updateAll (P9): f(id, old) over every vertex, copy-on-write
    val v6 = st.updateAllVertices(v5, "score", col("score") + col("id"))
    assert(st.readVertices(v6).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap ==
      Map(1L -> 100L, 5L -> 26L, 7L -> 14L))
    // time travel: the pre-update version still serves old values
    assert(st.servedVertexRow(v5, 1L).get == Seq(1L, "a", 99L))
    // reopen from disk: the manifest round-trips the vertex side-table
    val re = new DurableStore(spark, st.root)
    assert(re.servedVertexRow(v6, 5L).get == Seq(5L, "b2", 26L))
    assert(re.manifest(v6).vdefaults == Seq("label" -> "'x'", "score" -> "0"))
  }

  test("warmServing prefetches one footer per part file (files + mirror + " +
       "vertex side + deltas + tombstones) and serving still answers") {
    val s = spark; import s.implicits._
    val st = DurableStore.create(spark, edges((1L to 10L).map(i => (i, 100L + i)): _*),
      Files.createTempDirectory("graft-r13-warm").toString, numBuckets = 2,
      withInEdgeIndex = true)
    var v = st.append(1, edges((11L, 100L)))
    v = st.deleteEdgeTombstone(v, 2L, 102L)
    v = st.setVertexTable(v, Seq((1L, 5L)).toDF("id", "score"))
    val m = st.manifest(v)
    val expected = (m.files.size - m.files.count(!_.sorted)) // sorted primaries: 1 file each
    val warmed = st.warmServing(v)
    // every manifest-listed part file warmed exactly once: sorted files
    // are single parquet files; the delta dir expands to its part files
    assert(warmed >= m.files.size + m.mirror.size + m.vfiles.size + m.tombs.size - 1,
      s"warmed $warmed of ${m.files.size}+${m.mirror.size}+${m.vfiles.size}+${m.tombs.size} entries (expected $expected+)")
    // serving answers normally off the warmed cache
    assert(st.pointReadLocal(v, 11L).nonEmpty)
    assert(st.servedVertexRow(v, 1L).get == Seq(1L, 5L))
  }
}
