package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 optimization invariants: bounded lazy-union accumulator
  * plans (VERDICT r14 wrong #2 / next #3) and the size-gated edge
  * residency in the BFS sweeps (VERDICT r14 wrong #3 / next #6). */
class Round15Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.edgesDF

  private def logicalRddLeaves(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collectLeaves().count(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])

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
    val key = "spark.graft.bfs.edgeResidencyMaxBytes"
    // default gate (16 GiB): a KB-scale parquet goes resident
    val (resident, release) = Traversals.residentEdges(proj)
    assert(logicalRddLeaves(resident) == 1, "below the gate: expected a checkpoint")
    release()
    try {
      s.conf.set(key, "0")
      val (streamed, _) = Traversals.residentEdges(proj)
      assert(logicalRddLeaves(streamed) == 0,
        "above the gate: expected the plain projection (per-round re-scan)")
      // a DSv2 parquet scan counts its file bytes as well: streamed too
      val v1Sources = "spark.sql.sources.useV1SourceList"
      s.conf.set(v1Sources, "")
      try {
        val v2proj = s.read.parquet(s"$dir/e").select(col("src"), col("dst"))
        assert(v2proj.queryExecution.optimizedPlan.collectLeaves().exists(_.isInstanceOf[
          org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation]))
        assert(logicalRddLeaves(Traversals.residentEdges(v2proj)._1) == 0,
          "DSv2 scan above the gate: expected the plain projection")
      } finally s.conf.unset(v1Sources)
      // end-to-end: the streamed sweep returns identical rows
      val src = Seq((0L, 0L)).toDF("source", "id")
      val dStreamed = Traversals.bfsDistances(proj, src, maxDepth = 30)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      s.conf.unset(key)
      val dResident = Traversals.bfsDistances(proj, src, maxDepth = 30)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(dStreamed == dResident && dResident.size == 21)
    } finally s.conf.unset(key)
  }

  test("array-intersect Jaccard == exploded-routing Jaccard, row for row") {
    val s = spark; import s.implicits._
    // texts with exact dups, near-dups, disjoint docs, and a <3-token doc
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      3L -> "the quick brown fox jumps over the lazy cat again and again",
      4L -> "a completely different document about spark physical plans",
      5L -> "tiny doc",
      6L -> "the quick brown fox jumps over the lazy dog once more today"
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs).localCheckpoint(true)
    // all ordered pairs as candidates — covers zero-intersection pairs
    val ids = docs.select($"doc_id".as("a"))
    val cand = ids.crossJoin(docs.select($"doc_id".as("b")))
      .filter($"a" < $"b").localCheckpoint(true)
    val legacy = Dedup.jaccardVerifyCandidatesExploded(sh, cand)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaSh = Dedup.jaccardVerifyCandidates(sh, cand)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaSets = Dedup.jaccardVerifyCandidatesArr(Dedup.shingleSets(docs), cand)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaSh == legacy, "sh-derived array form diverged from the exploded reference")
    assert(viaSets == legacy, "shingleSets form diverged from the exploded reference")
    assert(legacy((1L, 2L)) == 100L) // exact dup pair sanity
  }

  test("shingleSets matches the exploded distinct shingle multiset per doc") {
    val s = spark; import s.implicits._
    val docs = Seq(1L -> "a b c a b c a b", 2L -> "xy").toDF("doc_id", "text")
    val exploded = Dedup.shingles(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    val sets = Dedup.shingleSets(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(sets == exploded)
  }

  test("foldAccum is identity off the fold cadence and folds on it") {
    val s = spark; import s.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b").localCheckpoint(true)
    val u = df.union(df)
    assert(Traversals.foldAccum(u, Traversals.AccumFoldEvery - 1) eq u)
    assert(logicalRddLeaves(
      Traversals.foldAccum(u, Traversals.AccumFoldEvery)) == 1)
  }
}
