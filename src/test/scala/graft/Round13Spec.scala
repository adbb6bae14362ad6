package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Round-13 serving-tier hardening (VERDICT r12 next #1/#4/#7 + ADVICE):
  * pressure-triggered auto-compaction under serving clients, the q5s
  * budget-refusal fallback, compact-vs-CDC commit interleaving, and the
  * coalesced tombstone anti-join plan shape. */
class Round13Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def edges(rows: (Long, Long)*) = {
    val s = spark; import s.implicits._
    rows.toDF("src", "dst").select(col("src"), col("dst"),
      lit(0).as("etype"), (col("src") * 10 + col("dst")).as("w"))
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("auto-compaction soak: CDC + point deletes under serving clients, " +
       "no budget refusal, no manual compact") {
    // The reference's background merger (GraphChiDatabase.scala:852-882
    // trigger, :913-938 daemon) re-expressed as the post-commit pressure
    // hook: a delete-heavy online store with autoCompact = true must keep
    // itself under the serving budgets WITHOUT anyone calling compact().
    // A serving client hammers the zero-job paths the whole time and
    // records every refusal/throw; the writer issues CDC batches, point
    // deletes, and point updates — never compact().
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = (1L to 40L).map(i => (i, 100L + i % 7))
    val root = Files.createTempDirectory("graft-r13-soak").toString
    DurableStore.create(spark, edges(base: _*), root, numBuckets = 4,
      withInEdgeIndex = true)
    // tiny triggers so the pressure hook fires many times at test scale
    val st = new DurableStore(spark, root, autoCompact = true,
      autoTombRowTrigger = 5, autoDeltaRowTrigger = 64, autoLiveFileTrigger = 6)
    // key 1 is never deleted — the serving client's stable probe
    @volatile var done = false
    val refusals = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val client = Future {
      var serves = 0
      while (!done) {
        val v = st.currentVersion
        if (st.servedOutNeighbors(v, Array(1L)).isEmpty)
          refusals.add(s"servedOutNeighbors refused at v$v")
        try { st.pointReadLocal(v, 1L); () }
        catch { case e: IllegalArgumentException =>
          refusals.add(s"pointReadLocal threw at v$v: ${e.getMessage}") }
        serves += 1
      }
      serves
    }
    val model = scala.collection.mutable.Map[(Long, Long), Long]()
    base.foreach { case (s0, d0) => model((s0, d0)) = s0 * 10 + d0 }
    var v = st.currentVersion
    var batchId = 0L
    var nextSrc = 1000L
    val rnd = new scala.util.Random(13)
    (0 until 18).foreach { i =>
      i % 3 match {
        case 0 => // CDC batch: 2 inserts + 2 deletes of existing pairs
          val ins = Seq((nextSrc, 100L), (nextSrc + 1, 101L))
          nextSrc += 2
          val dels = model.keys.toSeq.sortBy(identity)
            .filter(_._1 != 1L).take(2)
          v = st.applyCdc(v, edges(ins: _*), dels, batchId)
          batchId += 1
          dels.foreach(model.remove)
          ins.foreach { case (s0, d0) => model((s0, d0)) = s0 * 10 + d0 }
        case 1 => // point tombstone delete
          val candidates = model.keys.toSeq.sortBy(identity).filter(_._1 != 1L)
          val victim = candidates(rnd.nextInt(candidates.size))
          v = st.deleteEdgeTombstone(v, victim._1, victim._2)
          model.remove(victim)
        case 2 => // point update in the append class
          val tgt = model.keys.toSeq.sortBy(identity).head
          v = st.updateEdgeDelta(v, tgt._1, tgt._2, "w", lit(7777L))
          model(tgt) = 7777L
      }
      // the pressure hook must keep live tombstones under the SERVING
      // budget at every committed version (trigger 5 + one commit's worth
      // of rows stays well inside ServeTombRowBudget)
      val m = st.manifest(st.currentVersion)
      assert(m.tombs.map(_.rows).sum <= DurableStore.ServeTombRowBudget,
        s"live tombstones past the serving budget at v${m.version}")
    }
    done = true
    val serves = Await.result(client, 120.seconds)
    assert(refusals.isEmpty, refusals.toArray.mkString("; "))
    assert(serves >= 10, s"serving client only completed $serves calls")
    // auto-compaction really ran: 6 point deletes + 6 CDC tombstone
    // commits landed, but live tombstone ROWS stay at/under the trigger
    // region instead of accumulating all ~18
    val mf = st.manifest(st.currentVersion)
    assert(mf.tombs.map(_.rows).sum <= 7,
      s"pressure hook never compacted: ${mf.tombs.map(_.rows).sum} live tombstone rows")
    // final state == model (values included — the update must survive
    // every interleaved compaction)
    val got = st.readLatest().select("src", "dst", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == model.toMap)
  }

  test("interleaved compact and CDC commits on a linearHistory store: " +
       "conflicts surface, retries win, zero lost / double-applied batches") {
    // The reference's merger takes the DB lock (GraphChiDatabase.scala:622);
    // here the version pointer is the lock: with linearHistory = true any
    // commit built on a stale snapshot raises CommitConflictException
    // instead of silently dropping the concurrent writer's rows. Both
    // sides retry from the new head; the batchId watermark makes a
    // replayed CDC batch a no-op.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = (1L to 24L).map(i => (i, 200L + i % 5))
    val root = Files.createTempDirectory("graft-r13-cc").toString
    DurableStore.create(spark, edges(base: _*), root, numBuckets = 4)
    val stA = new DurableStore(spark, root, linearHistory = true)
    val stB = new DurableStore(spark, root, linearHistory = true)
    val nBatches = 8
    val batches = (0 until nBatches).map { i =>
      val ins = Seq((500L + i, 200L)) // fresh pair per batch
      val dels = Seq((1L + i, 200L + (1 + i) % 5)) // delete one base pair
      (ins, dels)
    }
    var conflicts = 0
    val writer = Future {
      batches.zipWithIndex.foreach { case ((ins, dels), i) =>
        var committed = false
        while (!committed) {
          val v = stA.currentVersion
          try { stA.applyCdc(v, edges(ins: _*), dels, batchId = i.toLong); committed = true }
          catch { case _: DurableStore.CommitConflictException =>
            conflicts += 1 }
        }
      }
    }
    val compactor = Future {
      var compactions = 0
      (0 until 4).foreach { _ =>
        var done = false
        while (!done) {
          val v = stB.currentVersion
          try { stB.compact(v); compactions += 1; done = true }
          catch { case _: DurableStore.CommitConflictException => }
        }
        Thread.sleep(20)
      }
      compactions
    }
    Await.result(writer, 300.seconds)
    val compactions = Await.result(compactor, 300.seconds)
    assert(compactions == 4)
    // zero lost commits: every batch's insert present, every delete gone
    val expect = (base.toSet
      -- batches.flatMap(_._2)
      ++ batches.flatMap(_._1))
    assert(pairSet(stA.readLatest()) == expect)
    // zero double-applies: replaying every batch at the head is a no-op
    batches.zipWithIndex.foreach { case ((ins, dels), i) =>
      val v0 = stA.currentVersion
      assert(stA.applyCdc(v0, edges(ins: _*), dels, batchId = i.toLong) == v0,
        s"replayed batch $i re-committed")
    }
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

  test("many live tombstone files coalesce into one anti-join per kind " +
       "(plan depth constant in tombstone-file count)") {
    val base = (1L to 30L).map(i => (i, 300L + i % 3))
    val st = DurableStore.create(spark, edges(base: _*),
      Files.createTempDirectory("graft-r13-coal").toString, numBuckets = 2)
    var v = 1
    // four separate edge-tombstone commits + two vertex-tombstone commits
    (2L to 5L).foreach { i => v = st.deleteEdgeTombstone(v, i, 300L + i % 3) }
    Seq(10L, 11L).foreach { w => v = st.deleteVertexTombstone(v, w) }
    val df = st.read(v)
    val plan = df.queryExecution.executedPlan.toString
    // ONE edge anti-join + TWO vertex anti-joins (src side, dst side) —
    // NOT one per live tombstone file (ADVICE r12)
    val antiJoins = "LeftAnti".r.findAllIn(plan).size
    assert(antiJoins == 3, s"expected 3 anti-joins, got $antiJoins:\n$plan")
    val expect = base.toSet --
      (2L to 5L).map(i => (i, 300L + i % 3)) --
      base.filter(p => p._1 == 10L || p._1 == 11L || p._2 == 10L || p._2 == 11L)
    assert(pairSet(df) == expect)
  }

  test("upsertVertices batchId watermark: replay is a no-op, survives " +
       "compaction, independent of the edge watermark") {
    val s = spark; import s.implicits._
    val st = DurableStore.create(spark, edges((1L, 10L)),
      Files.createTempDirectory("graft-r13-vb").toString, numBuckets = 1)
    val v1 = st.setVertexTable(1, Seq((1L, 7L)).toDF("id", "score"))
    val v2 = st.upsertVertices(v1, Seq((1L, 8L)).toDF("id", "score"), batchId = 0L)
    assert(v2 > v1)
    // replay of batch 0: no new version
    assert(st.upsertVertices(v2, Seq((1L, 999L)).toDF("id", "score"),
      batchId = 0L) == v2)
    // EDGE batch watermark is separate: edge append with batchId 0 still
    // lands even though vertex batch 0 was applied (and vice versa)
    val v3 = st.append(v2, edges((2L, 10L)), batchId = 0L)
    assert(v3 > v2)
    assert(st.upsertVertices(v3, Seq((1L, 9L)).toDF("id", "score"),
      batchId = 1L) > v3)
    val v4 = st.currentVersion
    // compaction folds the deltas but PRESERVES the vertex watermark
    val v5 = st.compact(v4)
    assert(st.manifest(v5).vLastBatch == 1L)
    assert(new DurableStore(spark, st.root).upsertVertices(v5,
      Seq((1L, 999L)).toDF("id", "score"), batchId = 1L) == v5,
      "replayed vertex batch re-committed after compaction + reopen")
    assert(st.servedVertexRow(v5, 1L).get == Seq(1L, 9L))
  }

  test("append/applyCdc/upsertVertices normalize batch TYPES to the " +
       "manifest schema — no parquet type fork on the served path") {
    val s = spark; import s.implicits._
    val st = DurableStore.create(spark, edges((1L, 10L)),
      Files.createTempDirectory("graft-r13-cast").toString, numBuckets = 1)
    // an INT-typed weight batch (narrower than the store's LONG w)
    val intBatch = Seq((2, 10, 0, 77)).toDF("src", "dst", "etype", "w")
    var v = st.append(1, intBatch)
    v = st.applyCdc(v, Seq((3, 11, 0, 88)).toDF("src", "dst", "etype", "w"),
      Nil, batchId = 5L)
    // the served (positional, per-file-schema) decode reads both deltas
    // as INT64 — a type fork would crash or misread here
    assert(st.pointReadLocal(v, 2L).map(_.last) == Seq(77L))
    assert(st.pointReadLocal(v, 3L).map(_.last) == Seq(88L))
    assert(st.read(v).filter(col("src") >= 2L).select("w").collect()
      .map(_.getLong(0)).toSet == Set(77L, 88L))
    // vertex side: int ids/scores cast up to the LONG vertex schema
    val v1 = st.setVertexTable(v, Seq((1L, 5L)).toDF("id", "score"))
    val v2 = st.upsertVertices(v1, Seq((2, 6)).toDF("id", "score"))
    assert(st.servedVertexRow(v2, 2L).get == Seq(2L, 6L))
    // only LOSSLESS casts: a string-typed column where the store says
    // long must fail loudly, not commit silently nulled values
    val bad = Seq(("7", 10L, 0L, 1L)).toDF("src", "dst", "etype", "w")
    assertThrows[IllegalArgumentException] { st.append(v2, bad) }
    // downcast (long batch into an int store column) refused too
    val intStore = DurableStore.create(spark,
      Seq((1L, 2L, 0, 5)).toDF("src", "dst", "etype", "w"),
      Files.createTempDirectory("graft-r13-int").toString, numBuckets = 1)
    assertThrows[IllegalArgumentException] {
      intStore.append(1, Seq((3L, 4L, 0, 3L)).toDF("src", "dst", "etype", "w"))
    }
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

  test("setVertexTable resets the vertex batch watermark: a replaced " +
       "side-table accepts a fresh stream's batch 0") {
    val s = spark; import s.implicits._
    val st = DurableStore.create(spark, edges((1L, 10L)),
      Files.createTempDirectory("graft-r13-vreset").toString, numBuckets = 1)
    val v1 = st.setVertexTable(1, Seq((1L, 7L)).toDF("id", "score"))
    val v2 = st.upsertVertices(v1, Seq((1L, 8L)).toDF("id", "score"), batchId = 3L)
    assert(st.manifest(v2).vLastBatch == 3L)
    // REPLACE the side-table: batch history starts over
    val v3 = st.setVertexTable(v2, Seq((1L, 0L)).toDF("id", "score"))
    assert(st.manifest(v3).vLastBatch == -1L)
    val v4 = st.upsertVertices(v3, Seq((1L, 11L)).toDF("id", "score"), batchId = 0L)
    assert(v4 > v3, "fresh stream's batch 0 swallowed as a replay")
    assert(st.servedVertexRow(v4, 1L).get == Seq(1L, 11L))
  }
}
