package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** [[DurableStore]]: versioned copy-on-write mutations, manifest-routed
  * pruning, LSM-style append + compaction — the durable substrate behind
  * the p3/p4/p5_store and s5 registry entries. */
class DurableStoreSpec extends AnyFunSuite {
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

  test("a crash-orphan manifest above the pointer is superseded, not wedging") {
    val st = fresh(base: _*)
    val v2 = st.updateEdges(1, col("src") === 1L, "w", lit(99L), srcKey = Some(1L))
    // simulate a crash BETWEEN manifest-write and pointer-flip: a manifest
    // file exists at v3 but VERSION still points at v2 (ADVICE r3 — the
    // next version must derive from the max manifest FILE, not pointer+1,
    // or every later commit dies on the existing path)
    val mdir = java.nio.file.Paths.get(st.root, "manifest")
    java.nio.file.Files.copy(mdir.resolve(s"v$v2.tsv"), mdir.resolve(s"v${v2 + 1}.tsv"))
    assert(st.currentVersion == v2)
    val v4 = st.append(v2, edges((21L, 10L)))
    assert(v4 == v2 + 2, "commit must skip past the orphan version")
    assert(rowSet(st.read(v4)) ==
      rowSet(edges(base: _*)).map { case (s, d, w) => (s, d, if (s == 1L) 99L else w) } +
        ((21L, 10L, 220L)))
    // reopen from disk: pointer and manifest chain are consistent
    assert(new DurableStore(spark, st.root).currentVersion == v4)
  }

  test("linearHistory store rejects commits built on a stale base; default branches") {
    // ADVICE r5: in the multi-driver scenario the CommitProtocol seam
    // exists for, a commit built from a superseded snapshot must surface
    // as a conflict, not silently drop the concurrent writer's rows from
    // the live view. Branch-from-old stays the DEFAULT (the tests below
    // pin it); linearHistory is the opt-in strict mode.
    val st = fresh(base: _*)
    val v2 = st.append(1, edges((21L, 10L)))
    val strict = new DurableStore(spark, st.root, linearHistory = true)
    intercept[DurableStore.CommitConflictException] {
      strict.append(1, edges((25L, 10L))) // built from v1, live is v2
    }
    val v3 = strict.append(v2, edges((25L, 10L))) // built from live: fine
    assert(rowSet(st.read(v3)) ==
      rowSet(edges(base: _*)) + ((21L, 10L, 220L)) + ((25L, 10L, 260L)))
  }

  test("create + read round-trips the edge multiset; reopen sees the same") {
    val st = fresh(base: _*)
    assert(rowSet(st.read(1)) == rowSet(edges(base: _*)))
    assert(rowSet(new DurableStore(spark, st.root).readLatest()) == rowSet(edges(base: _*)))
  }

  test("readForSrc prunes to the files whose range covers the key") {
    val st = fresh(base: _*)
    val m = st.manifest(1)
    assert(m.files.size > 1, "fixture should span multiple buckets")
    val hit = m.files.filter(f => 1L >= f.srcMin && 1L <= f.srcMax)
    assert(hit.size < m.files.size, "point read must not touch every file")
    assert(rowSet(st.readForSrc(1, 1L).filter(col("src") === 1L)) ==
      rowSet(edges(base: _*)).filter(_._1 == 1L).map(identity))
  }

  test("servedFof driver-local hop 2 serves appended DELTAS in both hops, row-equal to the scan form") {
    // the zero-job serving path must see unsorted delta files on BOTH
    // directions (they can't page-prune, so they ride the delta-row
    // budget): (1,20) adds an out-neighbor via delta, (21,1) adds an
    // IN-neighbor via delta, (20,22) adds a hop-2 edge via delta
    val st = freshMirrored(base: _*)
    val v2 = st.append(1, edges((1L, 20L), (21L, 1L), (20L, 22L)))
    val e = st.read(v2).select("src", "dst")
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val scan = Queries.friendsOfFriendsExclTop20(sym)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val served = st.servedFof(v2, st.minEndpoint(v2).get)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == scan)
    // the rows-only online-client entry answers on an indexed store and
    // is the SAME result bare (no DataFrame) — and a second call (now
    // footer-cache warm) returns it again
    val rows = st.servedFofRows(v2, st.minEndpoint(v2).get)
    assert(rows.contains(scan))
    assert(st.servedFofRows(v2, st.minEndpoint(v2).get) == rows)
  }

  test("adopt indexes existing sorted parquet in place: metadata-only, full-citizen store") {
    // write the fixture the way any range-partitioned sorted job would —
    // these files are the "data lake" being adopted, never rewritten
    val dir = Files.createTempDirectory("graft-adopt").toString
    val e = edges(base: _*)
    e.repartitionByRange(2, col("src")).sortWithinPartitions("src", "dst")
      .write.parquet(s"$dir/edges")
    e.repartitionByRange(2, col("dst")).sortWithinPartitions("dst", "src")
      .write.parquet(s"$dir/medges")
    val st = DurableStore.adopt(spark, s"$dir/edges",
      Files.createTempDirectory("graft-adopted").toString,
      mirrorDir = Some(s"$dir/medges"), numBuckets = 2)
    // reads equal the source rows; the mirror serves the same multiset
    assert(rowSet(st.read(1)) == rowSet(e))
    assert(rowSet(st.readMirror(1)) == rowSet(e))
    // the adopted files were NOT copied: manifest paths point into dir
    assert(st.manifest(1).files.forall(_.path.startsWith(s"$dir/edges")))
    // zero-job serving works off the adopted footers
    val sym = st.read(1).select("src", "dst")
    val symAll = sym.unionByName(
      sym.select(col("dst").as("src"), col("src").as("dst")))
    val scan = Queries.friendsOfFriendsExclTop20(symAll)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(st.servedFofRows(1, st.minEndpoint(1).get).contains(scan))
    // full citizen: append + compact work; the source files stay intact
    val v2 = st.append(1, edges((21L, 10L)))
    assert(rowSet(st.read(v2)) == rowSet(e) + ((21L, 10L, 220L)))
    val v3 = st.compact(v2)
    assert(rowSet(st.read(v3)) == rowSet(e) + ((21L, 10L, 220L)))
    assert(rowSet(spark.read.parquet(s"$dir/edges")) == rowSet(e))
    // a projection mirror (endpoints only) is rejected loudly
    e.select("src", "dst").repartitionByRange(2, col("dst"))
      .sortWithinPartitions("dst", "src").write.parquet(s"$dir/mproj")
    intercept[IllegalArgumentException](DurableStore.adopt(
      spark, s"$dir/edges",
      Files.createTempDirectory("graft-adopted2").toString,
      mirrorDir = Some(s"$dir/mproj")))
  }

  test("adopt(assumeSorted = false) takes arbitrary parquet as deltas; compact indexes it") {
    // unsorted files — shuffled row order, overlapping ranges
    val dir = Files.createTempDirectory("graft-adopt-u").toString
    val e = edges(base: _*)
    e.orderBy(col("dst")).repartition(3).write.parquet(s"$dir/raw")
    // a mirror over unsorted adoption must be rejected (deltas already
    // serve both directions; a second copy would double the multiset)
    intercept[IllegalArgumentException](DurableStore.adopt(
      spark, s"$dir/raw", Files.createTempDirectory("graft-au0").toString,
      mirrorDir = Some(s"$dir/raw"), assumeSorted = false))
    val st = DurableStore.adopt(spark, s"$dir/raw",
      Files.createTempDirectory("graft-au").toString, assumeSorted = false)
    // reads and point serving are correct immediately (delta-budgeted)
    assert(rowSet(st.read(1)) == rowSet(e))
    assert(st.manifest(1).files.forall(f => !f.sorted && f.bucket == -1))
    assert(st.pointReadLocal(1, 1L).map(_.head.asInstanceOf[Long]).toSet == Set(1L))
    // the first compact IS the index build: everything lands sorted
    val v2 = st.compact(1)
    assert(rowSet(st.read(v2)) == rowSet(e))
    assert(st.manifest(v2).files.forall(_.sorted))
  }

  test("append normalizes batch column order to the manifest schema (driver reads stay positional-safe)") {
    // ADVICE r10: a same-typed batch with (dst, src) swapped in column
    // ORDER must not swap endpoints on any read path. Append a reordered
    // batch, then read it back through BOTH paths.
    val st = freshMirrored(base: _*)
    val reordered = edges((41L, 10L)).select("w", "dst", "etype", "src")
    val v2 = st.append(1, reordered)
    // distributed read: by-name, correct either way
    assert(rowSet(st.read(v2)) == rowSet(edges(base: _*)) + ((41L, 10L, 420L)))
    // driver-local reads — endpoints must NOT be swapped
    val served = st.pointReadLocal(v2, 41L)
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet
    assert(served == Set((41L, 10L)))
    val servedDst = st.pointReadLocalDst(v2, 10L)
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet
    assert(servedDst.contains((41L, 10L)))
    // a batch missing a manifest column fails loudly at append time
    intercept[org.apache.spark.sql.AnalysisException](
      st.append(v2, edges((42L, 10L)).drop("w")))
  }

  test("updateEdges is copy-on-write: only covering files rewritten, old version intact") {
    val st = fresh(base: _*)
    val v2 = st.updateEdges(1, col("src") === 1L, "w", lit(99L), srcKey = Some(1L))
    // durable: reopen from disk, new version reflects the update
    val re = new DurableStore(spark, st.root)
    assert(re.read(v2).filter(col("src") === 1L).select("w")
      .collect().map(_.getLong(0)).toSet == Set(99L))
    // time travel: version 1 is untouched
    assert(rowSet(re.read(1)) == rowSet(edges(base: _*)))
    // copy-on-write: files not covering src=1 are the SAME paths in both manifests
    val before = st.manifest(1).files.filter(f => !(1L >= f.srcMin && 1L <= f.srcMax))
    val after = re.manifest(v2).files
    assert(before.forall(f => after.exists(_.path == f.path)), "untouched files must be reused")
    assert(st.manifest(1).files.size == after.size)
  }

  test("deleteEdges and deleteVertex persist; branches from v1 are independent") {
    val st = fresh(base: _*)
    val vDel = st.deleteEdges(1, col("src") === 1L && col("dst") === 10L,
      srcKey = Some(1L), dstKey = Some(10L))
    val vVtx = st.deleteVertex(1, 10L) // branches from v1, NOT from vDel
    val re = new DurableStore(spark, st.root)
    assert(rowSet(re.read(vDel)) == rowSet(edges(base.filterNot(_ == (1L, 10L)): _*)))
    assert(rowSet(re.read(vVtx)) == rowSet(edges(base.filterNot(_._2 == 10L): _*)))
    assert(rowSet(re.read(1)) == rowSet(edges(base: _*)))
  }

  test("append adds a delta file without touching base; compact bin-packs it away sorted") {
    val st = fresh(base: _*)
    val batch = Seq((2L, 10L), (16L, 12L), (2L, 11L))
    val vApp = st.append(1, edges(batch: _*))
    val mApp = st.manifest(vApp)
    assert(mApp.files.count(!_.sorted) == 1, "append = exactly one new delta file set")
    assert(st.manifest(1).files.forall(f => mApp.files.exists(_.path == f.path)),
      "append must reuse every base file")
    assert(rowSet(st.read(vApp)) == rowSet(edges(base ++ batch: _*)))

    val vC = st.compact(vApp)
    val mC = new DurableStore(spark, st.root).manifest(vC)
    assert(mC.files.forall(_.sorted), "no delta files after compaction")
    assert(mC.files.size <= mApp.files.size - 1, "compaction must shrink the file count")
    assert(rowSet(st.read(vC)) == rowSet(edges(base ++ batch: _*)))
    // each compacted bucket file is (src, dst)-sorted on disk
    mC.files.foreach { f =>
      val rows = spark.read.parquet(f.path).select("src", "dst")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.sameElements(rows.sorted), s"bucket ${f.bucket} not sorted")
    }
    // compacting an already-compacted version is a no-op
    assert(st.compact(vC) == vC)
  }

  test("in-edge index: readForDst prunes via mirror stats; mirror holds the same multiset") {
    val st = freshMirrored(base: _*)
    val m = st.manifest(1)
    assert(m.mbounds.nonEmpty && m.mirror.nonEmpty, "create(withInEdgeIndex) must write the mirror")
    assert(rowSet(st.readMirror(1)) == rowSet(st.read(1)), "mirror != primary multiset")
    // dst=10 must not touch every mirror file
    val hit = m.mirror.filter(f => 10L >= f.dstMin && 10L <= f.dstMax)
    assert(hit.size < m.mirror.size, "in-edge point read must not touch every mirror file")
    assert(rowSet(st.readForDst(1, 10L).filter(col("dst") === 10L)) ==
      rowSet(edges(base: _*)).filter(_._2 == 10L).map(identity))
    // mirror files are (dst, src)-sorted on disk
    m.mirror.foreach { f =>
      val rows = spark.read.parquet(f.path).select("dst", "src")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.sameElements(rows.sorted), s"mirror bucket ${f.bucket} not (dst,src)-sorted")
    }
    // an unindexed store falls back to the full (correct) view
    val plain = fresh(base: _*)
    assert(rowSet(plain.readForDst(1, 10L).filter(col("dst") === 10L)) ==
      rowSet(edges(base: _*)).filter(_._2 == 10L).map(identity))
  }

  test("mutations keep the mirror consistent; deltas serve both sides until compaction") {
    val st = freshMirrored(base: _*)
    // COW mutation rewrites hit files on BOTH sides from one predicate
    val v2 = st.deleteVertex(1, 10L)
    assert(rowSet(st.read(v2)) == rowSet(edges(base.filterNot(_._2 == 10L): _*)))
    assert(rowSet(st.readMirror(v2)) == rowSet(st.read(v2)), "mirror diverged after deleteVertex")
    // append lands ONE shared delta, visible from both sides pre-compaction
    val batch = Seq((2L, 10L), (16L, 12L))
    val v3 = st.append(1, edges(batch: _*))
    assert(rowSet(st.readForDst(v3, 12L).filter(col("dst") === 12L)) ==
      rowSet(edges(base ++ batch: _*)).filter(_._2 == 12L).map(identity),
      "delta rows must be visible to the in-edge side before compaction")
    // compaction merges the delta into BOTH orders
    val v4 = st.compact(v3)
    val m4 = st.manifest(v4)
    assert(m4.files.forall(_.sorted))
    assert(rowSet(st.read(v4)) == rowSet(edges(base ++ batch: _*)))
    assert(rowSet(st.readMirror(v4)) == rowSet(st.read(v4)), "mirror diverged after compaction")
    assert(rowSet(st.readForDstRange(v4, 11L, 12L).filter(col("dst").between(11L, 12L))) ==
      rowSet(edges(base ++ batch: _*)).filter(t => t._2 >= 11L && t._2 <= 12L).map(identity))
  }

  test("buildInEdgeIndex retrofits a mirror onto an existing store as a new version") {
    val st = fresh(base: _*)
    assert(st.manifest(1).mbounds.isEmpty)
    val v2 = st.buildInEdgeIndex(1)
    assert(v2 != 1)
    val re = new DurableStore(spark, st.root)
    assert(re.manifest(v2).mbounds.nonEmpty)
    assert(rowSet(re.readMirror(v2)) == rowSet(edges(base: _*)))
    assert(rowSet(re.readForDst(v2, 11L).filter(col("dst") === 11L)) ==
      rowSet(edges(base: _*)).filter(_._2 == 11L).map(identity))
    // indexing an already-indexed version is a no-op
    assert(re.buildInEdgeIndex(v2) == v2)
  }

  test("vacuum drops old versions' exclusive files, keeps shared ones, preserves kept reads") {
    val st = freshMirrored(base: _*)
    val v2 = st.updateEdges(1, col("src") === 1L, "w", lit(99L), srcKey = Some(1L))
    val v3 = st.deleteVertex(v2, 12L)
    val exclusiveV1 = (st.manifest(1).files ++ st.manifest(1).mirror).map(_.path).toSet --
      (st.manifest(v2).files ++ st.manifest(v2).mirror).map(_.path) --
      (st.manifest(v3).files ++ st.manifest(v3).mirror).map(_.path)
    val sharedV1 = (st.manifest(1).files ++ st.manifest(1).mirror).map(_.path).toSet
      .intersect((st.manifest(v3).files ++ st.manifest(v3).mirror).map(_.path).toSet)
    assert(exclusiveV1.nonEmpty && sharedV1.nonEmpty, "fixture must have both shared and exclusive files")
    val expected = rowSet(st.read(v3))
    val removed = st.vacuum(keepFrom = v3)
    assert(removed > 0)
    def local(p: String) = java.nio.file.Paths.get(java.net.URI.create(p))
    exclusiveV1.foreach(p => assert(!Files.exists(local(p)), s"exclusive v1 file survived vacuum: $p"))
    sharedV1.foreach(p => assert(Files.exists(local(p)), s"shared file deleted by vacuum: $p"))
    // kept version reads exactly as before, including through the mirror
    val re = new DurableStore(spark, st.root)
    assert(rowSet(re.read(v3)) == expected)
    assert(rowSet(re.readMirror(v3)) == expected)
    // vacuumed versions are gone
    intercept[java.nio.file.NoSuchFileException] { re.read(1).count() }
    // vacuum cannot drop the current version
    intercept[IllegalArgumentException] { re.vacuum(keepFrom = v3 + 1) }
  }

  test("random op sequences: store state always equals an in-memory model") {
    // model-based check: apply the same mutation sequence to the store
    // (chained versions) and to a plain multiset; every intermediate
    // version must match the model at that point, including after reopen
    type Row = (Long, Long, Long) // (src, dst, w)
    val r = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      var model: Vector[Row] =
        Vector.tabulate(12)(i => (r.nextInt(20).toLong, 10L + r.nextInt(5), 0L))
          .map { case (s, d, _) => (s, d, s * 10 + d) }
      // odd trials run with the in-edge mirror so the random sequence also
      // exercises dual-order COW + compaction consistency
      val st = if (trial % 2 == 0) fresh(model.map(t => (t._1, t._2)): _*)
               else freshMirrored(model.map(t => (t._1, t._2)): _*)
      var v = 1
      val history = scala.collection.mutable.ArrayBuffer((v, model))
      for (step <- 0 until 8) {
        r.nextInt(6) match {
          case 0 if model.nonEmpty => // point update of one existing src
            val k = model(r.nextInt(model.size))._1
            v = st.updateEdges(v, col("src") === k, "w", lit(-1L), srcKey = Some(k))
            model = model.map { case (s, d, w) => (s, d, if (s == k) -1L else w) }
          case 1 if model.nonEmpty => // delete one vertex (COW form)
            val k = model(r.nextInt(model.size))._2
            v = st.deleteVertex(v, k)
            model = model.filterNot(t => t._1 == k || t._2 == k)
          case 2 => // append a batch
            val b = Vector.tabulate(3)(i => {
              val s = 30L + r.nextInt(10); val d = 10L + r.nextInt(5)
              (s, d, s * 10 + d)
            })
            v = st.append(v, edges(b.map(t => (t._1, t._2)): _*))
            model = model ++ b
          case 3 if model.nonEmpty => // TOMBSTONE edge delete of an
            // existing pair — interleaved with appends/compactions, this
            // pins the seq-scoping rule (later re-adds must survive)
            val (a, b, _) = model(r.nextInt(model.size))
            v = st.deleteEdgesTombstone(v, Seq((a, b)))
            model = model.filterNot(t => t._1 == a && t._2 == b)
          case 4 if model.nonEmpty => // TOMBSTONE vertex delete
            val k = model(r.nextInt(model.size))._2
            v = st.deleteVertexTombstone(v, k)
            model = model.filterNot(t => t._1 == k || t._2 == k)
          case _ => // compact (also the empty-model fallback); every other
            // one runs with a tiny split threshold so the random sequence
            // also exercises bucket splits + manifest re-indexing
            v = if (step % 2 == 0) st.compact(v, maxBucketRows = 8) else st.compact(v)
        }
        history += ((v, model))
      }
      // every recorded version still reads back exactly its model state
      val re = new DurableStore(spark, st.root)
      history.foreach { case (ver, m) =>
        assert(rowSet(re.read(ver)) == m.toSet,
          s"trial $trial version $ver diverged from model")
        assert(rowSet(re.readMirror(ver)) == m.toSet,
          s"trial $trial version $ver: in-edge view diverged from model")
      }
    }
  }

  test("compaction splits a bucket over maxBucketRows; reads stay exact across the split") {
    val st = fresh(base: _*)
    val b0 = st.manifest(1).bounds
    // a delta big enough to blow one bucket past the threshold: 200 edges
    // spread across one bucket's src range (distinct srcs — splittable)
    val big = (0 until 200).map(i => (2L + i % 4, 100L + i))
    var v = st.append(1, edges(big: _*))
    v = st.compact(v, maxBucketRows = 50)
    val m = st.manifest(v)
    // the overfull bucket (the one holding srcs 2..5) must have gained a
    // bound strictly inside its old range — asserted directly rather than
    // via bounds.size, because the same compaction may also MERGE away
    // underfull neighbor buckets (the downward re-shard)
    assert(m.bounds.exists(b => !b0.contains(b) && b >= 2L && b < 9L),
      s"no split bound inside the overfull bucket: ${b0} -> ${m.bounds}")
    assert(m.files.forall(_.sorted))
    // every file's rows stay inside its bucket's bound range
    m.files.foreach { f =>
      val lo = if (f.bucket == 0) Long.MinValue else m.bounds(f.bucket - 1)
      assert(f.srcMin > lo && f.srcMax <= m.bounds(f.bucket),
        s"file stats escape bucket ${f.bucket}: [${f.srcMin},${f.srcMax}] vs ($lo,${m.bounds(f.bucket)}]")
    }
    assert(rowSet(st.read(v)) == rowSet(edges(base ++ big: _*)))
    // point reads through the re-indexed manifest still prune and match
    assert(rowSet(st.readForSrc(v, 17L).filter(col("src") === 17L)) ==
      rowSet(edges(base: _*)).filter(_._1 == 17L).map(identity))
  }

  test("compaction MERGES underfull adjacent buckets after heavy deletes (downward re-shard)") {
    // 40 distinct srcs across 4 buckets, then delete all but 4 rows: the
    // survivors are spread thin over every bucket, so compaction must
    // coalesce the underfull run back into fewer buckets and physically
    // consolidate the tiny files — not accumulate them forever
    val many = (1 to 40).map(i => (i.toLong, 100L + i))
    val st = fresh(many: _*)
    val nb0 = st.manifest(1).bounds.size
    assert(nb0 >= 3, s"fixture should span several buckets, got $nb0")
    val v2 = st.deleteEdges(1, col("src") % 10 =!= 0L) // keep srcs 10,20,30,40
    val survivors = many.filter(_._1 % 10 == 0)
    assert(rowSet(st.read(v2)) == rowSet(edges(survivors: _*)))
    // no deltas exist — compact must still fire for the merge alone
    val vC = st.compact(v2, maxBucketRows = 40) // limit = 10 > 4 survivors
    assert(vC != v2, "delete-heavy compaction must commit a merge")
    val mC = st.manifest(vC)
    assert(mC.bounds.size < nb0, s"buckets must merge: $nb0 -> ${mC.bounds.size}")
    assert(mC.files.size < st.manifest(v2).files.size,
      "tiny files must physically consolidate")
    assert(rowSet(st.read(vC)) == rowSet(edges(survivors: _*)))
    // reads through the merged layout stay exact
    assert(rowSet(st.readForSrc(vC, 30L).filter(col("src") === 30L)) ==
      rowSet(edges(survivors: _*)).filter(_._1 == 30L).map(identity))
    // an already-merged store is a no-op again
    assert(st.compact(vC, maxBucketRows = 40) == vC)
  }

  test("merge compaction keeps the in-edge mirror a consistent multiset") {
    // delete-heavy MIRRORED store: both sides must merge their underfull
    // buckets independently and still serve the same multiset
    val many = (1 to 40).map(i => (i.toLong, 100L + (i % 7).toLong))
    val st = freshMirrored(many: _*)
    val v2 = st.deleteEdges(1, col("src") % 10 =!= 0L)
    val vC = st.compact(v2, maxBucketRows = 40)
    assert(vC != v2)
    val mC = st.manifest(vC)
    assert(mC.mbounds.nonEmpty, "mirror must survive the merge")
    assert(rowSet(st.readMirror(vC)) == rowSet(st.read(vC)),
      "mirror != primary after merge compaction")
    val survivors = many.filter(_._1 % 10 == 0)
    assert(rowSet(st.read(vC)) == rowSet(edges(survivors: _*)))
    // dst-side point read through the merged mirror stays exact
    val dst = 100L + (10 % 7)
    assert(rowSet(st.readForDst(vC, dst).filter(col("dst") === dst)) ==
      rowSet(edges(survivors: _*)).filter(_._2 == dst).map(identity))
  }

  test("tombstone delete excludes the edge on scan AND served paths pre-compaction; compact reclaims") {
    // VERDICT r11 next #1: the O(1) tombstone delete must be logically
    // complete the instant it commits — distributed scan, driver point
    // reads (both directions), and the zero-job FoF all exclude the
    // edge — and the first compaction must physically drop the rows AND
    // the tombstone itself
    val st = freshMirrored(base: _*)
    val v2 = st.deleteEdgeTombstone(1, 1L, 10L)
    val m2 = st.manifest(v2)
    assert(m2.tombs.size == 1 && !m2.tombs.head.vertex)
    // O(1): every DATA file of v1 is reused by reference — no rewrite
    assert(st.manifest(1).files.forall(f => m2.files.exists(_.path == f.path)))
    assert(st.manifest(1).mirror.forall(f => m2.mirror.exists(_.path == f.path)))
    val expect = rowSet(edges(base.filterNot(_ == (1L, 10L)): _*))
    // distributed scan + mirror view
    assert(rowSet(st.read(v2)) == expect)
    assert(rowSet(st.readMirror(v2)) == expect)
    // driver serving paths, both directions
    assert(st.pointReadLocal(v2, 1L)
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet ==
      Set((1L, 11L)))
    assert(st.pointReadLocalDst(v2, 10L)
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet ==
      Set((5L, 10L), (13L, 10L)))
    // zero-job FoF row-equal to the scan form at v2
    val e = st.read(v2).select("src", "dst")
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val scan = Queries.friendsOfFriendsExclTop20(sym)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(st.servedFofRows(v2, 1L).contains(scan))
    // time travel: v1 still holds the edge
    assert(rowSet(st.read(1)) == rowSet(edges(base: _*)))
    // compaction physically reclaims: rows dropped from the files, the
    // tombstone removed, reads unchanged
    val v3 = st.compact(v2)
    assert(v3 != v2, "a store holding live tombstones must compact")
    val m3 = new DurableStore(spark, st.root).manifest(v3)
    assert(m3.tombs.isEmpty, "compaction must drop applied tombstones")
    assert(rowSet(st.read(v3)) == expect)
    assert(rowSet(st.readMirror(v3)) == expect)
    // physically gone: the raw union of v3 data files holds no (1, 10)
    assert(spark.read.parquet(m3.files.map(_.path): _*)
      .filter(col("src") === 1L && col("dst") === 10L).count() == 0)
    // nothing left to reclaim
    assert(st.compact(v3) == v3)
  }

  test("tombstone seq scoping: an edge re-added AFTER its delete survives reads and compaction") {
    val st = freshMirrored(base: _*)
    val v2 = st.deleteEdgeTombstone(1, 1L, 10L)
    val v3 = st.append(v2, edges((1L, 10L)))
    val expect = rowSet(edges(base: _*)) // deleted once, re-added once
    assert(rowSet(st.read(v3)) == expect)
    // driver point read sees the re-added copy (delta seq > tomb seq)
    assert(st.pointReadLocal(v3, 1L)
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet ==
      Set((1L, 10L), (1L, 11L)))
    // compaction keeps exactly the re-added copy and drops the tombstone
    val v4 = st.compact(v3)
    val m4 = st.manifest(v4)
    assert(m4.tombs.isEmpty && m4.files.forall(_.sorted))
    assert(rowSet(st.read(v4)) == expect)
    assert(rowSet(st.readMirror(v4)) == expect)
  }

  test("vertex tombstone deletes both endpoint sides O(1); compact reclaims across primary and mirror") {
    val st = freshMirrored(base: _*)
    val v2 = st.deleteVertexTombstone(1, 10L)
    assert(st.manifest(1).files.forall(f =>
      st.manifest(v2).files.exists(_.path == f.path)), "vertex tombstone must not rewrite")
    val expect = rowSet(edges(base.filterNot(_._2 == 10L): _*))
    assert(rowSet(st.read(v2)) == expect)
    assert(rowSet(st.readMirror(v2)) == expect)
    assert(st.pointReadLocalDst(v2, 10L).isEmpty)
    val v3 = st.compact(v2)
    val m3 = st.manifest(v3)
    assert(m3.tombs.isEmpty)
    assert(rowSet(st.read(v3)) == expect)
    assert(rowSet(st.readMirror(v3)) == expect)
    assert(spark.read.parquet(m3.files.map(_.path): _*)
      .filter(col("src") === 10L || col("dst") === 10L).count() == 0)
  }

  test("updateEdgeDelta: tombstone + re-append in one commit, no base rewrite; compact folds") {
    val st = freshMirrored(base: _*)
    val v2 = st.updateEdgeDelta(1, 1L, 10L, "w", lit(77L))
    // O(1): every base data file reused by reference, one tombstone + one delta added
    val m2 = st.manifest(v2)
    assert(st.manifest(1).files.forall(f => m2.files.exists(_.path == f.path)))
    assert(m2.tombs.size == 1 && m2.files.count(!_.sorted) == 1)
    val exp77 = rowSet(edges(base: _*)).map {
      case (1L, 10L, _) => (1L, 10L, 77L); case r => r
    }
    assert(rowSet(st.read(v2)) == exp77)
    assert(rowSet(st.readMirror(v2)) == exp77)
    // driver point read serves the updated value (and only one copy)
    assert(st.pointReadLocal(v2, 1L)
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
        r(3).asInstanceOf[Long])).toSet ==
      Set((1L, 10L, 77L), (1L, 11L, 11L * 1 + 10))) // (1,11) w = 1*10+11 = 21
    // chained update of the same pair supersedes the first
    val v3 = st.updateEdgeDelta(v2, 1L, 10L, "w", lit(88L))
    val exp88 = rowSet(edges(base: _*)).map {
      case (1L, 10L, _) => (1L, 10L, 88L); case r => r
    }
    assert(rowSet(st.read(v3)) == exp88)
    // compact folds everything: tombstones gone, all sorted, value kept
    val v4 = st.compact(v3)
    val m4 = st.manifest(v4)
    assert(m4.tombs.isEmpty && m4.files.forall(_.sorted))
    assert(rowSet(st.read(v4)) == exp88)
    assert(rowSet(st.readMirror(v4)) == exp88)
    // a pair with no rows is a no-op commit
    assert(st.updateEdgeDelta(v4, 999L, 999L, "w", lit(1L)) == v4)
    // time travel: v1 and v2 still read their own values
    assert(rowSet(st.read(1)) == rowSet(edges(base: _*)))
    assert(rowSet(st.read(v2)) == exp77)
  }

  test("applyCdc: delete+insert in one commit; replay is a no-op; cross-batch re-insert survives") {
    val st = freshMirrored(base: _*)
    // batch 0: delete (1,10) and (5,10), insert (21,10) — one commit
    val v2 = st.applyCdc(1, edges((21L, 10L)),
      Seq((1L, 10L), (5L, 10L)), batchId = 0L)
    val exp2 = rowSet(edges(base.filterNot(t => t == (1L, 10L) || t == (5L, 10L))
      :+ (21L, 10L): _*))
    assert(rowSet(st.read(v2)) == exp2)
    assert(rowSet(st.readMirror(v2)) == exp2)
    // REPLAY of batch 0 (streaming restart): whole batch is a no-op —
    // neither a duplicate insert nor a re-fired tombstone
    assert(st.applyCdc(v2, edges((21L, 10L)), Seq((1L, 10L)), batchId = 0L) == v2)
    // batch 1 re-inserts a pair batch 0 deleted: the later sequence
    // number survives batch 0's tombstone
    val v3 = st.applyCdc(v2, edges((1L, 10L)), Nil, batchId = 1L)
    val exp3 = rowSet(edges(base.filterNot(_ == (5L, 10L)) :+ (21L, 10L): _*))
    assert(rowSet(st.read(v3)) == exp3)
    // same-batch delete+re-insert of one pair: deletes apply to
    // PRE-batch state, the batch's own insert lands (change-feed
    // last-state semantics)
    val v4 = st.applyCdc(v3, edges((9L, 12L)), Seq((9L, 12L)), batchId = 2L)
    assert(rowSet(st.read(v4)) == exp3) // same multiset: one (9,12) out, one in
    // compaction folds everything; values unchanged
    val v5 = st.compact(v4)
    assert(st.manifest(v5).tombs.isEmpty)
    assert(rowSet(st.read(v5)) == exp3)
    assert(rowSet(st.readMirror(v5)) == exp3)
  }

  test("served multi-key hops == routed distributed reads (deltas + tombstones crossed)") {
    // VERDICT r11 next #7: the N3-class zero-job frontier hop. The store
    // state crosses every file kind: sorted buckets, an appended delta,
    // and a live tombstone — the served reads must agree with the
    // distributed routed reads as MULTISETS (repeats kept)
    val st = freshMirrored(base: _*)
    val v2 = st.append(1, edges((10L, 17L), (11L, 30L)))
    val v3 = st.deleteEdgeTombstone(v2, 1L, 10L)
    val keys = Array(1L, 10L, 13L)
    def multiset(a: Seq[Long]) = a.groupBy(identity).view.mapValues(_.size).toMap
    val outs = st.servedOutNeighbors(v3, keys).get
    val expOut = st.readForSrcs(v3, keys).filter(col("src").isin(keys.toSeq: _*))
      .select("dst").collect().map(_.getLong(0)).toSeq
    assert(multiset(outs.toSeq) == multiset(expOut))
    val ins = st.servedInNeighbors(v3, keys).get
    val expIn = st.readForDsts(v3, keys).filter(col("dst").isin(keys.toSeq: _*))
      .select("src").collect().map(_.getLong(0)).toSeq
    assert(multiset(ins.toSeq) == multiset(expIn))
    val both = st.servedNeighbors(v3, keys).get
    assert(multiset(both.toSeq) == multiset(outs.toSeq ++ ins.toSeq))
    // unindexed stores refuse the in/symmetric directions (a driver dst
    // read would degenerate to a local full scan); out still serves
    val plain = fresh(base: _*)
    assert(plain.servedInNeighbors(1, keys).isEmpty)
    assert(plain.servedOutNeighbors(1, keys).nonEmpty)
  }

  test("adopt rejects a wrong/stale mirrorDir by metadata alone") {
    // ADVICE r11: a subset/stale mirror silently corrupts every in-edge
    // read — adoption must refuse it from footer stats (rows + envelope)
    val dir = Files.createTempDirectory("graft-adopt-v").toString
    val e = edges(base: _*)
    e.repartitionByRange(2, col("src")).sortWithinPartitions("src", "dst")
      .write.parquet(s"$dir/edges")
    // stale mirror: one row missing (same schema, same sort order)
    e.filter(!(col("src") === 1L && col("dst") === 10L))
      .repartitionByRange(2, col("dst")).sortWithinPartitions("dst", "src")
      .write.parquet(s"$dir/mstale")
    val ex = intercept[IllegalArgumentException](DurableStore.adopt(
      spark, s"$dir/edges",
      Files.createTempDirectory("graft-adopted-v").toString,
      mirrorDir = Some(s"$dir/mstale"), numBuckets = 2))
    assert(ex.getMessage.contains("row count"))
    // different rows, same count: envelope check catches it
    e.withColumn("dst", col("dst") + 1000L)
      .repartitionByRange(2, col("dst")).sortWithinPartitions("dst", "src")
      .write.parquet(s"$dir/mwrong")
    val ex2 = intercept[IllegalArgumentException](DurableStore.adopt(
      spark, s"$dir/edges",
      Files.createTempDirectory("graft-adopted-w").toString,
      mirrorDir = Some(s"$dir/mwrong"), numBuckets = 2))
    assert(ex2.getMessage.contains("envelope"))
  }

  test("commit protocol: a lost pointer CAS raises CommitConflict and commits nothing") {
    // a protocol standing in for a shared object store where ANOTHER
    // driver swings the pointer between our manifest write and our CAS —
    // the exact race conditional-put exists to catch
    class StolenRace extends DurableStore.CommitProtocol {
      var steals = 0
      def casPointer(root: String, expect: Int, v: Int): Unit = {
        if (expect > 0) { // let create() through, fail every later commit
          steals += 1
          throw new DurableStore.CommitConflictException(
            s"simulated concurrent writer won v$v")
        }
        DurableStore.LocalFsCommit.casPointer(root, expect, v)
      }
    }
    val proto = new StolenRace
    val st = DurableStore.create(spark, edges(base: _*),
      Files.createTempDirectory("graft-cas").toString, numBuckets = 4,
      commit = proto)
    intercept[DurableStore.CommitConflictException] {
      st.append(1, edges(Seq((21L, 10L)): _*))
    }
    assert(proto.steals == 1)
    // the failed commit left only a harmless orphan: pointer unmoved,
    // reads unchanged, and a default-protocol handle commits right past it
    assert(st.currentVersion == 1)
    assert(rowSet(st.readLatest()) == rowSet(edges(base: _*)))
    val recovered = new DurableStore(spark, st.root)
    val v = recovered.append(1, edges(Seq((21L, 10L)): _*))
    assert(recovered.currentVersion == v)
    assert(rowSet(recovered.read(v)) == rowSet(edges(base :+ (21L, 10L): _*)))

    // and the local-fs CAS itself enforces the precondition
    intercept[DurableStore.CommitConflictException] {
      DurableStore.LocalFsCommit.casPointer(st.root, expect = 1, v = 99)
    }
  }

  test("statsForDir: a dir java.nio cannot see takes the scan fallback, never an empty file list") {
    // a freshly written bucket dir named by a `file:` URI is not a
    // directory to java.nio. Reporting no files for it would commit a
    // manifest that silently drops every row; the Spark scan must report
    // the same stats as the footer walk does for the plain path.
    val dir = Files.createTempDirectory("graft-stats").toString + "/out"
    edges(base: _*).withColumn("_b", (col("src") % 2).cast("int"))
      .write.partitionBy("_b").parquet(dir)
    def stats(fs: Seq[DurableStore.StoreFile]) = fs.map(f =>
      (f.bucket, new java.net.URI(f.path).getPath, f.srcMin, f.srcMax, f.dstMin,
        f.dstMax, f.rows)).toSet
    val local = DurableStore.statsForDir(spark, dir)
    assert(local.map(_.rows).sum == base.size)
    assert(stats(DurableStore.statsForDir(spark, "file://" + dir)) == stats(local))
  }

  test("degenerate creates: empty table rejected; all-equal srcs collapse to one bucket") {
    intercept[IllegalArgumentException] {
      DurableStore.create(spark, edges(), // zero rows
        Files.createTempDirectory("graft-ds-empty").toString)
    }
    // all srcs equal -> quantiles collapse to a single bound; bucketCol
    // short-circuits to constant 0 and everything lives in one bucket
    val same = Seq((7L, 10L), (7L, 11L), (7L, 12L))
    val st = fresh(same: _*)
    assert(st.manifest(1).bounds == Seq(Long.MaxValue))
    assert(rowSet(st.read(1)) == rowSet(edges(same: _*)))
    val v2 = st.append(1, edges(Seq((7L, 13L)): _*))
    assert(rowSet(st.read(st.compact(v2))) == rowSet(edges(same :+ (7L, 13L): _*)))
  }

  test("append with a batchId at or below the manifest watermark is a no-op (idempotent replay)") {
    val st = fresh(base: _*)
    val v2 = st.append(1, edges(Seq((2L, 10L)): _*), batchId = 0L)
    assert(v2 != 1 && st.manifest(v2).lastBatch == 0L)
    // replay of batch 0 — e.g. a restarted streaming query — must not duplicate
    val v3 = st.append(v2, edges(Seq((2L, 10L)): _*), batchId = 0L)
    assert(v3 == v2, "replayed batch must not commit")
    assert(rowSet(st.read(v2)) == rowSet(edges(base :+ (2L, 10L): _*)))
    // the watermark survives compaction
    val vC = st.compact(v2)
    assert(st.manifest(vC).lastBatch == 0L)
    val v4 = st.append(vC, edges(Seq((3L, 11L)): _*), batchId = 1L)
    assert(st.manifest(v4).lastBatch == 1L)
  }

  test("streaming micro-batches append durably; compaction merges a week of small files") {
    val st = fresh(base: _*)
    // five micro-batches, each one small file — the streaming-ingest shape
    var v = 1
    val batches = (0 until 5).map(i => Seq((20L + i, 10L + i % 3)))
    batches.foreach { b => v = st.append(v, edges(b: _*)) }
    assert(st.manifest(v).files.count(!_.sorted) == 5)
    val all = base ++ batches.flatten
    assert(rowSet(st.read(v)) == rowSet(edges(all: _*)))
    val vC = st.compact(v)
    val mC = st.manifest(vC)
    assert(mC.files.forall(_.sorted) && mC.files.size <= st.manifest(1).files.size + 2)
    assert(rowSet(st.read(vC)) == rowSet(edges(all: _*)))
  }

  test("read-while-write soak: readers during sustained ingest see monotone snapshots") {
    // The reference's core online claim (README.md:226-229): queries keep
    // running DURING sustained ingest. Two reader threads poll the version
    // pointer and read whatever snapshot it names, concurrently with a
    // writer committing micro-batches (and one mid-soak compaction).
    // Ingest here is append-only, so each reader's observed (version,
    // count) sequence must be non-decreasing — a torn manifest, a pointer
    // published before its manifest, or a compaction that drops rows all
    // surface as a violation. The writer additionally asserts
    // read-your-writes through the pruned point path after every commit.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val st = fresh(base: _*)
    val nBatches = 24
    @volatile var done = false
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = (0 until 2).map { rid =>
      Future {
        var lastV = 0
        var lastN = 0L
        var polls = 0
        while (!done) {
          val v = st.currentVersion
          val n = st.read(v).count()
          if (v < lastV) violations.add(s"reader$rid: pointer went back v$lastV -> v$v")
          else if (n < lastN) violations.add(
            s"reader$rid: snapshot shrank at v$v: $lastN -> $n rows")
          else { lastV = v; lastN = n }
          polls += 1
        }
        polls
      }
    }
    var v = 1
    val appended = (0 until nBatches).map(i => (100L + i, 10L + i % 5))
    appended.zipWithIndex.foreach { case ((s0, d0), i) =>
      v = st.append(v, edges(Seq((s0, d0)): _*), batchId = i.toLong)
      // read-your-writes on the committed version, via manifest pruning
      assert(st.readForSrc(v, s0).filter(col("src") === s0).count() == 1L,
        s"batch $i not visible at v$v")
      assert(st.read(v).count() == (base.size + i + 1).toLong)
      // mid-soak compaction must be invisible to concurrent readers
      if (i == nBatches / 2) v = st.compact(v)
    }
    done = true
    val polls = readers.map(Await.result(_, 120.seconds)).sum
    assert(violations.isEmpty, violations.toArray.mkString("; "))
    // each reader polls continuously for the whole soak — require enough
    // samples that the monotonicity assertion actually interleaved commits
    assert(polls >= 10, s"readers only sampled $polls snapshots")
    assert(rowSet(st.readLatest()) == rowSet(edges(base ++ appended: _*)))
  }

  test("serving-while-write soak: zero-job FoF stays version-consistent under ingest") {
    // the SERVING-path analogue of the soak above: concurrent clients on
    // the driver-local servedFofRows path (manifest-pinned reads, no
    // Spark jobs) while a writer appends edges that CHANGE the answer
    // (new out-edges of the query vertex's neighbors) and compacts
    // mid-soak. Each poll pins one version and requires the zero-job
    // answer row-equal to the scan form AT THAT VERSION — a serving read
    // that mixed file sets across versions, missed a fresh delta, or
    // read a half-committed manifest would mismatch.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val st = freshMirrored(base: _*)
    @volatile var done = false
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = (0 until 2).map { rid =>
      Future {
        var polls = 0
        while (!done) {
          val v = st.currentVersion
          val v0 = st.minEndpoint(v).get
          st.servedFofRows(v, v0) match {
            case None => violations.add(s"reader$rid: budget fallback at v$v")
            case Some(local) =>
              val e = st.read(v).select("src", "dst")
              val sym = e.unionByName(
                e.select(col("dst").as("src"), col("src").as("dst")))
              val scan = Queries.friendsOfFriendsExclTop20(sym)
                .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
              if (local != scan)
                violations.add(s"reader$rid: v$v served $local != scan $scan")
          }
          polls += 1
        }
        polls
      }
    }
    var v = 1
    (0 until 12).foreach { i =>
      // (10, 100+i): vertex 10 is a direct neighbor of the query vertex
      // (1), so each append grows the 2-hop answer through a DELTA file
      v = st.append(v, edges(Seq((10L, 100L + i)): _*), batchId = i.toLong)
      if (i == 6) v = st.compact(v)
    }
    done = true
    val polls = readers.map(Await.result(_, 120.seconds)).sum
    assert(violations.isEmpty, violations.toArray.mkString("; "))
    assert(polls >= 4, s"serving readers only sampled $polls snapshots")
  }
}
