package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** [[DurableStore]]: versioned copy-on-write mutations, manifest-routed
  * pruning, LSM-style append + compaction — the durable substrate behind
  * the p3/p4/p5_store and s5 registry entries. */
class DurableStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.{props, vertexStore}

  private def edges(rows: (Long, Long)*) = {
    val s = spark; import s.implicits._
    rows.toDF("src", "dst").select(col("src"), col("dst"),
      lit(0).as("etype"), (col("src") * 10 + col("dst")).as("w"))
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Every row of `df` as a sorted multiset of typed keys. */
  private def rowBag(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(r => TestSpark.typedKey(r.toSeq)).toSeq.sorted

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
    assert(rowSet(st.readForSrcs(1, Seq(1L)).filter(col("src") === 1L)) ==
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
    assert(rowSet(st.readForDsts(1, Seq(10L)).filter(col("dst") === 10L)) ==
      rowSet(edges(base: _*)).filter(_._2 == 10L).map(identity))
    // mirror files are (dst, src)-sorted on disk
    m.mirror.foreach { f =>
      val rows = spark.read.parquet(f.path).select("dst", "src")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.sameElements(rows.sorted), s"mirror bucket ${f.bucket} not (dst,src)-sorted")
    }
    // an unindexed store falls back to the full (correct) view
    val plain = fresh(base: _*)
    assert(rowSet(plain.readForDsts(1, Seq(10L)).filter(col("dst") === 10L)) ==
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
    assert(rowSet(st.readForDsts(v3, Seq(12L)).filter(col("dst") === 12L)) ==
      rowSet(edges(base ++ batch: _*)).filter(_._2 == 12L).map(identity),
      "delta rows must be visible to the in-edge side before compaction")
    // compaction merges the delta into BOTH orders
    val v4 = st.compact(v3)
    val m4 = st.manifest(v4)
    assert(m4.files.forall(_.sorted))
    assert(rowSet(st.read(v4)) == rowSet(edges(base ++ batch: _*)))
    assert(rowSet(st.readMirror(v4)) == rowSet(st.read(v4)), "mirror diverged after compaction")
    assert(rowSet(st.readForDsts(v4, Seq(11L, 12L)).filter(col("dst").between(11L, 12L))) ==
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
    assert(rowSet(re.readForDsts(v2, Seq(11L)).filter(col("dst") === 11L)) ==
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
    assert(rowSet(st.readForSrcs(v, Seq(17L)).filter(col("src") === 17L)) ==
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
    assert(rowSet(st.readForSrcs(vC, Seq(30L)).filter(col("src") === 30L)) ==
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
    assert(rowSet(st.readForDsts(vC, Seq(dst)).filter(col("dst") === dst)) ==
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

  test("point mutations: a local batch writes on the driver (no Spark job), a " +
       "distributed one in one job, a tombstone in none; delta stats equal the " +
       "rows read; empty batches commit nothing") {
    val s = spark; import s.implicits._
    val st = fresh(base: _*)
    var v = st.setVertexTable(1, Seq((1L, 7L), (5L, 8L)).toDF("id", "score"),
      defaults = Map("score" -> "3"))
    // each mutation from the current head: the Spark jobs it launched
    def jobs(mutate: Int => Int): Int = {
      val (nv, n) = TestSpark.jobsDuring(spark)(mutate(v))
      assert(nv > v, "mutation committed nothing")
      v = nv
      n
    }
    // the one delta a commit added, as (srcMin, srcMax, dstMin, dstMax, rows)
    def added(from: Int, vertex: Boolean) = {
      def fs(m: DurableStore.Manifest) = if (vertex) m.vfiles else m.files
      val d = fs(st.manifest(v)).filterNot(f => fs(st.manifest(from)).exists(_.path == f.path))
      assert(d.size == 1 && !d.head.sorted, s"expected one delta, got $d")
      (d.head.srcMin, d.head.srcMax, d.head.dstMin, d.head.dstMax, d.head.rows)
    }
    def agg(df: org.apache.spark.sql.DataFrame, c0: String, c1: String) = {
      val r = df.agg(min(c0), max(c0), min(c1), max(c1), count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }
    val batch = edges((30L, 41L), (31L, 40L), (33L, 42L))
    var from = v
    assert(jobs(st.append(_, batch)) == 0, "append")
    assert(added(from, vertex = false) == agg(st.read(v).filter(col("src") >= 30L), "src", "dst"))
    // the same kind of batch built from an RDD keeps the one-job Spark write
    val local = edges((70L, 80L), (71L, 81L), (72L, 79L))
    val distributed = spark.createDataFrame(
      spark.sparkContext.parallelize(local.collect().toSeq, 2), local.schema)
    from = v
    assert(jobs(st.append(_, distributed)) == 1, "append (distributed)")
    assert(added(from, vertex = false) == agg(st.read(v).filter(col("src") >= 70L), "src", "dst"))
    val inserts = edges((50L, 60L), (51L, 61L))
    from = v
    assert(jobs(st.applyCdc(_, inserts, Seq((1L, 10L)))) == 0, "applyCdc")
    assert(added(from, vertex = false) ==
      agg(st.read(v).filter(col("src") >= 50L && col("src") < 70L), "src", "dst"))
    from = v
    assert(jobs(st.updateEdgeDelta(_, 5L, 10L, "w", lit(77L))) == 0, "updateEdgeDelta")
    assert(added(from, vertex = false) ==
      agg(st.read(v).filter(col("src") === 5L && col("dst") === 10L), "src", "dst"))
    assert(st.read(v).filter(col("src") === 5L && col("dst") === 10L)
      .select("w").collect().map(_.getLong(0)).toSeq == Seq(77L))
    val vrows = Seq((20L, 1L), (22L, 2L)).toDF("id", "score")
    from = v
    assert(jobs(st.upsertVertices(_, vrows)) == 0, "upsertVertices")
    assert(added(from, vertex = true) == agg(st.readVertices(v).filter(col("id") >= 20L), "id", "id"))
    from = v
    assert(jobs(st.setVertexProp(_, 5L, "score", lit(9L))) == 0, "setVertexProp")
    assert(added(from, vertex = true) == agg(st.readVertices(v).filter(col("id") === 5L), "id", "id"))
    // first touch: the row is built from the defaults, still on the driver
    from = v
    assert(jobs(st.setVertexProp(_, 40L, "score", col("score") + 1)) == 0,
      "setVertexProp (first touch)")
    assert(added(from, vertex = true) == (40L, 40L, 40L, 40L, 1L))
    assert(st.readVertices(v).filter(col("id") === 40L).select("score")
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
    assert(jobs(st.deleteEdgeTombstone(_, 9L, 12L)) == 0, "deleteEdgeTombstone")
    assert(jobs(st.deleteVertexTombstone(_, 13L)) == 0, "deleteVertexTombstone")
    // empty batches: no commit, nothing under the next version's dir
    val next = java.nio.file.Paths.get(st.root, s"v${v + 1}")
    assert(st.append(v, edges()) == v)
    assert(st.applyCdc(v, edges(), Nil, batchId = 3L) == v)
    assert(st.upsertVertices(v, vrows.limit(0)) == v)
    assert(!Files.exists(next), s"an empty batch left $next behind")
    assert(st.currentVersion == v && st.manifest(v).lastBatch == -1L)
  }

  test("a refused point mutation hands its version claim back: no claim " +
       "leaks, the next commit lands at the next version") {
    val s = spark; import s.implicits._
    // TINYINT etype: updateEdgeDelta refuses the non-primitive schema
    val st = DurableStore.create(spark,
      Seq((1L, 2L, 3.toByte)).toDF("src", "dst", "etype"),
      Files.createTempDirectory("graft-ds-claim").toString, numBuckets = 1,
      commit = DurableStore.ObjectStoreCommit)
    (1 to 3).foreach { _ =>
      intercept[IllegalArgumentException] {
        st.updateEdgeDelta(1, 1L, 2L, "etype", lit(4))
      }
    }
    def claims() = {
      val ls = Files.list(java.nio.file.Paths.get(st.root, "manifest"))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".claim")).toSeq
      } finally ls.close()
    }
    assert(claims().isEmpty, s"refused mutations leaked claims: ${claims()}")
    assert(st.append(1, Seq((5L, 6L, 7.toByte)).toDF("src", "dst", "etype")) == 2)
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

  test("create rejects a non-BIGINT endpoint by name before writing anything") {
    // the served reads and the footer stats decode INT64 endpoints
    val root = Files.createTempDirectory("graft-ds-int").resolve("store")
    val narrow = edges(base: _*).withColumn("src", col("src").cast("int"))
    val err = intercept[IllegalArgumentException] {
      DurableStore.create(spark, narrow, root.toString, numBuckets = 4)
    }
    assert(err.getMessage.contains("BIGINT src") && err.getMessage.contains("src is int"),
      err.getMessage)
    assert(!Files.exists(root), "create wrote under the root before refusing")
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
      assert(st.readForSrcs(v, Seq(s0)).filter(col("src") === s0).count() == 1L,
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

  test("ObjectStoreCommit claimVersion: exactly one writer wins each " +
       "version number under a concurrent race") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = Files.createTempDirectory("graft-r14-claim").toString
    Files.createDirectories(java.nio.file.Paths.get(root, "manifest"))
    (1 to 20).foreach { v =>
      val wins = Await.result(Future.sequence((1 to 8).map(_ => Future {
        DurableStore.ObjectStoreCommit.claimVersion(root, v)
      })), 30.seconds).count(identity)
      assert(wins == 1, s"v$v: $wins writers claimed the same version")
    }
  }

  test("ObjectStoreCommit casPointer: conditional PUT semantics — the " +
       "stale writer fails loudly, the pointer holds the winner") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = Files.createTempDirectory("graft-r14-cas").toString
    val c = DurableStore.ObjectStoreCommit
    c.casPointer(root, 0, 3) // creation: expect "no pointer yet"
    val results = Await.result(Future.sequence(Seq(4, 5).map(nv => Future {
      try { c.casPointer(root, 3, nv); Right(nv) }
      catch { case e: DurableStore.CommitConflictException => Left(nv) }
    })), 30.seconds)
    val winners = results.collect { case Right(nv) => nv }
    assert(winners.size == 1, s"CAS let both writers through: $results")
    val ptr = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "VERSION"))).trim.toInt
    assert(ptr == winners.head, "pointer does not hold the CAS winner")
    // the loser retries from the new head and wins
    val loser = results.collect { case Left(nv) => nv }.head
    c.casPointer(root, winners.head, loser)
  }

  test("two lock-free store handles race interleaved commits through " +
       "ObjectStoreCommit: zero lost batches, stale builds conflict, " +
       "retries win, manifests never collide") {
    val base = (1L to 12L).map(i => (i, 100L + i % 3))
    val root = Files.createTempDirectory("graft-r14-osc").toString
    DurableStore.create(spark, edges(base: _*), root, numBuckets = 2)
    val stA = new DurableStore(spark, root,
      commit = DurableStore.ObjectStoreCommit, linearHistory = true)
    val stB = new DurableStore(spark, root,
      commit = DurableStore.ObjectStoreCommit, linearHistory = true)
    // a DETERMINISTIC stale build: A reads the head, B commits first,
    // A's commit from the stale head must conflict (not silently drop
    // B's rows), then A's retry from the new head wins
    val vStale = stA.currentVersion
    val vB = stB.append(vStale, edges((50L, 100L)))
    assert(vB > vStale)
    intercept[DurableStore.CommitConflictException] {
      stA.append(vStale, edges((60L, 100L)))
    }
    val vA = stA.append(stA.currentVersion, edges((60L, 100L)))
    assert(vA > vB)
    // interleaved writer pair, each retrying on conflict — both writers'
    // batches all land exactly once
    (0 until 6).foreach { i =>
      val (st, src) = if (i % 2 == 0) (stA, 70L + i) else (stB, 80L + i)
      var committed = false
      while (!committed) {
        try { st.append(st.currentVersion, edges((src, 100L))); committed = true }
        catch { case _: DurableStore.CommitConflictException => () }
      }
    }
    val re = new DurableStore(spark, root)
    val got = re.readLatest().filter(col("src") >= 50L)
      .select("src").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(50L, 60L, 70L, 72L, 74L, 81L, 83L, 85L),
      s"lost or doubled commits: $got")
    // every committed version's manifest exists exactly once (claims
    // made version-named paths single-writer); compact still works
    val vc = re.compact(re.currentVersion)
    assert(re.read(vc).count() == base.size + 8)
    // a NO-OP commit (idempotent batch replay) releases its claim
    // instead of leaking one object per skipped batch
    def claims() = {
      val s2 = java.nio.file.Files.list(
        java.nio.file.Paths.get(root, "manifest"))
      try {
        import scala.jdk.CollectionConverters._
        s2.iterator().asScala.count(_.getFileName.toString.endsWith(".claim"))
      } finally s2.close()
    }
    val stC = new DurableStore(spark, root,
      commit = DurableStore.ObjectStoreCommit)
    val vr = stC.append(stC.currentVersion, edges((90L, 100L)), batchId = 7L)
    val nClaims = claims()
    assert(stC.append(vr, edges((90L, 100L)), batchId = 7L) == vr)
    assert(claims() == nClaims, "no-op replay leaked a version claim")
    // vacuum sweeps claims (incl. manifest-less crash orphans) below the
    // keep horizon and keeps the live ones
    // v1 was created by DurableStore.create (no claim) — planting one
    // simulates a writer that crashed between claim and manifest write
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(root, "manifest", "v1.claim"))
    stC.vacuum(stC.currentVersion)
    val s3 = java.nio.file.Files.list(java.nio.file.Paths.get(root, "manifest"))
    val left = try {
      import scala.jdk.CollectionConverters._
      s3.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".claim")).toSeq
    } finally s3.close()
    assert(!left.contains("v1.claim"), "vacuum left a stale claim behind")
    assert(left.contains(s"v${stC.currentVersion}.claim"),
      "vacuum swept the LIVE version's claim")
  }
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

  test("vertex-side compaction folds only the delta/tombstone-hit " +
       "buckets; untouched buckets keep their files byte-identical") {
    val root = Files.createTempDirectory("graft-r14-vfold").toString
    DurableStore.create(spark, edges((1L, 2L)), root)
    val st = new DurableStore(spark, root)
    val s = spark; import s.implicits._
    val base = (1L to 1000L).map(i => (i, s"n$i", i * 2))
    val v1 = st.setVertexTable(1, base.toDF("id", "name", "score"),
      numBuckets = 4)
    val m1 = st.manifest(v1)
    assert(m1.vbounds.size == 4)
    // a delta confined to the FIRST bucket's id range
    val loMax = m1.vbounds.head
    val v2 = st.upsertVertices(v1, Seq((1L, "upd", 99L)).toDF("id", "name", "score"))
    val v3 = st.compact(v2)
    val m3 = st.manifest(v3)
    assert(m3.vfiles.forall(_.sorted), "fold left deltas behind")
    // untouched buckets (ids above the first bound) kept their exact files
    val before = m1.vfiles.filter(_.srcMin > loMax).map(_.path).toSet
    val after = m3.vfiles.filter(_.srcMin > loMax).map(_.path).toSet
    assert(before.nonEmpty && before == after,
      s"untouched vertex buckets were rewritten: $before vs $after")
    // kept files restamp to the fold's seq (manifest-only) so the full
    // read keeps its single-seq fast path after a partial fold
    assert(m3.vfiles.map(_.seq).distinct.size == 1,
      s"partial fold left mixed seqs: ${m3.vfiles.map(_.seq).distinct}")
    assert(m3.vfiles.map(_.path).toSet != m1.vfiles.map(_.path).toSet)
    // values resolve correctly through the partial fold
    assert(st.readVertices(v3).filter(col("id") === 1L)
      .head().getString(1) == "upd")
    assert(st.readVertices(v3).count() == 1000)
    // a vertex-row tombstone in bucket 3's range: only its bucket (plus
    // none other) rewrites, the row is physically gone post-fold
    val tgt = 999L
    val v4 = st.deleteVertexTombstone(v3, tgt)
    val v5 = st.compact(v4)
    val m5 = st.manifest(v5)
    assert(m5.vtombs.isEmpty && m5.tombs.isEmpty)
    val keepLow = m3.vfiles.filter(_.srcMax < tgt - 300).map(_.path).toSet
    assert(keepLow.subsetOf(m5.vfiles.map(_.path).toSet),
      "tombstone fold rewrote buckets the tombstone cannot touch")
    assert(st.readVertices(v5).count() == 999)
    assert(st.servedVertexRow(v5, tgt).isEmpty)
  }

  test("building the distributed reads launches no Spark job: every file " +
       "is read at the manifest schema") {
    val s = spark; import s.implicits._
    val st = freshMirrored(base: _*)
    var v = st.append(1, edges((2L, 12L), (3L, 11L)))
    v = st.deleteEdgeTombstone(v, 9L, 12L)
    v = st.setVertexTable(v, Seq((1L, 7L), (5L, 8L), (10L, 9L)).toDF("id", "score"))
    v = st.upsertVertices(v, Seq((2L, 3L)).toDF("id", "score"))
    v = st.deleteVertexTombstone(v, 13L)
    val m = st.manifest(v)
    assert(m.files.exists(!_.sorted) && m.mirror.nonEmpty && m.vfiles.exists(!_.sorted))
    assert(m.tombs.exists(!_.vertex) && m.tombs.exists(_.vertex) && m.vtombs.nonEmpty)
    val (frames, jobs) = TestSpark.jobsDuring(spark)(Seq(st.read(v),
      st.readMirror(v), st.readForSrcs(v, Seq(1L)), st.readForDsts(v, Seq(10L)), st.readVertices(v)))
    assert(jobs == 0, s"building the reads launched $jobs Spark jobs")
    frames.foreach(df => assert(!df.isEmpty))
    assert(pairSet(frames.head) ==
      (base.toSet ++ Set((2L, 12L), (3L, 11L)) - ((9L, 12L)) - ((13L, 10L))))
  }

  test("compaction asks Spark only what the manifest cannot tell: a job " +
       "budget, untouched buckets keep their paths on both sides") {
    // 40 rows over 4 buckets per side; every mutation lands in the first
    // bucket of both sides, so the other buckets are routed away by their
    // envelopes. maxBucketRows = 24 neither splits nor merges a bucket.
    val many = (1L to 40L).map(i => (i, 100L + i))
    val st = freshMirrored(many: _*)
    var v = st.append(1, edges((2L, 101L), (3L, 102L)))
    v = st.append(v, edges((4L, 103L)))
    v = st.deleteEdgeTombstone(v, 5L, 105L)
    val m = st.manifest(v)
    assert(m.bounds.head >= 5L && m.mbounds.head >= 105L && m.bounds.size == 4,
      s"fixture: ${m.bounds} / ${m.mbounds}")
    val (readBefore, mirrorBefore) = (rowBag(st.read(v)), rowBag(st.readMirror(v)))
    val (vc, jobs) = TestSpark.jobsDuring(spark)(st.compact(v, maxBucketRows = 24))
    assert(vc > v)
    assert(jobs <= 6, s"compaction launched $jobs Spark jobs")
    val mc = st.manifest(vc)
    assert(mc.files.forall(_.sorted) && mc.tombs.isEmpty)
    assert(mc.bounds == m.bounds && mc.mbounds == m.mbounds)
    def kept(fs: Seq[DurableStore.StoreFile]) = fs.filter(_.bucket > 0).map(_.path).toSet
    assert(kept(m.files).nonEmpty && kept(m.files) == kept(mc.files),
      "untouched primary buckets were rewritten")
    assert(kept(m.mirror).nonEmpty && kept(m.mirror) == kept(mc.mirror),
      "untouched mirror buckets were rewritten")
    assert(rowBag(st.read(vc)) == readBefore)
    assert(rowBag(st.readMirror(vc)) == mirrorBefore)
  }

  test("a sorted rewrite left with no rows commits no file: copy-on-write " +
       "and compaction") {
    val st = freshMirrored(base: _*)
    val v2 = st.deleteEdges(1, lit(true))
    assert(st.manifest(v2).files.isEmpty && st.manifest(v2).mirror.isEmpty)
    assert(st.read(v2).isEmpty && st.readMirror(v2).isEmpty)
    val v4 = st.compact(st.deleteEdgesTombstone(1, base))
    val m4 = st.manifest(v4)
    assert(m4.files.isEmpty && m4.mirror.isEmpty && m4.tombs.isEmpty)
    assert(st.read(v4).isEmpty && st.readMirror(v4).isEmpty)
  }

  // ---- the vertex property side-table and its row tombstones ----

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

  test("deleteVertex tombstones the vertex property row: served absent, " +
       "distributed absent, compact reclaims, upsert resurrects") {
    val (st, v1) = vertexStore("graft-r14-vtomb")
    assert(st.servedVertexRow(v1, 2L).nonEmpty)
    val v2 = st.deleteVertexTombstone(v1, 2L)
    // the deleted vertex's property row is gone on EVERY read path...
    assert(st.servedVertexRow(v2, 2L).isEmpty,
      "served point get still returns the deleted vertex's row")
    assert(st.servedVertexRows(v2, Array(1L, 2L, 3L)).get.map(_.head) ==
      Seq(1L, 3L), "served getMany still returns the deleted row")
    assert(st.readVertices(v2).filter(col("id") === 2L).isEmpty,
      "distributed read still returns the deleted row")
    // ...edges touching it are gone too (the pre-existing P5 behavior)...
    assert(st.read(v2).filter(col("src") === 2L || col("dst") === 2L).isEmpty)
    // ...and the PRE-delete version is untouched (copy-on-write)
    assert(st.servedVertexRow(v1, 2L).nonEmpty)
    // compact physically reclaims the row and both tombstone kinds
    val v3 = st.compact(v2)
    val m3 = new DurableStore(spark, st.root).manifest(v3)
    assert(m3.tombs.isEmpty && m3.vtombs.isEmpty, "compact left tombstones")
    assert(st.servedVertexRow(v3, 2L).isEmpty, "compact resurrected the row")
    assert(st.readVertices(v3).filter(col("id") === 2L).isEmpty)
    // a LATER upsert out-sequences the tombstone and resurrects the id
    val v4 = st.upsertVertices(st.deleteVertexTombstone(v1, 2L),
      props((2L, "back", 99L)))
    assert(st.servedVertexRow(v4, 2L).get == Seq(2L, "back", 99L),
      "upsert after delete did not resurrect the row")
    // first-touch point set on the compacted branch re-creates from the
    // auto-fill defaults, never the dead values
    val v5 = st.setVertexProp(v3, 2L, "score", lit(7L))
    assert(st.servedVertexRow(v5, 2L).get == Seq(2L, "auto", 7L),
      "first-touch after delete leaked stale values instead of defaults")
  }

  test("vertex-row tombstone survives a reopen (manifest round-trip) and " +
       "pressures the auto-compaction hook") {
    val (st, v1) = vertexStore("graft-r14-vtomb2")
    val v2 = st.deleteVertexTombstone(v1, 3L)
    val re = new DurableStore(spark, st.root)
    assert(re.manifest(v2).vtombs.map(_.rows).sum == 1)
    assert(re.servedVertexRow(v2, 3L).isEmpty)
    // the pressure check counts vertex-row tombstones
    val low = new DurableStore(spark, st.root)
    val v3 = low.compactIfPressured(v2, tombRowTrigger = 0)
    assert(v3 > v2, "vtomb rows did not pressure compactIfPressured")
    assert(low.manifest(v3).vtombs.isEmpty)
  }

  /** `f` over a parquet-mr reader of the file at `path`. */
  private def withReader[A](path: String)(f: org.apache.parquet.hadoop.ParquetFileReader => A): A = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf()))
    try f(r) finally r.close()
  }

  /** Per row group of the parquet file at `path`: the row count of each
    * page of column `c`, read from its offset index. */
  private def pageRowCounts(path: String, c: String): Seq[Seq[Long]] = withReader(path) { r =>
    import scala.jdk.CollectionConverters._
    r.getFooter.getBlocks.asScala.toSeq.map { b =>
      val oi = r.readOffsetIndex(b.getColumns.asScala.find(_.getPath.toDotString == c).get)
      (0 until oi.getPageCount).map(j =>
        oi.getLastRowIndex(j, b.getRowCount) - oi.getFirstRowIndex(j) + 1)
    }
  }

  /** `n` (src, dst, w) edges over even ids below 2 * `ids`, seeded. */
  private def spreadEdges(n: Int, ids: Int, seed: Long) = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((2L * rnd.nextInt(ids), 2L * rnd.nextInt(ids))).toDF("src", "dst")
      .select(col("src"), col("dst"), (col("src") * 10 + col("dst")).as("w"))
  }

  test("every sorted file is written in pages of PageRows rows: create, " +
       "buildInEdgeIndex, setVertexTable and compact") {
    val s = spark; import s.implicits._
    val st = DurableStore.create(spark, spreadEdges(24000, 4000, 7L),
      Files.createTempDirectory("graft-pages").toString, numBuckets = 2)
    val v2 = st.buildInEdgeIndex(1, numBuckets = 2)
    val v3 = st.setVertexTable(v2, (0L until 9000L).map(i => (i, i * 3)).toDF("id", "score"),
      numBuckets = 2)
    val v4 = st.append(v3, edges((2L, 4L), (6L, 8L), (10L, 12L)))
    val v5 = st.compact(v4)
    // every sorted file of every version, each with its key column
    val files = (1 to v5).map(st.manifest).flatMap { m =>
      m.files.filter(_.sorted).map(_.path -> "src") ++ m.mirror.map(_.path -> "dst") ++
        m.vfiles.filter(_.sorted).map(_.path -> "id")
    }.distinct
    val compacted = st.manifest(v5).files.map(_.path).toSet -- st.manifest(v4).files.map(_.path)
    assert(compacted.nonEmpty, "compact rewrote no file")
    val groups = files.flatMap { case (p, c) => pageRowCounts(p, c).map(p -> _) }
    groups.foreach { case (p, pages) =>
      assert(pages.init.forall(_ == DurableStore.PageRows) &&
        pages.last > 0 && pages.last <= DurableStore.PageRows, s"$p pages $pages")
    }
    // not vacuous: primary, mirror and compacted files span several pages
    assert(groups.exists { case (p, g) => compacted(p) && g.size >= 3 })
    assert(groups.count(_._2.size >= 3) >= 4, groups.map(_._2.size))
  }

  test("a store written with no column index or statistics serves equal answers") {
    import scala.jdk.CollectionConverters._
    val e = spreadEdges(20000, 3000, 11L)
    def store(prefix: String) = DurableStore.create(spark, e,
      Files.createTempDirectory(prefix).toString, numBuckets = 2, withInEdgeIndex = true)
    val indexed = store("graft-ci")
    val key = "parquet.column.statistics.enabled"
    spark.conf.set(key, "false")
    val bare = try store("graft-noci") finally spark.conf.unset(key)
    val m = bare.manifest(1)
    (m.files ++ m.mirror).foreach(f => withReader(f.path) { r =>
      r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).foreach { c =>
        assert(r.readColumnIndex(c) == null, s"${f.path} ${c.getPath} has a column index")
      }
    })
    val rnd = new scala.util.Random(3L)
    Seq.fill(12)(Array.fill(1 + rnd.nextInt(6))(rnd.nextInt(6200).toLong - 100)).foreach { ks =>
      def answers(st: DurableStore) = (
        st.servedOutRows(1, ks).get.map(TestSpark.typedKey).sorted,
        st.servedInRows(1, ks).get.map(TestSpark.typedKey).sorted,
        st.servedNeighbors(1, ks).get.sorted.toSeq,
        st.servedDegrees(1, ks).get,
        st.pointReadLocal(1, ks.head).map(TestSpark.typedKey).sorted)
      assert(answers(bare) == answers(indexed), ks.mkString(","))
    }
  }

  test("a local point batch commits one part file; a distributed batch " +
       "still writes in parallel") {
    import scala.jdk.CollectionConverters._
    val st = fresh(base: _*)
    // the part files of the one delta commit `v` added over `from`
    def parts(from: Int, v: Int): Int = {
      val d = st.manifest(v).files.filterNot(f => st.manifest(from).files.exists(_.path == f.path))
      assert(d.size == 1 && !d.head.sorted, s"expected one delta, got $d")
      val s = Files.list(java.nio.file.Paths.get(d.head.path))
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    val local = edges((0L until 16L).map(i => (100L + i, 200L + i)): _*)
    assert(local.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val v2 = st.append(1, local)
    assert(parts(1, v2) == 1, "16-row local append")
    val v3 = st.updateEdgeDelta(v2, 5L, 10L, "w", lit(77L))
    assert(parts(v2, v3) == 1, "updateEdgeDelta")
    val spread = spark.range(0, 64, 1, 4).select(col("id").as("src"),
      (col("id") + 1).as("dst"), lit(0).as("etype"), (col("id") * 10).as("w"))
    val v4 = st.append(v3, spread)
    assert(parts(v3, v4) >= 2, "4-partition distributed append")
    assert(st.read(v4).count() == base.size + 16 + 64)
  }
}
