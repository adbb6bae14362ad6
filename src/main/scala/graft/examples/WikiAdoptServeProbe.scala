package graft.examples

import graft._
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Millisecond serving AT THE BILLION-EDGE ENVELOPE, off an ADOPTED
  * store: takes the 1B-edge parquet a [[WikiEnvelopeProbe]] run left
  * behind (its `edges` dir — 1,696 foreign-written src-sorted files),
  * indexes it IN PLACE with [[DurableStore.adopt]] (metadata-only: the
  * manifest is built from the file footers, zero rows moved), and runs
  * the zero-job served-FoF latency loop against it — the reference's
  * native serving shape (mmap shard lookups, QueryShard.java:207-253)
  * at the reference's headline scale ("billions of edges",
  * README.md:6), measured as medians + a concurrent-client soak.
  *
  * The dst-sorted mirror is one shuffled write of the same rows (the
  * in-edge INDEX cost any indexing scheme pays — FastSharder pays it
  * at shard-write time); adoption itself is the part that costs
  * metadata only, and its wall time is printed separately to make that
  * claim checkable.
  *
  * Usage: SPARK_DRIVER_MEM=96g runMain graft.examples.WikiAdoptServeProbe \
  *          <wiki-store-dir> [iters=30] [clients=8]
  */
object WikiAdoptServeProbe {
  def main(args: Array[String]): Unit = {
    val store = args.headOption.getOrElse(
      sys.error("usage: WikiAdoptServeProbe <wiki-store-dir> [iters] [clients]"))
    val iters = args.drop(1).headOption.map(_.toInt).getOrElse(30)
    val clients = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "128")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val edgesDir = s"$store/edges"
    // in-edge mirror with the FULL schema (adopt requires it: the
    // mirror serves full-row in-edge reads, not just endpoints) — one
    // shuffled dst-sorted write, gated on _SUCCESS for re-runs
    val mirrorDir = s"$store/amedges"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(mirrorDir, "_SUCCESS"))) {
      val t0 = System.nanoTime()
      spark.read.parquet(edgesDir)
        .repartitionByRange(128, col("dst"))
        .sortWithinPartitions("dst", "src")
        .write.mode(SaveMode.Overwrite).parquet(mirrorDir)
      println(f"[adopt] build_mirror_full  ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    val t0 = System.nanoTime()
    val st = DurableStore.adopt(spark, edgesDir,
      java.nio.file.Files.createTempDirectory("graft-wiki-adopted").toString,
      mirrorDir = Some(mirrorDir), numBuckets = 32)
    val m = st.manifest(1)
    println(f"[adopt] adopt_metadata_only ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
      f"   (${m.files.size} primary + ${m.mirror.size} mirror files, " +
      f"${m.files.map(_.rows).sum} rows)")

    val v0 = st.minEndpoint(1).get
    val warm = st.servedFofRows(1, v0)
    require(warm.exists(_.nonEmpty), "adopted store served an empty FoF")

    def medMs(ns: Seq[Long]): Double = { val s = ns.sorted; s(s.size / 2) / 1e6 }
    def p99Ms(ns: Seq[Long]): Double = {
      val s = ns.sorted; s(math.min(s.size - 1, (s.size * 99) / 100)) / 1e6
    }
    val (tRows, tDf) = (Array.ofDim[Long](iters), Array.ofDim[Long](iters))
    var checksum = 0
    for (i <- 0 until iters) {
      var t = System.nanoTime()
      checksum += st.servedFofRows(1, v0).map(_.length).getOrElse(0)
      tRows(i) = System.nanoTime() - t
      t = System.nanoTime()
      checksum += st.servedFof(1, v0).collect().length
      tDf(i) = System.nanoTime() - t
    }
    require(checksum > 0)
    println(f"[adopt] fof_rows_ms  ${medMs(tRows.toSeq)}%8.2f ms  (p99 ${p99Ms(tRows.toSeq)}%.2f)")
    println(f"[adopt] fof_df_ms    ${medMs(tDf.toSeq)}%8.2f ms  (p99 ${p99Ms(tDf.toSeq)}%.2f)")

    // concurrent soak over REAL vertices (sampled once — setup, not
    // serving): every client call is zero Spark jobs
    val v0s = st.read(1).select("src").distinct().limit(64)
      .collect().map(_.getLong(0))
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val bad = new java.util.concurrent.atomic.AtomicInteger()
    val perClient = 50
    val w0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = 0
        while (i < perClient) {
          val v = v0s((c * perClient + i) % v0s.length)
          val s0 = System.nanoTime()
          val n = st.servedFofRows(1, v).map(_.length).getOrElse(-1)
          lat.add(System.nanoTime() - s0)
          if (n < 0) bad.incrementAndGet()
          i += 1
        }
      }, s"adopt-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - w0) / 1e9
    val all = {
      val b = Seq.newBuilder[Long]
      val it = lat.iterator(); while (it.hasNext) b += it.next().longValue()
      b.result()
    }
    println(f"[adopt] concurrent $clients%d x $perClient: " +
      f"${clients * perClient / wallS}%.1f qps, median ${medMs(all)}%.1f ms, " +
      f"p99 ${p99Ms(all)}%.1f ms, fellback=${bad.get()}")

    // ---- online mutation at 1B: the reference's core claim is queries
    // DURING updates (README.md:226-229). Append a micro-batch that
    // extends the served vertex's 2-hop set, require read-your-writes
    // THROUGH THE SERVING PATH (the delta must ride both hops), then a
    // copy-on-write point delete (rewrites the covering multi-million-
    // row primary + mirror files into a new version) and require the id
    // gone — with the PRIOR version still serving it (time travel). ----
    // correctness reads use an uncapped top-k (the fresh 2-hop id has
    // path count 1 and never cracks the top 20); timed reads keep the
    // serving default
    val bigK = 1 << 20
    val before = st.servedFofRows(1, v0, topK = bigK).get
    val mid = {
      // v0's first out-neighbor — appending (mid, fresh) grows the FoF
      val hop1 = st.pointReadLocal(1, v0)
      require(hop1.nonEmpty, "query vertex has no out-edges")
      hop1.head(1).asInstanceOf[Long]
    }
    val fresh = m.files.map(_.srcMax).max + 1000000L
    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      st.manifest(1).schemaDDL)
    val batch = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row.fromSeq(
        sch.fields.map { f =>
          f.name match {
            case "src" => mid
            case "dst" => fresh
            case _ => f.dataType match {
              case org.apache.spark.sql.types.LongType => 0L
              case org.apache.spark.sql.types.IntegerType => 0
              case org.apache.spark.sql.types.DoubleType => 0.0
              case org.apache.spark.sql.types.FloatType => 0.0f
              case _ => null
            }
          }
        }.toSeq)), sch)
    var t1 = System.nanoTime()
    val v2 = st.append(1, batch)
    println(f"[adopt] append_1row_commit ${(System.nanoTime() - t1) / 1e9}%8.2f s   (v$v2)")
    t1 = System.nanoTime()
    st.servedFofRows(v2, v0).get
    println(f"[adopt] fof_rows_after_append ${(System.nanoTime() - t1) / 1e6}%6.1f ms")
    val after = st.servedFofRows(v2, v0, topK = bigK).get
    require(after.exists(_._1 == fresh),
      s"appended 2-hop id $fresh not served (read-your-writes broken)")
    require(before.forall { case (id, _) => id != fresh })
    // delete `mid` itself — an id INSIDE the adopted ranges. r11 measured
    // the copy-on-write form at 19.0 s here (it rewrote the covering
    // multi-million-row primary + mirror files); the TOMBSTONE form
    // (VERDICT r11 next #1) commits one driver-written tombstone file —
    // the point delete joins the append latency class, and the serving
    // paths exclude the vertex record-level from the cached driver index.
    // Pass `cow` to run the old copy-on-write leg for comparison.
    t1 = System.nanoTime()
    val v3 =
      if (args.contains("cow")) st.deleteVertex(v2, mid)
      else st.deleteVertexTombstone(v2, mid)
    val delLabel = if (args.contains("cow")) "delete_vertex_cow " else "delete_vertex_tomb"
    println(f"[adopt] $delLabel  ${(System.nanoTime() - t1) / 1e9}%8.2f s   (v$v3)")
    t1 = System.nanoTime()
    st.servedFofRows(v3, v0).get
    println(f"[adopt] fof_rows_after_delete ${(System.nanoTime() - t1) / 1e6}%6.1f ms")
    val afterDel = st.servedFofRows(v3, v0, topK = bigK).get
    require(!afterDel.exists(_._1 == fresh),
      "2-hop id reachable only through the deleted vertex still served")
    // old versions stay readable (time travel): v2 still serves `fresh`
    require(st.servedFofRows(v2, v0, topK = bigK).get.exists(_._1 == fresh),
      "time travel broken: v2 lost the appended edge after v3's delete")

    // ---- P3 at 1B: point UPDATE as tombstone + re-append in one
    // commit (updateEdgeDelta) — the append class, where the COW
    // updateEdges would rewrite the covering multi-million-row files ----
    val upDst = {
      val hop1 = st.pointReadLocal(v3, v0)
      require(hop1.nonEmpty, "query vertex lost its out-edges")
      hop1.head(1).asInstanceOf[Long]
    }
    t1 = System.nanoTime()
    val v3u = st.updateEdgeDelta(v3, v0, upDst, "weight", lit(0.5))
    println(f"[adopt] update_edge_delta   ${(System.nanoTime() - t1) / 1e9}%8.2f s   (v$v3u)")
    t1 = System.nanoTime()
    val wIdx = org.apache.spark.sql.types.StructType.fromDDL(
      st.manifest(v3u).schemaDDL).fieldNames.indexOf("weight")
    val upRows = st.pointReadLocal(v3u, v0).filter(_(1) == upDst)
    println(f"[adopt] point_read_after_update ${(System.nanoTime() - t1) / 1e6}%6.1f ms")
    require(upRows.nonEmpty && upRows.forall(_(wIdx) == 0.5),
      "updated weight not served")
    require(st.pointReadLocal(v3, v0).filter(_(1) == upDst)
      .exists(_(wIdx) != 0.5), "time travel broken: v3 shows the update")

    // ---- SERVED TRAVERSAL at 1B (VERDICT r11 next #3): bidirectional
    // BFS entirely on the driver — frontier hops as keyed served reads
    // against the adopted primary + mirror (the servedFof mechanism
    // generalized one level, reference Queries.scala:107-194). Three
    // legs: a 2-hop meet, a same-copy far vertex, and a CROSS-COPY pair
    // (the fixture's copies are disjoint, so the correct answer is
    // "no path" after both spheres exhaust their copy). ----
    val twoHop = afterDel.head._1
    for ((label, target) <- Seq(
        ("bfs_2hop", twoHop),
        ("bfs_far_same_copy", mid + 1),
        ("bfs_cross_copy_unreach", v0 + 10000000L))) {
      t1 = System.nanoTime()
      val r = st.servedShortestPath(v3, v0, target, maxDepth = 4)
      val ms = (System.nanoTime() - t1) / 1e6
      println(f"[adopt] $label%-24s $ms%8.1f ms   -> ${
        r.map(_.map(_.toString).getOrElse("unreachable")).getOrElse("REFUSED")}")
      require(r.isDefined, s"served BFS refused at 1B ($label)")
      if (label == "bfs_2hop") require(r.get.contains(2L), s"2-hop dist ${r.get}")
      if (label == "bfs_cross_copy_unreach") require(r.get.isEmpty,
        "cross-copy path found on a disjoint-copy fixture")
    }

    // ---- READ-WHILE-COMPACT soak (VERDICT r11 next #6): compact v3 —
    // the first compaction this adopted store has seen, with a live
    // delta AND a live tombstone to reclaim — while concurrent clients
    // keep serving v3 (version-pinned reads: compaction writes NEW
    // files, never touches v3's). qps/p99 during the window is the
    // claim; post-compact the new version serves the same answer with
    // the tombstone physically applied. ----
    val stopSoak = new java.util.concurrent.atomic.AtomicBoolean(false)
    val soakLat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val soakBad = new java.util.concurrent.atomic.AtomicInteger()
    val expect3 = st.servedFofRows(v3, v0).get
    val soakers = (0 until 4).map { c =>
      val t = new Thread(() => {
        while (!stopSoak.get()) {
          val s0 = System.nanoTime()
          val r = st.servedFofRows(v3, v0)
          soakLat.add(System.nanoTime() - s0)
          if (!r.contains(expect3)) soakBad.incrementAndGet()
        }
      }, s"soak-$c")
      t.start(); t
    }
    t1 = System.nanoTime()
    val v4 = st.compact(v3)
    val compactS = (System.nanoTime() - t1) / 1e9
    stopSoak.set(true)
    soakers.foreach(_.join())
    val soak = {
      val b = Seq.newBuilder[Long]
      val it = soakLat.iterator(); while (it.hasNext) b += it.next().longValue()
      b.result()
    }
    println(f"[adopt] compact_reclaim     $compactS%8.2f s   (v$v4, " +
      f"${soak.size / compactS}%.1f qps during compact, " +
      f"median ${medMs(soak)}%.1f ms, p99 ${p99Ms(soak)}%.1f ms, " +
      f"mismatches=${soakBad.get()})")
    require(soakBad.get() == 0, "serving diverged during compaction")
    val m4 = st.manifest(v4)
    require(m4.tombs.isEmpty, "compaction left tombstones behind")
    require(st.servedFofRows(v4, v0, topK = bigK).get ==
      st.servedFofRows(v3, v0, topK = bigK).get,
      "compaction changed the served answer")

    // ---- DURABLE VERTEX COLUMNS at 1B (VERDICT r12 missing #2): attach
    // a property side-table over every distinct src (one id-sorted bulk
    // write), then the ONLINE cycle the reference runs on its mmap
    // columns (Column.scala:48-78): point SET in the append class,
    // zero-job served point GET + getMany, read-your-writes, time
    // travel. ----
    t1 = System.nanoTime()
    val vprops = st.read(v4).select(col("src").as("id")).distinct()
      .withColumn("label", lit("v"))
      .withColumn("score", pmod(col("id"), lit(100L)))
    val vv1 = st.setVertexTable(v4, vprops,
      defaults = Map("label" -> "'auto'", "score" -> "0"))
    val nVerts = st.manifest(vv1).vfiles.map(_.rows).sum
    println(f"[adopt] vertex_table_bulk   ${(System.nanoTime() - t1) / 1e9}%8.2f s" +
      f"   ($nVerts%d vertices, v$vv1)")
    t1 = System.nanoTime()
    val vv2 = st.setVertexProp(vv1, v0, "score", lit(4242L))
    println(f"[adopt] vertex_point_set    ${(System.nanoTime() - t1) / 1e9}%8.2f s   (v$vv2)")
    t1 = System.nanoTime()
    val got = st.servedVertexRow(vv2, v0).get
    println(f"[adopt] vertex_point_get    ${(System.nanoTime() - t1) / 1e6}%6.1f ms   -> $got")
    require(got(2) == 4242L, s"updated vertex score not served: $got")
    require(st.servedVertexRow(vv1, v0).get.apply(2) != 4242L,
      "time travel broken: vv1 shows the vertex update")
    // first-touch auto-fill: an id with no row materializes the defaults
    val freshVid = m.files.map(_.srcMax).max + 2000000L
    t1 = System.nanoTime()
    val vv3 = st.setVertexProp(vv2, freshVid, "score", lit(7L))
    println(f"[adopt] vertex_first_touch  ${(System.nanoTime() - t1) / 1e9}%8.2f s   (v$vv3)")
    require(st.servedVertexRow(vv3, freshVid).get == Seq(freshVid, "auto", 7L))
    // served getMany over the sampled real ids (minus `mid`, whose rows
    // the earlier vertex-delete leg physically reclaimed)
    val manyIds = v0s.filter(_ != mid)
    t1 = System.nanoTime()
    val many = st.servedVertexRows(vv3, manyIds).get
    println(f"[adopt] vertex_get_many_64  ${(System.nanoTime() - t1) / 1e6}%6.1f ms" +
      f"   (${many.size} rows)")
    require(many.size == manyIds.distinct.length, "getMany missed vertices")

    // ---- SERVED DEGREES at 1B (r13): the reference's O(1) degree
    // column (GraphChiDatabase.scala:1759-1833) as a zero-job counted
    // read over the routed primary + mirror files — transactional with
    // the tombstone/delta history this probe built up ----
    t1 = System.nanoTime()
    val deg1 = st.servedDegrees(vv3, Array(v0)).get.head
    println(f"[adopt] degrees_1           ${(System.nanoTime() - t1) / 1e6}%6.1f ms   -> $deg1")
    t1 = System.nanoTime()
    val degs = st.servedDegrees(vv3, manyIds).get
    println(f"[adopt] degrees_64          ${(System.nanoTime() - t1) / 1e6}%6.1f ms" +
      f"   (${degs.size} ids)")
    val expDeg = (st.read(vv3).filter(col("src") === v0).count(),
      st.read(vv3).filter(col("dst") === v0).count())
    require((deg1._2, deg1._3) == expDeg,
      s"served degree $deg1 != distributed $expDeg")

    // ---- AUTO-COMPACTION UNDER PRESSURE at 1B (VERDICT r12 next #1):
    // reopen with autoCompact = true and a deliberately low tombstone
    // trigger, drive CDC delete batches — NO manual compact — while
    // serving clients hammer the zero-job FoF. The pressure hook must
    // compact on its own (extra version), live tombstones must stay at
    // or under trigger + one batch, and no serve may refuse. Deletes
    // come from one contiguous src range, so the triggered compaction
    // rewrites the covering buckets, not the store. ----
    val ast = new DurableStore(spark, st.root, autoCompact = true,
      autoTombRowTrigger = 2000)
    val delSrcs = st.read(vv3)
      .filter(col("src") > v0 + 100 && col("src") <= v0 + 220)
      .select("src", "dst").limit(3000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.distinct
    require(delSrcs.size >= 2400, s"fixture too sparse: ${delSrcs.size} pairs")
    val stopAc = new java.util.concurrent.atomic.AtomicBoolean(false)
    val acLat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val acRefused = new java.util.concurrent.atomic.AtomicInteger()
    val acClients = (0 until 4).map { c =>
      val t = new Thread(() => {
        while (!stopAc.get()) {
          val s0 = System.nanoTime()
          val r = ast.servedFofRows(ast.currentVersion, v0)
          acLat.add(System.nanoTime() - s0)
          if (r.isEmpty) acRefused.incrementAndGet()
        }
      }, s"ac-client-$c")
      t.start(); t
    }
    val batches = delSrcs.grouped(1200).toSeq.take(2)
    t1 = System.nanoTime()
    var acv = ast.currentVersion
    val vBeforeAc = acv
    batches.zipWithIndex.foreach { case (dels, i) =>
      val b0 = System.nanoTime()
      acv = ast.applyCdc(acv, st.read(vv3).limit(0), dels, batchId = 100L + i)
      val live = ast.manifest(acv).tombs.map(_.rows).sum
      println(f"[adopt] cdc_batch_${i}%d        ${(System.nanoTime() - b0) / 1e9}%8.2f s" +
        f"   (v$acv, ${dels.size} deletes, live tombstone rows $live)")
      require(live <= 2000 + dels.size,
        s"pressure hook let tombstones accumulate: $live")
    }
    val acWallS = (System.nanoTime() - t1) / 1e9
    stopAc.set(true)
    acClients.foreach(_.join())
    val acAll = {
      val b = Seq.newBuilder[Long]
      val it = acLat.iterator(); while (it.hasNext) b += it.next().longValue()
      b.result()
    }
    // the hook committed its own compaction: more versions than batches
    require(acv > vBeforeAc + batches.size,
      s"auto-compaction never triggered (v$vBeforeAc -> v$acv over ${batches.size} batches)")
    require(acRefused.get() == 0,
      s"${acRefused.get()} serves refused under delete pressure")
    println(f"[adopt] auto_compact_window $acWallS%8.2f s   " +
      f"(v$vBeforeAc -> v$acv, ${acAll.size / acWallS}%.1f qps during, " +
      f"median ${medMs(acAll)}%.1f ms, p99 ${p99Ms(acAll)}%.1f ms, refused=0)")
    spark.stop()
  }
}
